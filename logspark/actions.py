"""Matomo Actions reports the server derives from routed hits: outlink
domains and site-search keywords.

The reference pipeline routes hits to per-sink tables (outlinks among
them — /root/reference based import_logs hands `--enable-http-redirects`
style redirect hits to Matomo as outlink actions) and stops; the Matomo
server then aggregates outlinks BY TARGET DOMAIN (Actions > Outlinks)
and search hits BY KEYWORD (Actions > Site Search, keyword pulled from
the page URL's search query parameter, config `datatable_row_limit`
taxonomy). These are those aggregations, Spark-native over the routed
corpus.

Scale shape: both are single hash aggregations over a regexp_extract
column — narrow until the final corpus-cardinality-bounded shuffle
(distinct outlink domains / distinct keywords are tiny). The regex runs
JVM-side inside whole-stage codegen; no UDF, no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# host part of the to= redirect target: scheme-tolerant, stops at the
# first '/', '?', '&' or end — mirrors Matomo's PageUrl normalization
OUTLINK_HOST_RE = r"^to=https?://([^/?&]+)"

# Matomo's default site-search query parameters (core config
# `datatable_default_search_params`: q, query, s, search, searchword, k,
# keyword) — first match wins, like Matomo's SiteSearch detection.
SEARCH_PARAMS = ["q", "query", "s", "search", "searchword", "k", "keyword"]

# Matomo campaign-detection parameters (Referrers > Campaigns;
# MarketingCampaignsReporting plugin defaults) in priority order:
# Matomo's own pk_* names beat the mtm_* aliases beat Google's utm_*.
# The `(?:^|&)` anchor in first_param_expr keeps `utm_source` from ever
# matching the site-search `s=` regex and vice versa.
CAMPAIGN_NAME_PARAMS = ["pk_campaign", "mtm_campaign", "utm_campaign"]
CAMPAIGN_SOURCE_PARAMS = ["pk_source", "mtm_source", "utm_source"]
CAMPAIGN_MEDIUM_PARAMS = ["pk_medium", "mtm_medium", "utm_medium"]

# rows in the trending-pages report (the oracle's LIMIT 10)
TRENDING_TOP_K = 10


def first_param_expr(params: list) -> F.Column:
    """First non-empty value among ``params`` in the raw ``query`` string —
    one anchored regex per name, `(?:^|&)name=([^&]*)`, coalesced in
    priority order; NULL when no param matches or the value is empty
    (all JVM-side in codegen)."""
    vals = [
        F.nullif(
            F.regexp_extract("query", rf"(?:^|&){p}=([^&]*)", 1), F.lit("")
        )
        for p in params
    ]
    return F.coalesce(*vals)


def outlink_domains(routed: DataFrame) -> DataFrame:
    """(domain, n_hits, n_ips) over hits routed to the outlink sink."""
    out = routed.filter(
        F.col("parsed_ok") & (F.col("route") == "outlink")
    ).withColumn("domain", F.regexp_extract("query", OUTLINK_HOST_RE, 1))
    return (
        out.filter(F.col("domain") != "")
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("ip").alias("n_ips"),
        )
    )


def site_search_keywords(routed: DataFrame) -> DataFrame:
    """(keyword, n_searches, n_searchers) — Matomo Site Search report.

    A hit counts as a search when any configured search param carries a
    non-empty value; searchers are distinct visitor IPs (log-replay
    visitor key, see visits.py).
    """
    s = routed.filter(F.col("parsed_ok")).withColumn(
        "keyword", first_param_expr(SEARCH_PARAMS)
    )
    return (
        s.filter(F.col("keyword").isNotNull())
        .groupBy("keyword")
        .agg(
            F.count("*").alias("n_searches"),
            F.countDistinct("ip").alias("n_searchers"),
        )
    )


def trending_paths(routed: DataFrame) -> DataFrame:
    """Day-over-day trending pages: the ``TRENDING_TOP_K`` stems with the
    largest absolute hit growth vs their previous active day.

    Matomo's UI sorts the Pages report by today's hits; growth ranking is
    the operations view (what broke out / what died). Per (stem, day)
    hit counts, then a lag window per stem ordered by day (missing
    previous day reads 0 — a page's first day trends by its full count),
    then global top-k by (growth, day, stem) with a deterministic
    tie-break.

    Shape at scale: one corpus-sized hash agg to (stem, day) — after
    which cardinality is stems x days, orders of magnitude smaller —
    then a window partitioned by stem over that reduced table, then
    TakeOrderedAndProject (never a global sort of the full table). Day
    is the parsed day-of-month (TZ-free integer)."""
    from pyspark.sql import Window

    d = (
        routed.filter(F.col("parsed_ok") & F.col("stem").isNotNull())
        .groupBy("stem", F.dayofmonth("ts").alias("day"))
        .agg(F.count("*").alias("n_hits"))
    )
    w = Window.partitionBy("stem").orderBy("day")
    g = d.select(
        "stem",
        "day",
        "n_hits",
        F.lag("n_hits", 1, 0).over(w).alias("prev_hits"),
    ).withColumn("growth", F.col("n_hits") - F.col("prev_hits"))
    return g.orderBy(
        F.desc("growth"), F.asc("day"), F.asc("stem")
    ).limit(TRENDING_TOP_K)
