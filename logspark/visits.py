"""Visit reconstruction: sessionize routed hits into Matomo-model visits.

Matomo's tracker groups a visitor's hits into a *visit* that ends after 30
minutes of inactivity (the `visit_standard_length` setting); import_logs
replays log lines into that model and the reports count visits, actions
per visit, and bounces (single-action visits). The reference pipeline
stops at per-sink hit counts and delegates the visit model to the Matomo
server — this module supplies the Spark-native visit layer so the same
reports come straight off the routed corpus.

Shape & scale:
  * visitor key = (ip, user_agent) — Matomo's config-id fallback when no
    cookie is present, which is always the case for log replay.
  * one shuffle on the visitor key; within each key the inactivity split
    is a lag + running-sum window (no join, no self-merge). At 10^12 rows
    the partition count follows the visitor-key cardinality, which is
    corpus-sized; a single hot visitor (NAT egress, a scraper) bounds the
    partition at that visitor's hit count — if that ever dominates, split
    the key by day first (visits never span days in the report anyway and
    a >30-min gap at the day boundary is the overwhelmingly common case).
  * the visit grain is ONE table, ``visit_table`` — the analog of Matomo's
    ``log_visit``: one row per (ip, ua_k, visit_id) with the action count,
    first/last action second and the day the visit opened. It groups on a
    superset of the window's partition key, so it reuses that exchange.
    Every visit-grain report is a select + group-by over it; column
    pruning drops the aggregates a report does not read.
  * time is integer seconds-within-month derived from the parsed
    timestamp FIELDS (TZ-free: identical wall-clock math in any engine;
    never an instant comparison through a session zone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

VISIT_GAP_S = 30 * 60  # Matomo visit_standard_length


def _tsec() -> F.Column:
    """Seconds since the start of the month, from parsed ts fields."""
    return (
        (F.dayofmonth("ts") * 24 + F.hour("ts")) * 60 + F.minute("ts")
    ) * 60 + F.second("ts")


def sessionize_hits(df: DataFrame) -> DataFrame:
    """Assign ``visit_id`` (per visitor key) to parsed hits.

    df needs (ip, user_agent, ts, doc_id). Ties on the same second are
    broken by doc_id so the running sum is a total order — without that,
    two engines can disagree on which tied row opens the visit.
    """
    df = df.withColumn("ua_k", F.coalesce("user_agent", F.lit(""))).withColumn(
        "tsec", _tsec()
    )
    w = Window.partitionBy("ip", "ua_k").orderBy("tsec", "doc_id")
    is_new = (
        F.when(F.lag("tsec").over(w).isNull(), 1)
        .when(F.col("tsec") - F.lag("tsec").over(w) > VISIT_GAP_S, 1)
        .otherwise(0)
    )
    return df.withColumn("is_new", is_new).withColumn(
        "visit_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def _sessions(df: DataFrame, sessionized: bool) -> DataFrame:
    """Reports share one sessionization pass when the caller has already
    materialized it (``sessionized=True`` — the contract harness
    checkpoints sessionize_hits once for the whole visit-report family;
    at 10^12 rows that is ONE visitor-key shuffle instead of eight)."""
    return df if sessionized else sessionize_hits(df)


def visit_table(s: DataFrame, *extra: F.Column) -> DataFrame:
    """One row per visit of the sessionized hits ``s``: the visitor key and
    visit_id, ``n_actions``, ``first_tsec``/``last_tsec`` (seconds within
    the month) and ``dom``, the day of the FIRST hit (Matomo attributes a
    visit to the day it opened). ``extra`` appends aggregates over columns
    only some inputs carry (entry/exit stems, campaign attribution)."""
    return s.groupBy("ip", "ua_k", "visit_id").agg(
        F.count("*").alias("n_actions"),
        F.min("tsec").alias("first_tsec"),
        F.max("tsec").alias("last_tsec"),
        *extra,
    ).withColumn("dom", F.floor(F.col("first_tsec") / 86400).cast("int"))


def _bucket(col: F.Column, buckets: list, top: str) -> F.Column:
    """Label of the first (upper bound, label) bucket ``col`` fits under,
    ``top`` above the last — a CASE expression, not a join, so nothing is
    broadcast and the bucket table is versioned with the code the way
    Matomo versions its config ranges."""
    (hi, label), *rest = buckets
    c = F.when(col <= hi, F.lit(label))
    for hi, label in rest:
        c = c.when(col <= hi, F.lit(label))
    return c.otherwise(F.lit(top))


def visit_daily_stats(df: DataFrame, sessionized: bool = False) -> DataFrame:
    """Per day-of-month visit report: visits, bounces, actions — visits
    rolled up by the day they opened; map-side-combinable, no window after
    the sessionization."""
    return (
        visit_table(_sessions(df, sessionized))
        .groupBy("dom")
        .agg(
            F.count("*").alias("n_visits"),
            F.sum(F.when(F.col("n_actions") == 1, 1).otherwise(0)).alias(
                "n_bounces"
            ),
            F.sum("n_actions").alias("total_actions"),
        )
    )


def visitor_frequency(df: DataFrame, sessionized: bool = False) -> DataFrame:
    """Matomo VisitFrequency report: per day, visits split into NEW
    (the visitor key's first visit in the corpus window) vs RETURNING
    (visit_id > 1 — the key already opened an earlier visit), with the
    per-class action totals the report's returning-visitor bounce/depth
    ratios are built from. Matomo's tracker keeps this flag in the
    visitor cookie; log replay has no cookie, so the flag is recomputed
    from the same (ip, user_agent) config-id fallback the visit model
    uses — consistent with how import_logs-fed servers see it.

    ``returning`` is a pure function of visit_id, so the day rollup stays
    a map-side-combinable hash agg. Nothing new shuffles beyond
    visit_daily_stats."""
    ret = F.col("visit_id") > 1
    return (
        visit_table(_sessions(df, sessionized))
        .groupBy("dom")
        .agg(
            F.sum(F.when(ret, 0).otherwise(1)).alias("n_new_visits"),
            F.sum(F.when(ret, 1).otherwise(0)).alias("n_returning_visits"),
            F.sum(F.when(ret, F.lit(0)).otherwise(F.col("n_actions"))).alias(
                "actions_new"
            ),
            F.sum(F.when(ret, F.col("n_actions")).otherwise(F.lit(0))).alias(
                "actions_returning"
            ),
        )
    )


def entry_exit_pages(df: DataFrame, sessionized: bool = False) -> DataFrame:
    """Matomo Actions > Entry/Exit pages: per stem, how many visits ENTER
    on it (first action) and how many EXIT on it (last action).

    The reference pipeline stops at per-sink hit counts; Matomo's server
    derives this report from the visit model (same 30-min sessionization
    as visit_daily_stats). Shape: the per-visit entry/exit stems are two
    extra visit-table aggregates — `min(struct(tsec, doc_id, stem))` picks
    the first action without a window (struct ordering is lexicographic
    and (tsec, doc_id) is a total order within the visit, so the stem
    component never decides). The per-visit rows (corpus-sized / visit
    length) then UNION their entry and exit sides and aggregate per stem
    — two shuffles total, both map-side combinable; no join.

    100 TB: visit count ~= corpus rows / actions-per-visit; both
    aggregations are plain hash aggs on corpus-cardinality keys. The
    skew note on sessionize_hits (hot NAT visitor) applies unchanged.
    """
    g = visit_table(
        _sessions(df, sessionized),
        F.min(F.struct("tsec", "doc_id", "stem")).alias("e"),
        F.max(F.struct("tsec", "doc_id", "stem")).alias("x"),
    )
    sides = g.select(
        F.col("e.stem").alias("stem"),
        F.lit(1).alias("n_entry"),
        F.lit(0).alias("n_exit"),
    ).unionAll(
        g.select(
            F.col("x.stem").alias("stem"),
            F.lit(0).alias("n_entry"),
            F.lit(1).alias("n_exit"),
        )
    )
    return sides.groupBy("stem").agg(
        F.sum("n_entry").alias("n_entries"),
        F.sum("n_exit").alias("n_exits"),
    )


# Matomo core's VisitorInterest duration buckets (config/general.php
# 'visit_length' ranges) — upper bound in seconds, label.
DURATION_BUCKETS = [
    (10, "0-10s"),
    (30, "11-30s"),
    (60, "31-60s"),
    (300, "1-5min"),
    (600, "5-10min"),
    (900, "10-15min"),
    (1800, "15-30min"),
]


def visit_duration_buckets(
    df: DataFrame, sessionized: bool = False
) -> DataFrame:
    """Matomo VisitorInterest: distribution of visit lengths over the
    standard duration buckets (plus '30min+').

    duration = last-action tsec - first-action tsec (Matomo's
    visit_total_time without the final-action dwell estimate, which log
    replay cannot know). One CASE over the visit table, one count per
    bucket — the plan is two hash aggs.
    """
    dur = F.col("last_tsec") - F.col("first_tsec")
    return (
        visit_table(_sessions(df, sessionized))
        .select(dur.alias("dur_s"))
        .withColumn(
            "bucket", _bucket(F.col("dur_s"), DURATION_BUCKETS, "30min+")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_visits"),
            F.sum("dur_s").alias("total_s"),
        )
    )


def visit_hours(df: DataFrame, sessionized: bool = False) -> DataFrame:
    """Matomo VisitTime (server time): visits per hour-of-day.

    Per hour in which a visit OPENED (its first action's server hour):
    visit count, total actions, bounces (single-action visits), and
    distinct visitors. Matomo's VisitsByServerTime report keys on the
    visit's first action exactly like this; the reference stops at
    per-sink hit counts and delegates the report to the server.

    Shape: the same sessionization shuffle as visit_daily_stats, then
    one 24-key hash agg — the hour is pure integer math on the visit's
    first tsec (seconds-within-month), never a session-zone instant, so
    any engine lands on the same bucket. The distinct-visitor count is
    map-side partial over a 24-row key space.
    """
    return (
        visit_table(_sessions(df, sessionized))
        .withColumn(
            "hour_of_day",
            F.expr("CAST((first_tsec % 86400) DIV 3600 AS INT)"),
        )
        .groupBy("hour_of_day")
        .agg(
            F.count("*").alias("n_visits"),
            F.sum("n_actions").alias("n_actions"),
            F.sum(F.when(F.col("n_actions") == 1, 1).otherwise(0)).alias(
                "n_bounces"
            ),
            F.countDistinct(
                F.concat(F.col("ip"), F.lit("\x01"), F.col("ua_k"))
            ).alias("n_visitors"),
        )
    )


# Matomo VisitorInterest pages-per-visit ranges (config/general.php
# 'visitor_interest_pages' analog) — upper bound in actions, label.
PAGES_BUCKETS = [
    (1, "1p"),
    (3, "2-3p"),
    (5, "4-5p"),
    (8, "6-8p"),
    (13, "9-13p"),
]


def pages_per_visit_buckets(
    df: DataFrame, sessionized: bool = False
) -> DataFrame:
    """Matomo VisitorInterest (second half): distribution of visits by
    actions-per-visit over the standard ranges (plus '14p+') — the
    companion to visit_duration_buckets, same shape: one CASE over the
    visit table, one count per bucket."""
    return (
        visit_table(_sessions(df, sessionized))
        .withColumn(
            "bucket", _bucket(F.col("n_actions"), PAGES_BUCKETS, "14p+")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_visits"),
            F.sum("n_actions").alias("total_actions"),
        )
    )


def campaign_attribution(
    df: DataFrame, sessionized: bool = False
) -> DataFrame:
    """Matomo Referrers > Campaigns over the visit model: visits
    attributed to the campaign of their FIRST campaign-tagged action
    (Matomo's campaign detection fires on the action that carries a
    pk_/mtm_/utm_ campaign parameter and stamps the visit; param priority
    in actions.CAMPAIGN_*_PARAMS). Source/medium come from the same
    attributing action; absent ones report '(not set)' like Matomo.

    Output: (campaign, source, medium, n_visits, total_actions) where
    total_actions counts ALL actions of attributed visits (the report's
    depth column), not just tagged ones.

    Shape & scale: over the shared sessionization pass this is two hash
    aggregations and nothing else — per-visit attribution is a single
    min-of-struct ordered by (tsec, doc_id) (conditional on the campaign
    column, so untagged visits fold to NULL and drop), an extra aggregate
    of the visit table; that table groups on a superset of the
    sessionization's visitor key, so it reuses that partitioning with
    ZERO new shuffles (plan-pinned in tests/test_plans.py), and the final
    campaign rollup shuffles a visit-sized table on a campaign-cardinality
    key (tiny)."""
    from logspark import actions

    s = _sessions(df, sessionized)
    s = s.withColumn(
        "campaign", actions.first_param_expr(actions.CAMPAIGN_NAME_PARAMS)
    ).withColumn(
        "c_source", actions.first_param_expr(actions.CAMPAIGN_SOURCE_PARAMS)
    ).withColumn(
        "c_medium", actions.first_param_expr(actions.CAMPAIGN_MEDIUM_PARAMS)
    )
    per_visit = visit_table(
        s,
        F.min(
            F.when(
                F.col("campaign").isNotNull(),
                F.struct("tsec", "doc_id", "campaign", "c_source", "c_medium"),
            )
        ).alias("attr"),
    )
    return (
        per_visit.filter(F.col("attr").isNotNull())
        .select(
            F.col("attr.campaign").alias("campaign"),
            F.coalesce(F.col("attr.c_source"), F.lit("(not set)")).alias(
                "source"
            ),
            F.coalesce(F.col("attr.c_medium"), F.lit("(not set)")).alias(
                "medium"
            ),
            "n_actions",
        )
        .groupBy("campaign", "source", "medium")
        .agg(
            F.count("*").alias("n_visits"),
            F.sum("n_actions").alias("total_actions"),
        )
    )


def unique_visitors_daily(
    df: DataFrame, sessionized: bool = False
) -> DataFrame:
    """Matomo's nb_uniq_visitors for the Visits report: per day-of-month,
    distinct visitor keys ACTIVE that day (any action — Matomo counts a
    visitor as unique per day they appear, not per the day their visit
    opened) plus the day's hit count.

    The visitor key is rendered as one tab-joined string so the distinct
    is over an identical scalar in Spark and the DuckDB oracle (tuple
    DISTINCT semantics differ in rendering; tab cannot occur in either
    component). F.concat (not concat_ws) deliberately: it NULL-propagates
    exactly like the oracle's ``||``, so a hypothetical NULL ip drops the
    row from the distinct on BOTH sides instead of silently collapsing to
    the bare ua_k on one. Shape at scale: exact COUNT(DISTINCT) over a
    (day, visitor) key space that is corpus-bounded; the partial-agg
    dedup happens map-side per day. The approximate companion at
    10^12 rows is hll_distinct_ips' sketch shape."""
    s = _sessions(df, sessionized)
    vk = F.concat(F.col("ip"), F.lit("\t"), F.col("ua_k"))
    return (
        s.withColumn("dom", F.floor(F.col("tsec") / 86400).cast("int"))
        .groupBy("dom")
        .agg(
            F.countDistinct(vk).alias("n_unique_visitors"),
            F.count("*").alias("n_hits"),
        )
    )
