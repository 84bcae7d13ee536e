"""Exclusion / classification rule tables + predicates.

Analog of the reference's lookup dictionaries (/root/reference/libs/
values.py:55-95), its date-conditional validity rules (/root/reference/libs/
lib_status.py:85-116: scl x varnishncsa after 2020-04-29 -> invalid, etc.)
and the implied importer's bot/static/excluded-host filters (SURVEY.md §0.1).

Small rule tables are broadcast DataFrames (broadcast-hash-join enrichment per
north_rule); tiny fixed pattern sets compile into a single rlike alternation
(one regex, JVM-side) — both are O(rows) with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logspark.session import local_table

# bot user-agent markers (Matomo-import-logs-style exclusion class
# `requests_done_by_bots`, counters at /root/reference/libs/lib_summary.py:14)
BOT_MARKERS = ["bot", "crawler", "spider", "slurp", "archiver", "httpclient"]
BOT_RE = "(?i)(" + "|".join(BOT_MARKERS) + ")"

# static resource extensions (`requests_to_static_resources`, lib_summary.py:18)
STATIC_EXTS = ["css", "js", "png", "gif", "ico", "svg", "woff", "woff2", "jpg", "jpeg"]

# download extensions (Matomo routes these to the downloads sink)
DOWNLOAD_EXTS = ["pdf", "zip", "exe", "dmg", "apk", "gz", "mp3", "mp4"]

# excluded path prefixes (`filtered_log_lines`, lib_summary.py:11)
EXCLUDED_PATH_PREFIXES = ["/admin", "/internal", "/healthz"]

# servers that are always invalid (analog of INVALID_SERVERS,
# /root/reference/libs/values.py:88-95: the ven1..ven6 family is marked
# INVALID at discovery and never loaded). The synthetic corpus emits 'ven1'
# for 2.5% of rows (gen_sql._SOURCE_CASE); route_expr sends every such row
# to the invalid route before any other rule, mirroring is_valid_log
# failing at LogFile creation (/root/reference/libs/lib_database.py:87-90).
INVALID_SOURCES: list[str] = ["ven1"]


def is_invalid_source(source: Column) -> Column:
    return source.isin(INVALID_SOURCES)


def ext_lookup_df(spark: SparkSession) -> DataFrame:
    """(ext, ext_kind) broadcast table: static | download."""
    rows = [(e, "static") for e in STATIC_EXTS] + [(e, "download") for e in DOWNLOAD_EXTS]
    return local_table(spark, rows, "ext string, ext_kind string")


def stem_expr(path: Column) -> Column:
    """Path before the query string."""
    idx = F.instr(path, "?")
    return F.when(idx > 0, F.substring(path, F.lit(1), idx - 1)).otherwise(path)


def query_expr(path: Column) -> Column:
    idx = F.instr(path, "?")
    return F.when(idx > 0, F.substring_index(path, "?", -1)).otherwise(F.lit(""))


def is_bot(user_agent: Column) -> Column:
    return user_agent.isNotNull() & user_agent.rlike(BOT_RE)


def is_excluded_path(stem: Column) -> Column:
    pred = F.lit(False)
    for p in EXCLUDED_PATH_PREFIXES:
        pred = pred | stem.startswith(p)
    return pred


def date_conditional_filtered(source: Column, ts: Column) -> Column:
    """Date-conditional exclusion, shape of lib_status.py:89-97
    (collection x server x date-boundary): varnish02 traffic after the 20th
    of the month is excluded in the synthetic regime."""
    return (source == "varnish02") & (F.dayofmonth(ts) > 20)


# hits by one IP within one wall-clock minute above which bot_velocity
# flags it (the oracle's `MAX(n_in_min) > 5`)
BOT_BURST_PER_MINUTE = 5


def bot_velocity(routed: DataFrame) -> DataFrame:
    """Rate-based bot detection: per-IP request-velocity profile with a
    burst flag — the behavioral complement to the UA-keyword taxonomy
    (`is_bot`). Matomo's importer only knows UA/host exclusion rules; a
    scraper with a clean UA is invisible to it. Velocity isn't: any IP
    exceeding ``BOT_BURST_PER_MINUTE`` hits within one wall-clock minute is
    flagged.

    Per IP (parsed hits only): total hits, distinct active minutes,
    the hottest minute's hit count, and ``flagged``. The minute bucket
    is TZ-free integer math over the parsed timestamp FIELDS (same
    discipline as the visit model — never an instant through a session
    zone), with year and month folded in so hits from the same
    day-of-month of DIFFERENT months never collapse into one wall-clock
    minute. The DuckDB oracle folds year and month in the same way.

    Shape at scale: two map-side-combinable hash aggs — (ip, minute)
    then ip. A hot IP (the thing being measured) concentrates count
    state, not rows: partial aggregation collapses its per-minute counts
    before the shuffle, so skew costs a heavy reduce key, never executor
    memory. No join, no window.
    """
    minute = (
        (
            ((F.year("ts") * 12 + F.month("ts")) * 32 + F.dayofmonth("ts"))
            * 24
            + F.hour("ts")
        )
        * 60
        + F.minute("ts")
    ).alias("minute_bucket")
    per_min = (
        routed.filter(F.col("parsed_ok") & F.col("ip").isNotNull())
        .groupBy("ip", minute)
        .agg(F.count("*").alias("n_in_min"))
    )
    return (
        per_min.groupBy("ip")
        .agg(
            F.sum("n_in_min").alias("total_hits"),
            F.count("*").alias("n_active_minutes"),
            F.max("n_in_min").alias("max_per_minute"),
        )
        .select(
            "ip",
            "total_hits",
            "n_active_minutes",
            "max_per_minute",
            (F.col("max_per_minute") > BOT_BURST_PER_MINUTE).alias("flagged"),
        )
    )
