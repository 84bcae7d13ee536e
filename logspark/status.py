"""Date-status rollup: per-(source, date) quota aggregation.

Re-expression of the reference's per-date state machine:
  * compute_date_status (/root/reference/libs/lib_status.py:56-82): count
    LOADED files per date, compare to a per-collection expected quota with
    **date-regime switches** (scl 2021-05-25, nbr 2022-04-05/2022-05-08,
    lib_status.py:62-75) -> LOADED / PARTIAL / QUEUE.
  * update_date_status (/root/reference/libs/lib_database.py:120-151) has
    no counterpart: the rollup is recomputed from the visit rows on every
    report pass, so there is no stored date-status table to upsert into.

Quotas are an in-code list, ``DEFAULT_QUOTAS``, like the reference's
COLLECTION_TO_EXPECTED_DAILY_STATUS_SUM dict (lib_status.py:21-53). The
rollup compiles it into one CASE column, so the quota lookup is a
projection over the aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

S_QUEUE, S_PARTIAL, S_LOADED = 0, 1, 2

# (source, regime_start | None, expected): a dated regime applies when
# log_date > regime_start, and the latest applicable one wins; the None row
# is the source's base quota — shape of lib_status.py:21-53.
DEFAULT_QUOTAS = [
    ("apache-hiperion", None, 150),
    ("apache-hiperion", "2024-03-15", 120),
    ("varnish02", None, 20),
    ("nginx-json01", None, 10),
    ("cloudfront-dist1", None, 10),
    ("iis01", None, 10),
    ("w3c-node03", None, 10),
]


def _expected(source: Column, log_date: Column) -> Column:
    """The quota CASE over ``DEFAULT_QUOTAS``: dated regimes are tested
    latest ``regime_start`` first and base rows last, so the first match is
    the latest applicable regime. A source with no row gets NULL."""
    c = F
    latest_first = sorted(DEFAULT_QUOTAS, key=lambda q: q[1] or "", reverse=True)
    for src, start, n in latest_first:
        cond = source == src
        if start is not None:
            cond = cond & (log_date > F.lit(start).cast("date"))
        c = c.when(cond, n)
    return c


def rollup_date_status(routed: DataFrame, spark: SparkSession) -> DataFrame:
    """groupBy(source, date) -> loaded count -> quota CASE -> status (A2+A3).

    One aggregation over the visit rows; ``expected`` is ``_expected``'s
    CASE and ``status`` compares the two. ``spark`` is unused
    (``perfbench/reports.py`` calls ``report(hits, spark)``)."""
    agg = (
        routed.filter(F.col("route") == "visit")
        .groupBy("source", F.to_date("ts").alias("log_date"))
        .agg(F.count("*").alias("loaded"))
        .withColumn("expected", _expected(F.col("source"), F.col("log_date")))
    )
    status = (
        F.when(F.col("loaded") >= F.col("expected"), S_LOADED)
        .when(F.col("loaded") > 0, S_PARTIAL)
        .otherwise(S_QUEUE)
    )
    return agg.withColumn("status", status)


# the SLO's allowed error fraction in ppm: 1000 ppm is a 99.9% availability
# target (the oracles' `* 1000`)
SLO_TARGET_PPM = 1000


def slo_breached() -> Column:
    """The day's (or hour's) 5xx share of ``n_req`` exceeds
    ``SLO_TARGET_PPM``; integer-exact over the ``n_5xx``/``n_req`` counts."""
    return F.expr(f"n_5xx * 1000000 > n_req * {SLO_TARGET_PPM}").alias("breached")


def slo_error_budget(routed: DataFrame) -> DataFrame:
    """Per (source, day) availability vs an SLO error budget, all-integer.

    SRE view of the reference's per-day status ledger (lib_status tracks
    loaded-vs-expected line counts; this tracks served-vs-5xx): for each
    source and ISO day, request count, 5xx count, availability in ppm,
    and the budget-burn rate in milli-units of the allowed error budget
    (``burn_milli`` = 1000 means errors exactly consumed the day's
    budget of ``SLO_TARGET_PPM``; >1000 means the SLO is breached, also
    surfaced as a bool).

    Exactness: every derived value is floor-division of two exact BIGINT
    products, so any engine lands on identical rows — no float surface.
    Shape: one map-side-combinable hash agg on (source, day); the
    key space is sources x days (control-plane-sized at any corpus
    scale), then narrow column math.
    """
    h = routed.filter(F.col("parsed_ok"))
    g = h.groupBy(
        "source", F.date_format("ts", "yyyy-MM-dd").alias("iso_date")
    ).agg(
        F.count("*").alias("n_req"),
        F.sum(F.when(F.col("status") >= 500, 1).otherwise(0)).alias("n_5xx"),
    )
    return g.select(
        "source",
        "iso_date",
        "n_req",
        "n_5xx",
        F.expr("(n_req - n_5xx) * 1000000 DIV n_req").alias(
            "availability_ppm"
        ),
        F.expr(f"n_5xx * 1000000000 DIV (n_req * {SLO_TARGET_PPM})").alias(
            "burn_milli"
        ),
        slo_breached(),
    )
