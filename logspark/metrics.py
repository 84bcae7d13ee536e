"""Lineage + accumulator metrics.

Re-expression of the reference's load-summary counters (/root/reference/libs/
lib_summary.py:10-20 parsed from importer stdout; persisted at models/
declarative.py:30-45): in a Spark-native engine these are
  * ``Observation`` counters collected in the SAME pass as the data flow
    (zero extra scans — the modern accumulator API), and
  * per-partition lineage counts (north_rule): spark_partition_id x route.

``run_metrics_rows`` shapes them as rows of a ``run_metrics`` table
(FIXTURES.md §5), one row per (run, stage, partition, route).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from logspark.route import ROUTES


def route_observation() -> Observation:
    return Observation("route_counters")


def observed_columns():
    return [F.count(F.lit(1)).alias("rows_total")] + [
        F.count_if(F.col("route") == r).alias(f"route_{r}") for r in ROUTES
    ]


def lineage_counts(
    routed: DataFrame, run_id: str, stage: str, key: str | None = None
) -> DataFrame:
    """Per-partition route counts (north_rule lineage). ``key`` names a
    logical partition column (e.g. part_id) — pass it when counting from
    a sink READBACK, where spark_partition_id() would report file-split
    ids and, worse, force a second full pipeline pass if fed the live
    `routed` plan (measured: the duplicate 50M-row parse it caused
    GC-thrashed a 32g single-JVM driver to death)."""
    part = F.col(key) if key else F.spark_partition_id()
    return routed.groupBy(
        part.alias("partition_id"), F.col("route")
    ).agg(F.count("*").alias("cnt")).select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        # record WHICH key kind partition_id holds (logical part_id vs
        # physical spark_partition_id) so rows from different call sites
        # appended into one metrics table stay interpretable
        F.lit(key or "spark_partition_id").alias("partition_key"),
        "partition_id",
        "route",
        "cnt",
    )


def conservation_ok(observed: dict) -> bool:
    """Exact conservation law (lib_summary.py:60-65, without the ±1 slack)."""
    total = observed.get("rows_total", 0)
    routed = sum(v for k, v in observed.items() if k.startswith("route_"))
    return total == routed
