"""SparkSession factory with scale-oriented defaults.

Local-mode settings mirror what we would submit to a multi-executor cluster
(`spark-submit --py-files logspark.zip job.py`): AQE on (runtime re-plan +
skew-join splitting), Arrow transport for the few pandas UDFs, explicit
shuffle-partition sizing instead of the 200 default.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """A quarter of the host's MemTotal, clamped to [1, 4] GiB, so the JVM
    fits beside other tenants; $LOGSPARK_DRIVER_MEM overrides it."""
    override = os.environ.get("LOGSPARK_DRIVER_MEM")
    if override:
        return override
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(1024, min(4096, mem_kb // 1024 // 4)) // 256 * 256}m"


def local_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small table built from a Python list, planned as a LocalRelation.

    ``createDataFrame(list)`` plans a LogicalRDD, and broadcasting one
    starts a Spark job on every query; an Arrow table yields a
    LocalRelation (empty ones included) that the driver broadcasts without
    one."""
    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table)


def get_spark(
    cores: int | None = None,
    app: str = "logspark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[] thread count; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to 2x cores (good spill/parallelism balance
    in local mode; on a real cluster this is sized to target ~128MB shuffle
    blocks per partition instead).
    """
    n = cores or default_parallelism()
    sp = shuffle_partitions or max(8, 2 * n)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE replaces a shuffle stage that wrote no rows with an empty
        # relation, and an Observation attached inside that stage then never
        # reports (job.main's counters over a run whose pending part ids hold
        # no rows); without the rule the empty stage runs and reports zeros
        .config(
            "spark.sql.adaptive.optimizer.excludedRules",
            "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches across the Python boundary: fewer per-batch
        # round trips for mapInArrow/pandas UDFs (tokens are ~100B/row, so
        # 64k rows ≈ 25MB/batch — comfortably in-memory per worker)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # DuckDB-oracle parity: permissive casts (try-cast semantics are used
        # explicitly where needed); ANSI-off keeps element_at/cast null-safe.
        .config("spark.sql.ansi.enabled", "false")
        # constraint propagation goes super-linear on deep derived-column
        # expression trees (InferFiltersFromConstraints closure explosion:
        # measured >390s optimizing one filter+select over the synthetic
        # corpus lineage; 11s with this off). Our plans gain nothing from
        # it: joins are broadcast with explicit keys, null filters explicit.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        # orderBy().limit(k) plans TakeOrderedAndProject, whose top-k
        # selector allocates 2k slots up front; above this k it sorts
        # instead (k=10**9 otherwise kills the driver with an OOM)
        .config("spark.sql.execution.topKSortFallbackThreshold", "100000")
        # Parallel (throughput) GC beats the G1 default for this batch
        # workload: G1's concurrent mark/refine threads contend with the 32
        # executor threads on the hot string-heavy pipeline. Measured on the
        # 4M-row corpus (paired alternating runs): 32-core 5.8-6.0s vs
        # 7.2-14.6s under G1; 8-core 19.9-21.0s vs 24.2-26.0s. Applies at
        # JVM launch (first session in the process).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
