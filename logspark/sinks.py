"""Fan-out per-sink writes: visits / downloads / outlinks / errors (+ignored).

Reference analog: row inserts into per-class MySQL counters (/root/reference/
models/declarative.py:33-42) — here the routed classes become partitioned
table writes (BASELINE.json north_star sinks).

Scale design:
  * ONE pass over the routed rows — ``partitionBy('sink')`` fan-out, never
    five filtered re-scans.
  * One write distribution: rows are repartitioned on the partition
    columns other than ``sink`` (the job's ``part_id``), so each directory
    is written by one task; part_id is a hash of doc_id, so that shuffle
    has no skew even though ``visits`` holds about half the rows.
  * Idempotent re-runs: dynamic partition overwrite — re-processing a
    partition replaces exactly its own files (parquet fallback for Iceberg's
    atomic overwritePartitions). The production job layers ``part_id`` into
    the physical partitioning so a crash-replay of a pending partition
    REPLACES any partially-written files for it instead of appending
    duplicates (see job.py's commit protocol).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SINK_COLUMNS = [
    "doc_id",
    "source",
    "fmt",
    "route",
    "ip",
    "ts",
    "method",
    "path",
    "status",
    "nbytes",
    "referrer",
    "user_agent",
    "tokens",
    "n_tok",
]


def write_fanout(
    routed: DataFrame,
    out_dir: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    distribution: str = "partitioned",
) -> None:
    """Fan-out write, physically partitioned by ``partition_cols``.

    Rows are repartitioned on the partition columns other than ``sink``,
    so each directory is written by exactly ONE task and gets one file per
    1,000,000 rows (Iceberg write.distribution-mode=hash analog); a column
    that is constant within ``routed`` therefore gets one writer task.
    ``distribution`` names this one distribution and accepts nothing else.

    The production job passes ['sink', 'part_id'] so that mode='overwrite'
    + dynamic partition overwrite replaces exactly the (sink, part_id)
    directories this run touches — the crash-replay idempotence unit
    (job.py commit protocol).
    """
    if distribution != "partitioned":
        raise ValueError(f"unknown distribution {distribution!r}; only 'partitioned'")
    cols = [c for c in SINK_COLUMNS if c in routed.columns] + [
        c for c in partition_cols if c not in SINK_COLUMNS
    ]
    df = routed.select(*dict.fromkeys(cols + partition_cols)).repartition(
        *[c for c in partition_cols if c != "sink"]
    )
    (
        df.write.partitionBy(*partition_cols)
        .mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", 1_000_000)
        # zstd for token-array sinks: parquet's per-value encode of nested
        # int lists is the write bottleneck, and snappy-on-dictionary pages
        # is pathological for them — measured on the 8M-row corpus (1B list
        # elements, 32 cores): snappy+dict 58-93s/560MB, dict-off+snappy
        # 35s/1.3GB, ZSTD 14s/325MB — 4x faster AND 42% smaller. Decode-side
        # cost is ~5% on the full-pipeline scan, paid only by sink readers.
        .option("compression", "zstd")
        .parquet(out_dir)
    )
