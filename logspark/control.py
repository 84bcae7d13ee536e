"""Checkpoint / resume control plane.

Spark-native replacement for the reference's MySQL control tables and status
state machine (/root/reference/models/declarative.py:9-63, libs/
lib_status.py:7-19, libs/lib_database.py:65-151):

  * ``control_log_file`` catalog            -> ``control_partitions`` table
  * insert-if-absent (lib_database.py:74-94) -> append control rows only for
    the pending part ids (the resume filter below keeps LOADED ids out)
  * recovery TSV spill (lib_database.py:220-228) -> atomic commit of data +
    control rows per partition batch (the snapshot IS the recovery unit)
  * resume (lib_database.py:192-217)        -> a set difference over control
    metadata: the pending part ids are range(N) minus the LOADED ids in the
    store, and the corpus flows through a literal ``part_id`` filter built
    from them. Like the reference, which skips a LOADED file without
    opening it, the resume never scans the corpus to decide what to skip: a
    killed run replays ONLY unprocessed partitions (north_rule resumability)
  * monotonic status (lib_database.py:105-108: a LOADED file is never
    downgraded) -> rank-guarded MERGE semantics in ``merge_status``

Storage is pluggable: parquet directory (tests/sandbox) or Iceberg
(production — the same dataframes feed ``MERGE INTO``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logspark.session import local_table

# status codes, same taxonomy as lib_status.py:14-19
QUEUE, PARTIAL, LOADED, LOADING, FAILED, INVALID = 0, 1, 2, 9, -1, -9

# upgrade precedence: larger rank wins; LOADED is terminal
_STATUS_RANK = {INVALID: 0, FAILED: 1, QUEUE: 2, LOADING: 3, PARTIAL: 4, LOADED: 5}


def status_rank(col):
    c = None
    for status, rank in _STATUS_RANK.items():
        c = (F.when(col == status, rank) if c is None else c.when(col == status, rank))
    return c.otherwise(-1)


CONTROL_SCHEMA = (
    "part_id INT, status INT, rows_in BIGINT, rows_routed BIGINT, run_id STRING"
)


RETRY_DIFF_LINES = 110_000


def retry_adjusted_progress(lines_parsed, retry: int = RETRY_DIFF_LINES):
    """A7 parity (/root/reference/libs/lib_summary.py:8,70-91): on a failed
    load the reference rewinds the line cursor by RETRY_DIFF_LINES and
    classifies PARTIAL iff progress survives the rewind, else FAILED with
    zero progress. Our resume is exact (committed partitions replay
    nothing), so this heuristic reduces to a guarded column expression kept
    for contract parity: (adjusted_lines, status)."""
    adj = F.greatest(F.lit(0), lines_parsed - F.lit(retry))
    status = F.when(adj > 0, F.lit(PARTIAL)).otherwise(F.lit(FAILED))
    return adj.alias("adjusted_lines"), status.alias("retry_status")


def progress_line_summary(
    df: DataFrame,
    expected: int = 120_000,
    retry: int = RETRY_DIFF_LINES,
) -> DataFrame:
    """X8 progress-guard parity (/root/reference/libs/lib_summary.py:70-91):
    a failure-summary ``line`` is trusted ONLY if it contains EXACTLY four
    integers (the guard); the FIRST integer is the lines-parsed cursor.
    Classification then follows the reference's retry rules: LOADED when
    the cursor is within ±1 of expected, else ``retry_adjusted_progress``:
    PARTIAL when it survives the RETRY_DIFF_LINES rewind (cursor - retry >
    0, progress = the rewound cursor), else FAILED with zero progress.

    Appends (n_ints, lines_parsed, status). Pure column expressions —
    JVM-side, no shuffle; the regexp runs twice per row (count + first
    match), both inside whole-stage codegen."""
    n_ints = F.size(F.expr("regexp_extract_all(line, '[0-9]+', 0)"))
    first = F.expr(
        "CAST(nullif(regexp_extract(line, '([0-9]+)', 1), '') AS BIGINT)"
    )
    guarded = n_ints == 4
    loaded = guarded & first.between(expected - 1, expected + 1)
    rewound, retry_status = retry_adjusted_progress(first, retry)
    return (
        df.withColumn("n_ints", n_ints)
        .withColumn(
            "lines_parsed",
            F.when(loaded, first)
            .when(guarded, rewound)
            .otherwise(F.lit(0).cast("bigint")),
        )
        .withColumn(
            "status",
            F.when(loaded, F.lit(LOADED))
            .when(guarded, retry_status)
            .otherwise(F.lit(FAILED)),
        )
    )


def with_partition_id(corpus: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit hash partitioning on doc_id (north_rule). Deterministic,
    content-only (xxhash64) — never depends on physical layout."""
    return corpus.withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(num_partitions)).cast("int")
    )


class CheckpointStore:
    """Parquet-backed control_partitions table (Iceberg-shaped API)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """The control rows. A missing directory is an empty store (the
        first run). The read takes ``CONTROL_SCHEMA`` instead of inferring
        one, so a store whose first append was killed, which holds only the
        committer's ``_temporary/`` staging files, reads as the zero rows it
        committed; a committed file that cannot be read still raises, so a
        corrupt store is never mistaken for an empty one and replayed in
        full."""
        if not self.exists():
            return local_table(self.spark, [], CONTROL_SCHEMA)
        return self.spark.read.schema(CONTROL_SCHEMA).parquet(self.path)

    def committed_ids(self) -> DataFrame:
        return (
            self.read()
            .filter(F.col("status") == LOADED)
            .select("part_id")
            .distinct()
        )

    def loaded_ids(self) -> set[int]:
        """The committed part ids, collected to the driver (bounded by the
        partition count); no Spark call when the store does not exist."""
        if not self.exists():
            return set()
        return {r[0] for r in self.committed_ids().collect()}

    def append(self, rows: DataFrame) -> None:
        rows.write.mode("append").parquet(self.path)

    def exists(self) -> bool:
        return os.path.isdir(self.path)


def pending_partitions(
    corpus_with_pid: DataFrame,
    store: CheckpointStore,
    loaded: set[int] | None = None,
) -> DataFrame:
    """Only not-yet-committed partitions flow: a literal ``part_id`` filter
    over the corpus, built from the store's LOADED ids (``loaded``, when
    the caller has already read them). Nothing committed -> the corpus
    unchanged."""
    if loaded is None:
        loaded = store.loaded_ids()
    if not loaded:
        return corpus_with_pid
    return corpus_with_pid.filter(~F.col("part_id").isin(sorted(loaded)))


def merge_status(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """Monotonic status merge: an existing row is replaced only when the new
    status outranks it (lib_database.py:105-108 guarded update). Returns the
    merged control table (what Iceberg MERGE INTO would leave behind)."""
    e = existing.select(
        "part_id",
        F.col("status").alias("status_old"),
        F.col("rows_in").alias("rows_in_old"),
        F.col("rows_routed").alias("rows_routed_old"),
        F.col("run_id").alias("run_id_old"),
    )
    u = updates.select(
        "part_id", "status", "rows_in", "rows_routed", "run_id"
    )
    j = e.join(u, "part_id", "full_outer")
    take_new = F.col("status_old").isNull() | (
        status_rank(F.col("status")) > status_rank(F.col("status_old"))
    )
    pick = lambda n, o: F.when(take_new & F.col(n).isNotNull(), F.col(n)).otherwise(  # noqa: E731
        F.coalesce(F.col(o), F.col(n))
    )
    return j.select(
        "part_id",
        pick("status", "status_old").alias("status"),
        pick("rows_in", "rows_in_old").alias("rows_in"),
        pick("rows_routed", "rows_routed_old").alias("rows_routed"),
        pick("run_id", "run_id_old").alias("run_id"),
    )


def partition_stats(routed: DataFrame, run_id: str) -> DataFrame:
    """Per-partition completion rows for the control table (one shuffle,
    map-side combined)."""
    return (
        routed.groupBy("part_id")
        .agg(
            F.count("*").alias("rows_in"),
            F.sum(F.when(F.col("route").isNotNull(), 1).otherwise(0)).alias(
                "rows_routed"
            ),
        )
        .select(
            "part_id",
            F.lit(LOADED).alias("status"),
            "rows_in",
            "rows_routed",
            F.lit(run_id).alias("run_id"),
        )
    )
