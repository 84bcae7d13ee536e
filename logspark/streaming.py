"""Structured Streaming variant of the pipeline.

The reference is strictly batch (cron-driven docker runs, /root/reference/
README.md:29-46); its incrementality lives in the status state machine. This
module is the optional streaming extension (SURVEY.md §2.9): the SAME parse/
route column expressions applied to a stream, with

  * file-source ingestion of tokenized-corpus parquet (or Iceberg
    ``readStream`` in production),
  * ``Trigger.AvailableNow`` for batch-parity testing: streaming counts must
    equal the batch pipeline's counts on the same input (test asserts this).

Every parity query is one drain: ``_scratch()`` gives it a temp directory
for its input copy and checkpoint (removed when the drain ends), and
``drain`` runs its plan AvailableNow into a memory table and returns that
table. The queries differ only in the plan and in how the input is split
into files and micro-batches.

Stateless transforms (parse/route) are identical code paths — one definition
of the semantics for both engines' modes.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logspark import pipeline, status

# Shuffle partitions a drain's stream starts with. Stateful streaming
# operators instantiate ONE state store per shuffle partition per
# micro-batch; each store pays open/commit/snapshot I/O every batch
# regardless of row volume. The batch session's 2x-cores sizing is right
# for wide batch shuffles but pure overhead for a drain whose state is
# keyset-sized: per-store commit latency of (2x cores) stores x k batches
# dominated the measured wall time on small corpora. On a real cluster this
# is the same discipline as `spark.sql.streaming.numStatePartitions`-style
# sizing: state partitions are sized to STATE VOLUME and executor count,
# not to the batch shuffle width. The value is frozen into the checkpoint
# when the stream first starts.
DRAIN_SHUFFLE_PARTITIONS = 8


@contextmanager
def _scratch():
    """A temp directory for one drain's input copy and checkpoint. The
    memory-sink rows live in driver memory, so the directory is dead weight
    once the drain finishes and is removed on exit."""
    base = tempfile.mkdtemp(prefix="logspark_stream_")
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


def drain(
    spark: SparkSession, plan: DataFrame, mode: str, checkpoint: str
) -> DataFrame:
    """Run the streaming ``plan`` to the end of its input
    (``Trigger.AvailableNow``) in output ``mode`` into a fresh memory
    table and return that table. The stream starts with
    ``DRAIN_SHUFFLE_PARTITIONS`` shuffle partitions; the session value is
    restored afterwards, also when the stream fails."""
    name = f"drain_{uuid.uuid4().hex}"
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(DRAIN_SHUFFLE_PARTITIONS))
    try:
        (
            plan.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set(key, old)
    return spark.table(name)


CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
    ]
)


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_corpus_stream(
    spark: SparkSession, path: str, max_files: int | None = 8
) -> DataFrame:
    """File-source corpus stream. ``max_files`` bounds files per
    micro-batch (the default 8 gives multi-batch drains that exercise
    cross-batch state); ``None`` drops the option so an AvailableNow drain
    takes the WHOLE input in one micro-batch — the right shape for
    batch-parity checks that carry no cross-batch semantics, where every
    extra micro-batch is pure offset-commit/state-store overhead
    (measured: the 2-batch route-counts parity drain spends ~40% of its
    wall time on the second batch cycle)."""
    reader = spark.readStream.schema(CORPUS_SCHEMA)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(path)


def route_counts_via_stream(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Batch-parity entry for the driver contract: materialize the given
    corpus to a scratch parquet dir, drain it through the streaming engine
    (AvailableNow), and return the final per-route counts — which must equal
    the batch pipeline's counts (and the DuckDB oracle) exactly.
    """
    with _scratch() as base:
        # SINGLE-batch drain (max_files=None): per-route counts in complete
        # mode carry no cross-batch semantics to exercise — multi-batch
        # state survival is pinned by stateful_source_totals /
        # stream_dedup_doc_ids — so the second micro-batch cycle the old
        # 16-file/8-per-trigger shape paid here was pure state-store-commit
        # overhead (~40% of the drain's wall time at sf0.1)
        corpus.repartition(16).write.mode("overwrite").parquet(f"{base}/in")
        stream = read_corpus_stream(spark, f"{base}/in", max_files=None)
        counts = (
            pipeline.routed_hits(spark, stream)
            .groupBy("route")
            .agg(F.count("*").alias("cnt"))
        )
        return drain(spark, counts, "complete", f"{base}/ck")


def stateful_source_totals(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Custom stateful operator: per-source cumulative routed-sequence
    totals via ``applyInPandasWithState`` — the streaming analog of the
    reference's per-date progress accounting (control_log_file_summary
    accumulation, /root/reference/libs/lib_database.py:154-184), where
    state survives across micro-batches instead of across cron runs.

    Every micro-batch updates one long per source; outputMode=update emits
    the running total. The FINAL total per source is independent of how the
    input was micro-batched, so the returned frame (max over updates) is
    deterministic and must equal the batch ``groupBy(source).count()``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"source": [key[0]], "total": [total]})

    with _scratch() as base:
        # two micro-batches (16 files / 8 per trigger): state MUST survive a
        # batch boundary for the cumulative total to be right, and two
        # batches prove that at 1/4 the per-batch state-store commit cost
        # of eight
        corpus.repartition(16).write.mode("overwrite").parquet(f"{base}/in")
        stream = read_corpus_stream(spark, f"{base}/in")
        updates = (
            pipeline.routed_hits(spark, stream)
            .select("source")
            .groupBy("source")
            .applyInPandasWithState(
                update,
                outputStructType="source string, total long",
                stateStructType="total long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        out = drain(spark, updates, "update", f"{base}/ck")
    return out.groupBy("source").agg(F.max("total").alias("total"))


def stream_dedup_doc_ids(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Stateful streaming DEDUP: the corpus is materialized TWICE (every
    doc arrives in two different files / micro-batches) and drained through
    ``dropDuplicates('doc_id')`` — the streaming analog of the reference's
    insert-if-absent control-row discipline (J2, lib_database.py:74-94)
    and of exact dedup: state remembers seen keys across micro-batches.

    Returns one row per distinct doc_id (must equal the batch corpus
    exactly). Production note: unbounded keyspaces need
    ``dropDuplicatesWithinWatermark`` so state can be evicted; here the
    whole input is drained (AvailableNow) so full-state dedup is the
    correct semantics to verify."""
    with _scratch() as base:
        # each arrival wave is 8 files = one micro-batch: wave 2 re-sends
        # every doc in a LATER batch than its first arrival, so the dedup
        # state provably works across the batch boundary (two batches total)
        corpus.repartition(8).write.mode("overwrite").parquet(f"{base}/in")
        corpus.repartition(8).write.mode("append").parquet(f"{base}/in")
        dedup = (
            read_corpus_stream(spark, f"{base}/in")
            .select("doc_id", "source")
            .dropDuplicates(["doc_id"])
        )
        return drain(spark, dedup, "append", f"{base}/ck")


def stream_incremental_dedup(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """STREAM-STATIC join (the one streaming join class the suite didn't
    yet exercise): new-crawl documents arrive as a stream of minhash BAND
    KEYS (in production the ingest edge emits band keys alongside each
    tokenized doc); the historical corpus's band index is a STATIC table
    joined into the streaming plan — re-read per micro-batch, no stream
    state for the join itself. Matches textops.incremental_dedup's
    candidate stage (even doc_id = history, odd = new) so the DuckDB
    oracle is the same incremental cand CTE.

    dropDuplicates carries (new_doc, hist_doc) dedup state across
    micro-batches — bounded by the candidate-pair count, which the
    selective banding keeps near-linear; unbounded deployments would use
    dropDuplicatesWithinWatermark keyed on ingest time."""
    from logspark import textops

    banded = textops.lsh_bands(
        textops.minhash_signatures(docs, textops.NUM_PERMS),
        textops.LSH_ROWS_PER_BAND,
    )
    hist = banded.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("hist_doc"), "band", "band_key"
    )
    new_bands = banded.filter(F.col("doc_id") % 2 == 1)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("band", T.IntegerType(), True),
            T.StructField("band_key", T.StringType(), True),
        ]
    )
    with _scratch() as base:
        # 16 files and no maxFilesPerTrigger: one data micro-batch
        new_bands.repartition(16).write.mode("overwrite").parquet(f"{base}/in")
        # Materialize the historical band INDEX once: a static side that is
        # a live plan would re-run the whole shingle->minhash->band pass
        # EVERY micro-batch (the static side of a stream-static join is
        # re-evaluated per batch by design, so mutable tables are seen
        # fresh). In production this is exactly the stored index table that
        # incremental_dedup maintains; a k-batch drain must read it, not
        # rebuild it k times.
        hist.write.mode("overwrite").parquet(f"{base}/hist")
        joined = (
            spark.readStream.schema(schema)
            .parquet(f"{base}/in")
            .join(spark.read.parquet(f"{base}/hist"), ["band", "band_key"])
            .select(F.col("doc_id").alias("new_doc"), "hist_doc")
            .dropDuplicates(["new_doc", "hist_doc"])
        )
        return drain(spark, joined, "append", f"{base}/ck")


def session_windows_plan(
    stream: DataFrame, gap: str = "6 hours", delay: str = "1 hour"
) -> DataFrame:
    """The watermarked session-window aggregation itself (shared by the
    parity drain below and the cross-batch merge test): one stateful
    operator, state keyed by (user_id, merged session), evicted on
    emission."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def session_windows_stream(
    spark: SparkSession,
    events: DataFrame,
    gap: str = "6 hours",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming gap sessionization: ``F.session_window`` under a
    watermark in APPEND mode — the one session-window surface the batch
    `sessionize_events` query can't exercise, because append-mode
    emission is a pure streaming semantic: a session row is emitted
    exactly once, when the event-time watermark (max seen ts - delay)
    passes the session's end (last event + gap), at which point its
    state is evicted. This is the streaming analog of the reference's
    visit re-grouping (Matomo imports group hits into visits by
    inactivity gap; the reference's cron-batch shape recomputes, a
    stream closes sessions as the watermark moves).

    Drain shape: SINGLE data micro-batch (no maxFilesPerTrigger), so no
    row can arrive behind the watermark (late-drop would make parity
    depend on which files land in which batch); the trailing no-data
    batch AvailableNow runs advances the watermark to max(ts) - delay
    and flushes every session that closed by then. The emitted set is
    therefore exactly { sessions : session_end < max(ts) - delay } —
    a deterministic predicate the DuckDB oracle states INDEPENDENTLY
    (island-gap lag/cumsum sessionization + the same watermark cutoff),
    so both the session grouping and the watermark emission rule are
    under cross-engine test. Cross-batch session-merge state is pinned
    separately by test_streaming_session_windows_merge_across_batches.

    At 100 TB: state is (open sessions)-sized, partitioned by user_id
    hash; eviction is exactly this emission rule, so state never grows
    past the active-user working set. Returns the emitted (closed)
    sessions."""
    with _scratch() as base:
        events.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).repartition(8).write.mode("overwrite").parquet(f"{base}/in")
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(f"{base}/in")
        sess = session_windows_plan(stream, gap=gap, delay=delay)
        return drain(spark, sess, "append", f"{base}/ck")


def click_attribution_stream(
    spark: SparkSession,
    events: DataFrame,
    horizon_min: int = 30,
    watermark: str = "31 days",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: attribute each click to
    every view by the same user within the preceding ``horizon_min``
    minutes — the canonical two-stream join (views and clicks arrive as
    independent streams; Spark buffers both sides in state, and the
    time-range condition + watermark bound how long view-state must be
    kept: view rows older than horizon + allowed lateness are evicted).

    Batch parity: with a watermark covering the input's full event-time
    span nothing is dropped as late, so the drained AvailableNow result
    equals the batch/DuckDB interval join EXACTLY (test + oracle assert
    this). Production tightens the watermark to the real lateness bound —
    correctness of on-time rows is unchanged; state becomes bounded.
    The join itself shuffles both streams on user_id (equi-key) — the
    range predicate refines within the key group, never a cross join.

    TZ note: watermarks demand TIMESTAMP (instant), not NTZ. The instant
    is built as timestamp_micros(ntz-as-UTC epoch) via TZ-free field
    extraction (logspark.timeutil) — NOT a CAST, whose wall->instant map
    goes through the session zone and is non-monotonic across DST folds.
    All comparisons then happen on absolute instants: session-TZ-proof."""
    from logspark import timeutil

    instant = F.timestamp_micros(F.expr(timeutil.ntz_epoch_us_sql("ts")))
    with _scratch() as base:
        # 8 files / 4 per trigger -> two micro-batches: view-state buffered
        # in batch 1 must join clicks arriving in batch 2 (and the
        # watermark must not evict it), which two batches prove at a
        # quarter of the per-batch join-state commit cost of eight
        events.repartition(8).write.mode("overwrite").parquet(f"{base}/in")

        def src():
            return (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 4)
                .parquet(f"{base}/in")
            )

        views = (
            src()
            .filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                "user_id",
                instant.alias("view_ts"),
            )
            .withWatermark("view_ts", watermark)
        )
        clicks = (
            src()
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user_id"),
                instant.alias("click_ts"),
            )
            .withWatermark("click_ts", watermark)
        )
        joined = views.join(
            clicks,
            F.expr(
                "user_id = c_user_id AND click_ts >= view_ts "
                f"AND click_ts <= view_ts + interval {horizon_min} minutes"
            ),
        ).select("view_id", "click_id", "user_id")
        return drain(spark, joined, "append", f"{base}/ck")


def slo_alerts_via_stream(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Streaming SLO monitor: per (source, day, hour) request / 5xx
    counts with the batch ledger's breach flag (``status.slo_breached``) —
    the alerting view a production log pipeline keeps hot while the
    batch ledger (status.slo_error_budget) runs daily.

    Parity harness shape (same discipline as route_counts_via_stream):
    materialize the corpus to scratch parquet, drain it AvailableNow
    through the SAME parse/route expressions as batch, aggregate in
    complete mode — the hour keys are TZ-free integer fields of the
    parsed event time, so the final table must equal the batch / DuckDB
    oracle exactly. Production shape: the same plan over a file/Kafka
    stream with update mode + a watermark sized to the alert latency;
    state is one row per (source, day, hour) — keyset-sized, bounded by
    retention, never corpus-sized.
    """
    with _scratch() as base:
        corpus.repartition(16).write.mode("overwrite").parquet(f"{base}/in")
        stream = read_corpus_stream(spark, f"{base}/in", max_files=None)
        routed = pipeline.routed_hits(spark, stream).filter(F.col("parsed_ok"))
        agg = routed.groupBy(
            "source",
            F.dayofmonth("ts").alias("day"),
            F.hour("ts").alias("hour"),
        ).agg(
            F.count("*").alias("n_req"),
            F.sum(F.when(F.col("status") >= 500, 1).otherwise(0)).alias("n_5xx"),
        )
        out = agg.select(
            "source",
            "day",
            "hour",
            "n_req",
            "n_5xx",
            status.slo_breached(),
        )
        return drain(spark, out, "complete", f"{base}/ck")
