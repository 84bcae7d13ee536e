"""spark-submit entry point: the full resumable production job.

    spark-submit --py-files logspark.zip logspark/job.py \
        --input /data/corpus --output /data/sinks --checkpoint /data/ctrl \
        --partitions 4096 --run-id run-2026-08-16

Stages (mirrors the reference control loop, SURVEY.md §3 E1/E2/E3):
  1. RESUME from control metadata alone: the pending part ids are
     range(--partitions) minus the LOADED ids in the control store (read
     only when its directory exists). Nothing pending -> the run reads no
     corpus, writes nothing, commits nothing and reports rows=0 — the
     reference likewise skips a LOADED file without opening it
     (lib_database.py:192-217)
  2. read the tokenized parquet corpus, assign explicit hash partitions on
     doc_id (north_rule), keep the pending ones with a literal part_id
     filter
  3. detokenize -> detect -> parse -> enrich -> route (one narrow pass,
     observe() counters riding along)
  4. fan-out write, physically partitioned by (sink, part_id), after one
     part_id shuffle so each directory is written by exactly one task
     (Iceberg write.distribution-mode=hash analog; sinks.write_fanout)
  5. commit per-partition control rows read back from the written sinks
     (+ lineage rows with --metrics-dir)

Crash-replay commit protocol (parquet fallback for Iceberg's snapshot
commit; reference analog: per-file status rows, /root/reference/libs/
lib_database.py:101-117):

  * data is written with dynamic partition OVERWRITE keyed on
    (sink, part_id) — never append. A kill between the data write and the
    control append leaves partitions pending; the resume replays them and
    the overwrite REPLACES their files, so no duplicate rows can survive.
  * control rows are appended strictly AFTER the data write. Invariant:
    a committed control row implies its partition's data is durable; a
    missing control row implies the partition will be rewritten
    idempotently. (Iceberg gets the same via atomic overwritePartitions +
    a control MERGE in one transaction.)
  * part_id = pmod(xxhash64(doc_id), N) is content-only, so range(N) names
    every partition the corpus can hold. A part id with no corpus rows gets
    no control row and stays pending: its replay scans and writes nothing.
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import functions as F

from logspark import control, metrics, pipeline, sinks
from logspark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument(
        "--metrics-dir",
        default=None,
        help="append per-partition lineage rows here (keyed by logical "
        "part_id; the partition_key column records that). NOTE: emitted "
        "only when this run had pending partitions — a fully-resumed run "
        "writes no data and therefore no lineage rows",
    )
    p.add_argument("--partitions", type=int, default=256)
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument(
        "--anonymize-ip",
        type=int,
        default=0,
        choices=[0, 1, 2, 3, 4],
        metavar="N",
        help="privacy scrub before anything lands in a sink: zero the "
        "trailing N IPv4 octets of the parsed client IP (Matomo "
        "privacy.ipAddressMaskLength analog; 0 = off). Scrubs BOTH the "
        "parsed ip column AND the token array (the tokens are the raw "
        "line's code points, so masking ip alone would leave the address "
        "recoverable from every sink row) in the same narrow pass — the "
        "raw address never lands in any sink column",
    )
    args = p.parse_args(argv)

    spark = get_spark(cores=args.cores, app="logspark-job")

    t0 = time.time()
    store = control.CheckpointStore(spark, args.checkpoint)
    loaded = store.loaded_ids()
    pending_ids = [p for p in range(args.partitions) if p not in loaded]
    if not pending_ids:
        _report(args.run_id, {"rows_total": 0}, time.time() - t0)
        return 0

    corpus = control.with_partition_id(
        spark.read.parquet(args.input), args.partitions
    )
    todo = control.pending_partitions(corpus, store, loaded)

    obs = metrics.route_observation()
    routed = pipeline.routed_hits(spark, todo, observation=obs)
    if args.anonymize_ip:
        from logspark import enrich
        from logspark import tokens as tokmod

        masked = enrich.anonymize_ip(keep_octets=4 - args.anonymize_ip)
        # PII closure: tokens ARE the raw line (per-character code points),
        # so the raw address must be scrubbed there too — literal-replace
        # every occurrence of the raw ip in the already detokenized line
        # with the masked form, retokenize. All codegen'd column math in
        # the same narrow pass; rows with no parsed IP keep their tokens
        # verbatim (the per-row token-equality invariant holds for every
        # non-PII row).
        scrubbed_line = F.replace(F.col("line"), F.col("ip"), masked)
        routed = (
            routed.withColumn(
                "tokens",
                F.when(
                    F.col("ip").isNull(), F.col("tokens")
                ).otherwise(tokmod.tokenize(scrubbed_line)),
            )
            .withColumn("n_tok", F.size("tokens"))
            .withColumn("ip", masked)
        )
    sinks.write_fanout(routed, args.output, partition_cols=["sink", "part_id"])

    observed = obs.get
    if not metrics.conservation_ok(observed):
        print(f"CONSERVATION VIOLATION: {observed}", file=sys.stderr)
        return 2

    # control/lineage stats re-read ONLY this run's output: part_id is a
    # physical partition directory, so the isin() literal filter prunes at
    # file-listing time — cost is proportional to THIS run's rows (and only
    # the route column is read), never to accumulated history. Reading back
    # what was actually written (vs aggregating `routed` pre-write) makes
    # the control row attest to durable rows. (An Iceberg table would give
    # this free from the committed snapshot's manifest metadata.) A run
    # whose pending part ids hold no corpus rows wrote nothing, so it has
    # nothing to commit and maybe no sink files to read back.
    if observed["rows_total"]:
        this_run = (
            spark.read.parquet(args.output)
            .filter(F.col("part_id").isin(pending_ids))
            .select("part_id", "route")
        )
        store.append(control.partition_stats(this_run, args.run_id))

        if args.metrics_dir:
            # lineage from the SAME pruned two-column readback — never from
            # the live `routed` plan, which would re-run the entire parse
            # pass a second time just for metrics (at 50M rows that
            # duplicate pass GC-thrashed a 32g single-JVM driver to death)
            metrics.lineage_counts(
                this_run, args.run_id, "route", key="part_id"
            ).write.mode("append").parquet(args.metrics_dir)

    _report(args.run_id, observed, time.time() - t0)
    return 0


def _report(run_id: str, observed: dict, dt: float) -> None:
    rows = observed["rows_total"]
    print(
        f"run_id={run_id} rows={rows} secs={dt:.1f} "
        f"throughput={rows / dt if dt else 0:.0f} rows/s counters={observed}"
    )


if __name__ == "__main__":
    raise SystemExit(main())
