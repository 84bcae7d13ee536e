"""The traced pass: per-layer self times, counts and Spark stage metrics.

Three parts, each call wrapped in a span:

  * prefix materializations through the ``noop`` sink — scan, tokens
    (detokenize), parse, rules (extension lookup join), route, metrics
    (the Observation counters) — so a layer's self time is
    median(prefix k) - median(prefix k-1), over PREFIX_REPS interleaved runs;
  * the job's stages as job.main calls them (control.pending_partitions,
    sinks.write_fanout, readback + partition_stats + CheckpointStore.append)
    over a fresh output dir and empty checkpoint store;
  * the nine reports over what that job wrote.

The pass runs in a SparkContext with the event log on; stage metrics are
attributed to spans through the job group each span sets.
"""

from __future__ import annotations

import os
import statistics
from collections import Counter

from pyspark.sql import functions as F

import reports
import spans
from measure import data_files
from logspark import control, metrics, parse, pipeline, sinks
from logspark.route import ROUTES

PREFIX_REPS = 3
REPORT_SPANS = ["visits.sessionize"] + [f"{m}.{fn}" for m, fn, _ in reports.REPORTS]
# the spans that scan sink files; the other visit reports read the
# materialized sessionization instead
SINK_READERS = [s for s in REPORT_SPANS if not s.startswith("visits.") or s == "visits.sessionize"]


def _prefixes(spark):
    return [
        ("scan", lambda c: c),
        ("tokens", lambda c: pipeline.detokenized(c)),
        ("parse", lambda c: parse.parse_lines(pipeline.detokenized(c))),
        ("rules", lambda c: parse.enriched_ext_kind(parse.parse_lines(pipeline.detokenized(c)), spark)),
        ("route", lambda c: pipeline.routed_hits(spark, c)),
        ("metrics", lambda c: pipeline.routed_hits(spark, c, observation=metrics.route_observation())),
    ]


def traced_walk(bench, untraced_wall: float) -> tuple[dict, list[str]]:
    spark, sc = bench.spark, bench.spark.sparkContext
    tracer = spans.Tracer(sc, bench.run_id)
    span = tracer.span
    out = os.path.join(bench.dir, "walk_out")
    ck = os.path.join(bench.dir, "walk_ck")

    def corpus():
        return control.with_partition_id(spark.read.parquet(bench.corpus), bench.partitions)

    problems = []
    with span("walk"):
        prefixes = _prefixes(spark)
        for _ in range(PREFIX_REPS):
            for name, build in prefixes:
                df = build(corpus())
                with span(f"prefix.{name}"):
                    df.write.format("noop").mode("overwrite").save()
        with span("ratios"):
            ratios = (
                pipeline.routed_hits(spark, corpus())
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.col("parsed_ok").cast("int")).alias("parsed_ok"),
                    F.sum((F.col("ext") != "").cast("int")).alias("ext_tried"),
                    F.sum(F.col("ext_kind").isNotNull().cast("int")).alias("ext_hit"),
                )
                .first()
            )

        with span("job"):
            store = control.CheckpointStore(spark, ck)
            todo = control.pending_partitions(corpus(), store)
            with span("control.pending"):
                pending_ids = [r[0] for r in todo.select("part_id").distinct().collect()]
            obs = metrics.route_observation()
            routed = pipeline.routed_hits(spark, todo, observation=obs)
            with span("sinks.write"):
                sinks.write_fanout(
                    routed, out, mode="overwrite", distribution="partitioned",
                    partition_cols=["sink", "part_id"],
                )
            observed = obs.get
            with span("control.commit"):
                this_run = (
                    spark.read.parquet(out)
                    .filter(F.col("part_id").isin(pending_ids))
                    .select("part_id", "route")
                )
                store.append(control.partition_stats(this_run, bench.run_id))
        problems += bench.check_counters(observed)

        with span("reports"):
            results = reports.run_reports(spark, out, span)
        if bench.args.workload == "reports":
            problems += bench.check_reports(results)

    sink_files = data_files(out)
    bench.stop_spark()
    stages = spans.stage_totals(os.path.join(bench.dir, "eventlog"))

    def self_time(name: str, below: str | None) -> float:
        t = statistics.median(tracer.durations(f"prefix.{name}"))
        return t - (statistics.median(tracer.durations(f"prefix.{below}")) if below else 0.0)

    def span_s(name: str) -> float:
        return sum(tracer.durations(name))

    unit = "job" if bench.args.workload == "ingest" else "reports"
    everything = sum(stages.values(), start=Counter())
    m = {
        "scan.self_s": (self_time("scan", None), "s"),
        "scan.input_bytes": (stages["prefix.scan"]["input_bytes"] / PREFIX_REPS, "bytes"),
        "tokens.self_s": (self_time("tokens", "scan"), "s"),
        "parse.self_s": (self_time("parse", "tokens"), "s"),
        "parse.parsed_ok_ratio": (ratios["parsed_ok"] / ratios["rows"], "ratio"),
        "rules.self_s": (self_time("rules", "parse"), "s"),
        "rules.ext_match_ratio": (ratios["ext_hit"] / max(1, ratios["ext_tried"]), "ratio"),
        "route.self_s": (self_time("route", "rules"), "s"),
        **{f"route.rows.{r}": (observed.get(f"route_{r}", 0), "count") for r in ROUTES},
        "metrics.observe_s": (self_time("metrics", "route"), "s"),
        "sinks.write_s": (span_s("sinks.write"), "s"),
        "sinks.files": (len(sink_files), "count"),
        "sinks.bytes": (sum(os.path.getsize(f) for f in sink_files), "bytes"),
        "sinks.shuffle_write_bytes": (stages["sinks.write"]["shuffle_write_bytes"], "bytes"),
        "sinks.spill_bytes": (stages["sinks.write"]["spill_bytes"], "bytes"),
        "control.pending_s": (span_s("control.pending"), "s"),
        "control.pending_ratio": (observed.get("rows_total", 0) / bench.n, "ratio"),
        "control.commit_s": (span_s("control.commit"), "s"),
        "control.readback_bytes": (stages["control.commit"]["input_bytes"], "bytes"),
        **{f"{name.replace('.rollup_date_status', '.rollup')}_s": (span_s(name), "s") for name in REPORT_SPANS},
        "visits.shuffle_bytes": (
            sum(stages[s]["shuffle_write_bytes"] for s in REPORT_SPANS if s.startswith("visits.")),
            "bytes",
        ),
        "scan.sink_read_bytes": (sum(stages[s]["input_bytes"] for s in SINK_READERS), "bytes"),
        "jvm.gc_s": (everything["gc_ms"] / 1e3, "s"),
        "jvm.task_cpu_s": (everything["cpu_ns"] / 1e9, "s"),
        "jvm.tasks": (everything["tasks"], "count"),
        "trace.overhead_ratio": (span_s(unit) / untraced_wall - 1.0, "ratio"),
        "trace.spans": (len(tracer.spans), "count"),
        "host.cores": (bench.host["cores"], "count"),
        "host.driver_mb": (bench.host["driver_mb"], "MB"),
    }
    tracer.write(
        bench.trace_path,
        {"host": bench.host, "untraced_wall_s": untraced_wall, "metrics": m},
    )
    return m, problems
