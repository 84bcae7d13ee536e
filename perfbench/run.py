#!/usr/bin/env python3
"""Oracle-checked benchmark of the logspark job and its report readers.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Workloads (closed loop, one client, local[<cores>] with cores = nproc):

  ingest   job.main over a fresh output dir and an empty checkpoint store
  reports  the nine visit/action/status reports over committed sinks

The seed picks the corpus: rows [seed * rows, (seed + 1) * rows) of the
deterministic generator (gen_sql.rel_from_range), tokenized by synth.corpus
and written as parquet during set-up. Every timed pass is checked against
DuckDB over the same range relation; a mismatch or an error counts as a
failed pass. ``--trace 1`` adds one traced pass (spans plus the Spark event
log) after the timed ones and prints the per-layer metrics instead of the
end-to-end ones. The last stdout line is the result as one JSON object.
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter

from measure import dir_bytes, host_sizing, jvm_cpu_s, jvm_peak_rss_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
# per-pass time is mostly Spark's per-query overhead at this size; the row
# count is what a run of two warm-ups plus timed passes affords on 4 cores
ROWS = 25_000
PARTITIONS = 8
# untimed passes before the clock starts: with one, the timed passes still
# sat on the JIT's warming curve (wall_s spread across seeds: 0.5 of the
# median for ingest, 0.24 for reports); with two, 0.07-0.13
WARMUP_PASSES = 2
# gen_sql renders doc ids with 12 digits; larger ids would collide
MAX_ROW_ID = 10**12


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Bench:
    """One benchmark process: set-up, timed passes, optional traced pass."""

    def __init__(self, args):
        self.args = args
        self.n = args.rows
        self.start = (args.seed % (MAX_ROW_ID // args.rows - 1)) * args.rows
        self.host = host_sizing()
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
        self.dir = os.path.join(WORK, self.run_id)
        self.corpus = os.path.join(self.dir, "corpus")
        self.partitions = PARTITIONS
        self.trace_path = os.path.join(WORK, "traces", self.run_id + ".json")
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.sink_ratio = 0.0

    # -- Spark session -------------------------------------------------------

    def start_spark(self, event_log: str | None = None):
        from logspark.session import get_spark

        extra = {
            "spark.driver.memory": f"{self.host['driver_mb']}m",
            "spark.local.dir": os.path.join(self.dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.defaultJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')} -XX:-UsePerfData"
            ),
        }
        if event_log:
            os.makedirs(event_log)
            extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(cores=self.host["cores"], app="perfbench", extra=extra)
        self.pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # -- checked passes ------------------------------------------------------

    def record(self, problems: list[str], what: str) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            log(f"FAILED {what}: " + "; ".join(problems))
        return not problems

    def run_job(self, out: str, ck: str) -> dict:
        """job.main over the corpus; returns its Observation counters."""
        from logspark import job

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = job.main(
                [
                    "--input", self.corpus,
                    "--output", out,
                    "--checkpoint", ck,
                    "--partitions", str(self.partitions),
                    "--run-id", self.run_id,
                    "--cores", str(self.host["cores"]),
                ]
            )
        if rc != 0:
            raise RuntimeError(f"job.main exited {rc}: {buf.getvalue()[-500:]}")
        return ast.literal_eval(buf.getvalue().split("counters=", 1)[1].strip())

    def check_counters(self, counters: dict) -> list[str]:
        from logspark.route import ROUTES

        want = Counter()
        for (route, _), c in self.expected.items():
            want[route] += c
        got = {r: counters.get(f"route_{r}", 0) for r in ROUTES}
        problems = []
        if counters.get("rows_total") != self.n:
            problems.append(f"observed rows_total {counters.get('rows_total')} != {self.n}")
        if got != {r: want[r] for r in ROUTES}:
            problems.append(f"observed route counts {got} != oracle {dict(want)}")
        return problems

    def check_ingest(self, counters: dict, out: str, ck: str) -> list[str]:
        from logspark import control, tokens

        problems = self.check_counters(counters)
        written = self.spark.read.parquet(out)
        per_part = written.groupBy("route", "sink", "part_id").count().collect()
        got, part_rows = Counter(), Counter()
        for r in per_part:
            got[(r["route"], r["sink"])] += r["count"]
            part_rows[r["part_id"]] += r["count"]
        if got != self.expected:
            problems.append(f"sink readback {dict(got)} != oracle {dict(self.expected)}")
        bad = tokens.token_invariant_violations(written).count()
        if bad:
            problems.append(f"{bad} sink rows violate the token invariant")
        ctl = self.spark.read.parquet(ck).collect()
        loaded = Counter(r["part_id"] for r in ctl if r["status"] == control.LOADED)
        if len(ctl) != len(part_rows) or set(loaded) != set(part_rows) or set(loaded.values()) != {1}:
            problems.append(
                f"control store holds {len(ctl)} rows for {len(loaded)} LOADED part_ids, "
                f"want one LOADED row for each of the {len(part_rows)} written"
            )
        elif any(r["rows_in"] != part_rows[r["part_id"]] for r in ctl):
            problems.append("control rows_in differ from the rows written per part_id")
        return problems

    def check_reports(self, results: dict) -> list[str]:
        import oracle

        problems = []
        for name, (cols, want) in self.report_oracle.items():
            got = oracle.spark_rows(results[name], cols)
            if got != want:
                problems.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
        return problems

    # -- workloads -----------------------------------------------------------

    def ingest_pass(self) -> tuple[float, float, bool]:
        out = os.path.join(self.dir, "out")
        ck = os.path.join(self.dir, "ck")
        for d in (out, ck):
            shutil.rmtree(d, ignore_errors=True)
        c0, t0 = jvm_cpu_s(self.pid), time.perf_counter()
        try:
            counters = self.run_job(out, ck)
        except Exception:  # noqa: BLE001 — a failing pass is counted, not fatal
            log(traceback.format_exc())
            return 0.0, 0.0, self.record(["job.main raised"], "ingest")
        wall, cpu = time.perf_counter() - t0, jvm_cpu_s(self.pid) - c0
        self.sink_ratio = dir_bytes(out) / self.corpus_bytes
        return wall, cpu, self.record(self.check_ingest(counters, out, ck), "ingest")

    def reports_pass(self) -> tuple[float, float, bool]:
        import reports

        c0, t0 = jvm_cpu_s(self.pid), time.perf_counter()
        try:
            results = reports.run_reports(self.spark, self.sinks)
        except Exception:  # noqa: BLE001 — a failing pass is counted, not fatal
            log(traceback.format_exc())
            return 0.0, 0.0, self.record(["reports raised"], "reports")
        wall, cpu = time.perf_counter() - t0, jvm_cpu_s(self.pid) - c0
        return wall, cpu, self.record(self.check_reports(results), "reports")

    def setup(self) -> None:
        """JVM start, corpus, oracle, and the checked, untimed warm-up passes."""
        import oracle

        from logspark import synth

        t0 = time.perf_counter()
        self.start_spark()
        log(f"t={time.perf_counter() - t0:.1f}s jvm up, pid={self.pid} {self.host}; corpus")
        synth.corpus(self.spark, self.n, start=self.start).write.mode("overwrite").parquet(self.corpus)
        self.corpus_bytes = dir_bytes(self.corpus)
        log(f"t={time.perf_counter() - t0:.1f}s oracle")
        self.expected = oracle.routed_counts(self.n, self.start)
        if self.args.tamper_oracle:
            self.expected[("visit", "visits")] += 1
        if self.args.workload == "ingest":
            self.pass_fn = self.ingest_pass
        else:
            self.sinks = os.path.join(self.dir, "sinks")
            sinks_ck = os.path.join(self.dir, "sinks_ck")
            counters = self.run_job(self.sinks, sinks_ck)
            self.record(self.check_ingest(counters, self.sinks, sinks_ck), "sinks set-up")
            self.sink_ratio = dir_bytes(self.sinks) / self.corpus_bytes
            self.report_oracle = oracle.report_tables(self.n, self.start)
            self.pass_fn = self.reports_pass
        log(f"t={time.perf_counter() - t0:.1f}s warm-up")
        for _ in range(WARMUP_PASSES):
            self.pass_fn()
        self.setup_s = time.perf_counter() - t0
        log(f"set-up {self.setup_s:.1f}s")

    def measure(self) -> None:
        """Closed loop: back-to-back passes for --seconds. A pass starts only
        while one more, as long as the last, still ends inside the window
        (the first always runs)."""
        start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            wall, cpu, ok = self.pass_fn()
            if ok:
                self.walls.append(wall)
                self.cpus.append(cpu)
            log(f"pass wall={wall:.3f}s cpu={cpu:.2f}s ok={ok}")
            now = time.perf_counter()
            if now - start + (now - t0) > self.args.seconds:
                break
        self.peak_rss_mb = jvm_peak_rss_mb(self.pid)

    def end_to_end(self) -> dict:
        ok = self.attempted - self.failed
        walls, cpus = self.walls or [0.0], self.cpus or [0.0]
        return {
            "wall_s": (statistics.median(walls), "s"),
            "rows_per_s": (statistics.median([self.n / w if w else 0.0 for w in walls]), "rows/s"),
            "cpu_s": (statistics.median(cpus), "s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "sink_bytes_per_input_byte": (self.sink_ratio, "ratio"),
            "ok_frac": (ok / self.attempted, "ratio"),
            "setup_s": (self.setup_s, "s"),
        }

    def traced(self) -> dict:
        import walk

        untraced = statistics.median(self.walls or [float("inf")])
        # a new SparkContext in the same (warm) JVM, with the event log on
        self.spark.stop()
        ev_dir = os.path.join(self.dir, "eventlog")
        self.start_spark(event_log=ev_dir)
        metrics, problems = walk.traced_walk(self, untraced)
        self.record(problems, "traced pass")
        return metrics

    def run(self) -> dict:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        # job.main calls get_spark too; keep its heap request at this size
        os.environ["LOGSPARK_DRIVER_MEM"] = f"{self.host['driver_mb']}m"
        # Python workers (the corpus's Arrow tokenizer) import logspark
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        )
        try:
            self.setup()
            self.measure()
            metrics = self.traced() if self.args.trace else self.end_to_end()
        finally:
            with contextlib.suppress(Exception):
                self.stop_spark()
            shutil.rmtree(self.dir, ignore_errors=True)
        return metrics


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "reports"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--rows", type=int, default=ROWS, help="corpus rows")
    p.add_argument(
        "--tamper-oracle",
        action="store_true",
        help="self-test: add one row to an expected count, so every check must fail",
    )
    args = p.parse_args(argv)
    if args.seed < 0 or args.rows < 1:
        p.error("--seed must be >= 0 and --rows >= 1")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, BENCH_DIR]
    try:
        import __spark_entry__  # noqa: F401 — the oracle SQL lives here
        import logspark
    except ImportError as e:
        log(f"cannot import the logspark sources from {ROOT}: {e}")
        return 2
    if os.path.dirname(os.path.abspath(logspark.__file__)) != os.path.join(ROOT, "logspark"):
        log(f"logspark was imported from {logspark.__file__}, not from {ROOT}")
        return 2
    bench = Bench(args)
    metrics = bench.run()
    print(f"# host cores={bench.host['cores']} driver_mb={bench.host['driver_mb']} "
          f"mem_total_mb={bench.host['mem_total_mb']} rows={bench.n} start={bench.start}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
