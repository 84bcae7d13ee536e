#!/usr/bin/env python3
"""Toy-scale self-test of the benchmark (3,000-row corpus, one pass each).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that:
  * ``--trace 0`` prints every end_to_end metric and ``--trace 1`` every
    per_layer metric, each with its declared unit and a numeric value, and
    the oracle check passes;
  * ``--tamper-oracle`` (one row added to an expected route count) turns the
    run into a failure;
and that run.py exits non-zero without a result line when the logspark
sources are missing. Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")
ROWS = "3000"


def bench(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--rows", ROWS, *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def result(p: subprocess.CompletedProcess) -> dict:
    if p.returncode != 0:
        raise SystemExit(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [wl["name"] for wl in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = result(bench(ROOT, w, trace))
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} --trace {trace}: every {key} metric with its unit")
            expect(
                all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                f"{w} --trace {trace}: numeric values",
            )
            expect(
                res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                f"{w} --trace {trace}: oracle check passes",
            )
        res = result(bench(ROOT, w, 0, "--tamper-oracle"))
        expect(not res["correct"] and res["failed"] >= 1, f"{w}: tampered expected count fails")
        expect(res["metrics"]["ok_frac"]["value"] < 1, f"{w}: tampered run lowers ok_frac")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = bench(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare)
    expect(p.returncode != 0 and '"correct"' not in p.stdout, "no logspark sources: non-zero exit, no result")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
