"""Smoke test for bench.py — the driver's per-round feedback loop.

bench.py is the one script the round driver runs unattended; a refactor
that breaks its JSON contract would silently cost a round of benchmark
signal. This test runs the real script end-to-end at toy scale — tiny
corpus, two queries — and asserts the driver-facing contract:
ONE parseable JSON line with metric/value/unit/queries/sf plus the
pipeline and fanout_write sections.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")


def test_bench_emits_driver_contract_json(tmp_path):
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_CPUS": "4",
            "BENCH_CORPUS_ROWS": "20000",
            "BENCH_REPS": "1",
            "BENCH_QUERIES": "log_route_counts,dedup_exact",
            # keep the toy corpus out of the real bench cache
            "BENCH_CACHE_DIR": str(tmp_path / "bench_cache"),
            # ... and the sidecar out of the repo root
            "BENCH_SIDECAR": str(tmp_path / "sidecar.json"),
        }
    )
    out = subprocess.run(
        [sys.executable, BENCH],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, f"bench.py failed:\n{out.stderr[-2000:]}"

    line = next(
        (
            ln
            for ln in reversed(out.stdout.strip().splitlines())
            if ln.strip().startswith("{")
        ),
        None,
    )
    assert line, f"no JSON line on stdout: {out.stdout[-1000:]!r}"
    # the round-3 postmortem: the line itself must stay inside the
    # driver's tail capture, whatever the query count
    assert len(line) < 2048, f"stdout line is {len(line)}B (>2KB)"
    r = json.loads(line)

    # driver contract: ONE JSON line with these keys
    assert r["unit"] == "sec"
    assert r["bench_schema"] == 2
    assert isinstance(r["metric"], str) and r["metric"]
    assert isinstance(r["value"], (int, float)) and r["value"] > 0
    assert r["sf"] == 0.001
    assert set(r["queries"]) == {"log_route_counts", "dedup_exact"}
    assert all(t >= 0 for t in r["queries"].values())
    assert r["queries_n"] == 2
    assert r["queries_total_sec"] >= 0

    pipe = r["pipeline"]
    assert pipe["rows"] == 20000
    assert pipe["sec"] > 0 and pipe["rows_per_sec"] > 0

    fan = r["fanout_write"]
    assert fan["rows"] == 20000 and fan["sec"] > 0

    # bench.py measures no scaling: the section must be absent, not junk
    assert "scaling" not in r

    # full detail goes to the sidecar the compact line points at
    with open(r["queries_file"]) as fh:
        d = json.load(fh)
    assert set(d["queries"]) == {"log_route_counts", "dedup_exact"}
    assert set(d["corpus_prep"]) == {
        "routed",
        "neardup_pairs",
        "embedding_pairs",
        "ivf_index",
        "visit_sessions",
        "bpe_train",
        "scd2_dim",
    }
    assert d["pipeline"]["rows"] == 20000
