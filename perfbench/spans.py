"""Spans and Spark event-log attribution for the benchmark's traced run.

A span is recorded around each call into a logspark layer and tags the
Spark jobs it starts with ``setJobGroup(span name)``. The event log written
by the traced SparkContext then attributes every task's metrics (executor
CPU, GC, input/output bytes, shuffle bytes, spill) to the span whose job
group the task's stage ran under. Spans stay in memory until ``write``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent, parent)
            self.spans.append(
                {
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "run_id": self.run_id,
                }
            )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f, indent=1)


def _task_metrics(m: dict) -> Counter:
    shuffle_read = m.get("Shuffle Read Metrics", {})
    return Counter(
        {
            "tasks": 1,
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
            "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
            "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            ),
            "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
            + shuffle_read.get("Local Bytes Read", 0),
            "spill_bytes": m.get("Disk Bytes Spilled", 0),
        }
    )


def stage_totals(event_log_dir: str) -> dict[str | None, Counter]:
    """{job group: summed task metrics} from the one event log in the dir."""
    (name,) = [f for f in os.listdir(event_log_dir) if not f.startswith(".")]
    stage_group: dict[int, str | None] = {}
    totals: dict[str | None, Counter] = defaultdict(Counter)
    with open(os.path.join(event_log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                totals[group] += _task_metrics(ev.get("Task Metrics") or {})
    return totals
