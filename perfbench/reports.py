"""The read path: the nine reports over committed sink files.

The sinks keep the parsed fields (ip, ts, path, user_agent, route, ...) but
not the parse stage's derived columns, so the report input re-derives
``parsed_ok`` (parse_lines: the client ip parsed) and ``stem``/``query``
(the rules module's path split) from them. Nothing is detokenized or
re-parsed.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import functions as F

from logspark import actions, rules, status, visits
from oracle import REPORTS

MODULES = {"visits": visits, "actions": actions, "status": status}
SINK_COLUMNS = ["doc_id", "source", "route", "ip", "ts", "path", "user_agent"]


def report_input(spark, sinks_dir: str):
    return (
        spark.read.parquet(sinks_dir)
        .select(*SINK_COLUMNS)
        .withColumns(
            {
                "parsed_ok": F.col("ip").isNotNull(),
                "stem": rules.stem_expr(F.col("path")),
                "query": rules.query_expr(F.col("path")),
            }
        )
    )


def _no_span(name):
    return contextlib.nullcontext()


def run_reports(spark, sinks_dir: str, span=_no_span) -> dict:
    """{report name: collected rows}. The visit reports share one
    sessionization pass, materialized once (as ``__spark_entry__`` does);
    ``span(name)`` wraps each call when the pass is traced."""
    hits = report_input(spark, sinks_dir)
    with span("visits.sessionize"):
        sessions = visits.sessionize_hits(hits.filter(F.col("parsed_ok"))).localCheckpoint(
            eager=True
        )
    out = {}
    for mod, fn, _ in REPORTS:
        report = getattr(MODULES[mod], fn)
        with span(f"{mod}.{fn}"):
            if mod == "visits":
                df = report(sessions, sessionized=True)
            elif mod == "actions":
                df = report(hits)
            else:
                df = report(hits, spark)
            out[fn] = df.collect()
    return out
