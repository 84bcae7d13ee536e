"""Routing: one CASE column, first-match-wins, then fan-out.

The taxonomy is the reference's summary-counter partition of all input lines
(/root/reference/libs/lib_summary.py:10-20; persisted columns
/root/reference/models/declarative.py:33-42): every line is either imported
(visit/download/outlink) or ignored for exactly one reason. Conservation law:
sum over routes == input rows EXACTLY (reference tolerates ±1 only because it
re-parsed stdout — lib_summary.py:60-65; we control both sides).

Route decisions are pure functions of row content (never of partition id or
order), so routed-row sets are stable under any re-partitioning — required
for exact routed-row equality (SURVEY.md §7.3 hard parts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logspark import rules

ROUTE_TO_SINK = {
    "invalid": "errors",
    "http_error": "errors",
    "redirect": "ignored",
    "bot": "ignored",
    "static": "ignored",
    "filtered": "ignored",
    "download": "downloads",
    "outlink": "outlinks",
    "visit": "visits",
}

ROUTES = list(ROUTE_TO_SINK)


def route_expr() -> Column:
    """First-match-wins route CASE over the parsed, enriched hit columns
    (lazy per-row evaluation; a row stops at its first matching class,
    mirroring import_logs' rule order). The always-invalid source set fires
    FIRST — the reference marks those files INVALID at discovery, before any
    parsing (values.py:88-95, lib_database.py:87-90)."""
    return (
        F.when(rules.is_invalid_source(F.col("source")), "invalid")
        .when(~F.col("parsed_ok"), "invalid")
        .when(F.col("status") >= 400, "http_error")
        .when(F.col("status") >= 300, "redirect")
        .when(rules.is_bot(F.col("user_agent")), "bot")
        .when(F.col("ext_kind") == "static", "static")
        .when(
            rules.is_excluded_path(F.col("stem"))
            | rules.date_conditional_filtered(F.col("source"), F.col("ts")),
            "filtered",
        )
        .when(F.col("ext_kind") == "download", "download")
        .when(F.col("query").startswith("to=http"), "outlink")
        .otherwise("visit")
    )


def sink_expr(route: Column) -> Column:
    c = F
    for r, s in ROUTE_TO_SINK.items():
        c = c.when(route == r, s)
    return c


def route_counts(routed: DataFrame) -> DataFrame:
    """Per-route aggregate counts (the engine-native replacement for parsing
    importer stdout — SURVEY.md §0.1). Map-side partial agg; 9 groups."""
    return routed.groupBy("route").agg(F.count("*").alias("cnt"))
