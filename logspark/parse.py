"""Parse stage: detect format -> shared record columns -> unified hit schema.

One narrow DataFrame pass, all JVM-side expressions, structured as stacked
slim projections so each expensive subexpression (regex pass, JSON parse,
splits) is evaluated exactly once per row (see logspark/formats.py docstring
for the measured rationale). Unified output schema per FIXTURES.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logspark import formats, rules

RECORD_COLS = ["rec_n", "rec_s", "rec_t", "j"]


def parse_lines(df: DataFrame) -> DataFrame:
    """df(line, ...) -> df + (fmt, ip, ts_str, ts, method, path, stem, query,
    ext, status, nbytes, referrer, user_agent, parsed_ok).

    Carries every input column through untouched (token-array invariant)."""
    df = formats.with_records(df)
    df = df.withColumns(formats.field_columns()).drop(*RECORD_COLS)
    df = df.withColumns(
        {
            "parsed_ok": F.col("ip").isNotNull(),
            "ts": formats.ts_expr(F.col("fmt"), F.col("ts_str")),
            "stem": rules.stem_expr(F.col("path")),
            "query": rules.query_expr(F.col("path")),
        }
    )
    return df.withColumn(
        "ext", F.lower(F.regexp_extract(F.col("stem"), r"\.([A-Za-z0-9]+)$", 1))
    )


def enriched_ext_kind(df: DataFrame, spark) -> DataFrame:
    """Broadcast-hash-join enrichment against the extension lookup table
    (north_rule's lookup-enrichment stage; analog of the reference's dict
    lookups /root/reference/libs/values.py:55-82 -> SURVEY.md J1)."""
    lookup = F.broadcast(rules.ext_lookup_df(spark))
    return df.join(lookup, on="ext", how="left")
