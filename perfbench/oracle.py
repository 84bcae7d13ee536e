"""DuckDB ground truth for the benchmark's outputs.

Everything here is computed from the generation formulas in
``logspark.gen_sql`` (never by parsing), over the same range relation the
benchmark's corpus was generated from, so a match means the Spark job
detokenized, parsed, routed and aggregated every row correctly.
"""

from __future__ import annotations

import datetime
from collections import Counter
from decimal import Decimal

import duckdb

import __spark_entry__ as entry
from logspark import gen_sql, status

# (module, report function, oracle_sql() key) for the nine read-path reports
REPORTS = [
    ("visits", "visit_daily_stats", "log_visits"),
    ("visits", "entry_exit_pages", "visit_entry_exit"),
    ("visits", "visitor_frequency", "visitor_frequency"),
    ("visits", "unique_visitors_daily", "unique_visitors_daily"),
    ("visits", "campaign_attribution", "campaign_attribution"),
    ("actions", "outlink_domains", "outlink_domains"),
    ("actions", "site_search_keywords", "site_search_keywords"),
    ("actions", "trending_paths", "trending_paths"),
    ("status", "rollup_date_status", "log_date_status"),
]

# the oracle renders the date-status state as text, rollup_date_status as
# the status module's integer codes
_STATUS_CODES = {
    "LOADED": status.S_LOADED,
    "PARTIAL": status.S_PARTIAL,
    "QUEUE": status.S_QUEUE,
}


def routed_counts(n: int, start: int) -> Counter:
    """{(route, sink): rows} over rows [start, start + n)."""
    rel = gen_sql.rel_from_range(n, start)
    sql = (
        "SELECT route, sink, COUNT(*) FROM ("
        + gen_sql.oracle_routed_sql(rel)
        + ") o GROUP BY route, sink"
    )
    with duckdb.connect() as con:
        return Counter({(r, s): c for r, s, c in con.execute(sql).fetchall()})


def report_tables(n: int, start: int) -> dict[str, tuple[list[str], list[tuple]]]:
    """Per report: (column names, normalized rows) from the
    ``__spark_entry__.oracle_sql()`` query, re-pointed from the
    ``documents`` table at the range relation."""
    docs = gen_sql.rel_from_documents("documents")
    rel = gen_sql.rel_from_range(n, start)
    sqls = entry.oracle_sql()
    out = {}
    with duckdb.connect() as con:
        for _, fn, key in REPORTS:
            sql = sqls[key]
            if docs not in sql:
                raise ValueError(f"oracle {key!r} does not read the documents relation")
            cur = con.execute(sql.replace(docs, rel))
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            if key == "log_date_status":
                i = cols.index("status")
                rows = [r[:i] + (_STATUS_CODES[r[i]],) + r[i + 1 :] for r in rows]
            out[fn] = (cols, normalize(rows))
    return out


def _value(v):
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return round(v, 9)
    return v


def normalize(rows) -> list[tuple]:
    """Order-free, engine-free rendering of result rows."""
    return sorted((tuple(_value(v) for v in r) for r in rows), key=repr)


def spark_rows(rows, cols: list[str]) -> list[tuple]:
    """Spark Rows projected onto the oracle's column order, normalized."""
    return normalize([tuple(r[c] for c in cols) for r in rows])
