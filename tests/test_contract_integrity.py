"""Source-level integrity of the driver contract in __spark_entry__.py.

A Python dict literal with a duplicated key silently keeps the LAST
binding — a duplicated query name in ``queries()`` or ``oracle_sql()``
would shadow an implementation (or pair a query with the wrong oracle)
with no runtime error anywhere. These tests parse the module's AST and
fail on the duplicate itself, at the source, without starting Spark.
"""

import ast
import os

ENTRY = os.path.join(os.path.dirname(__file__), os.pardir, "__spark_entry__.py")


def _fn(funcname: str) -> ast.FunctionDef:
    tree = ast.parse(open(ENTRY).read())
    return next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == funcname
    )


def _literal_keys(funcname: str) -> list[str]:
    """All string keys across the function's dict literals (each literal
    is also individually free of internal duplicates by construction of
    this list — duplicates inside ONE literal show up twice here) plus
    `d["key"] = ...` subscript assignments."""
    keys: list[str] = []
    for node in ast.walk(_fn(funcname)):
        if isinstance(node, ast.Dict):
            for k in node.keys:
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    keys.append(k.value)
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if (
                    isinstance(t, ast.Subscript)
                    and isinstance(t.slice, ast.Constant)
                    and isinstance(t.slice.value, str)
                ):
                    keys.append(t.slice.value)
    assert keys, f"{funcname}: no dict keys found"
    return keys


def test_queries_has_no_duplicate_keys():
    keys = _literal_keys("queries")
    dupes = sorted(k for k in set(keys) if keys.count(k) > 1)
    assert not dupes, f"duplicate queries() keys: {dupes}"


def test_oracle_sql_has_no_duplicate_keys():
    keys = _literal_keys("oracle_sql")
    dupes = sorted(k for k in set(keys) if keys.count(k) > 1)
    assert not dupes, f"duplicate oracle_sql() keys: {dupes}"


def test_every_oracle_has_a_query():
    q = set(_literal_keys("queries"))
    o = set(_literal_keys("oracle_sql"))
    assert o <= q, f"oracle_sql keys missing from queries(): {sorted(o - q)}"


def test_oracle_outputs_bind_to_no_decimal_types():
    """Driver-hash dtype discipline: DuckDB returns an uncast SUM(BIGINT)
    as decimal128 over Arrow while Spark returns int64; the driver's value
    hash is dtype-sensitive, so a value-correct query gets a red stamp
    (round-4 postmortem: six visit-report/HLL oracles). No source table
    carries DECIMAL, so Spark never emits one — therefore NO oracle output
    column may bind to DECIMAL/HUGEINT. Binding (relation .types) is
    plan-only: no query executes, the whole sweep is sub-second."""
    import duckdb
    import sys

    sys.path.insert(0, os.path.dirname(ENTRY))
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders "
        "lineitem events documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            ts = str(typ)
            if "DECIMAL" in ts or "HUGEINT" in ts:
                bad.append(f"{name}.{col}: {ts} (wrap in CAST(... AS BIGINT))")
    assert not bad, "uncast aggregate types in oracle_sql():\n" + "\n".join(bad)


def test_memo_builds_once_and_keeps_one_sf_dir_per_session(spark, monkeypatch):
    """The contract's shared views are memoized per (session, sf_dir):
    ``build`` runs once per key, a session keeps only its latest sf_dir
    (the IVF index directory included), and ``_routed`` hands every
    consumer the identical DataFrame."""
    import __spark_entry__ as entrymod

    # a private memo table and a recording index build, so the shared
    # session's real memo entries are neither read nor disturbed
    monkeypatch.setattr(entrymod, "_MEMO", {})
    built: list[str] = []
    monkeypatch.setattr(
        entrymod.simsearch, "build_ivf_index", lambda emb, path: built.append(path)
    )

    calls: list[str] = []
    first = entrymod._memo(spark, "/sf_a", "probe", lambda: calls.append("a") or "A")
    again = entrymod._memo(spark, "/sf_a", "probe", lambda: calls.append("b") or "B")
    assert (first, again, calls) == ("A", "A", ["a"])

    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    path_a = entrymod._ivf_index_path(spark, sf_a)
    assert entrymod._ivf_index_path(spark, sf_a) == path_a
    assert built == [path_a]
    entrymod._ivf_index_path(spark, sf_b)
    # sf_b evicted sf_a's index, so asking for sf_a again rebuilds it
    assert entrymod._ivf_index_path(spark, sf_a) != path_a
    assert len(built) == 3

    assert entrymod._routed(spark, sf_a) is entrymod._routed(spark, sf_a)
