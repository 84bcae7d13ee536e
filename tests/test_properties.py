"""Property-based invariants (hypothesis): the contracts that must hold for
ANY input, not just fixtures — mirroring the reference's runtime
reconciliation invariants (SURVEY.md §5.1).

  * codec roundtrip: tokenize(detokenize(tokens)) == tokens for arbitrary
    byte-range token arrays (including empty, newlines, control chars)
  * conservation: every row lands in exactly one route class; per-route
    counts sum to the input count (lib_summary.py:60-65 analog, exact)
  * partition independence: route decisions are pure functions of row
    content — repartitioning must never change any row's route
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# printable-latin1-heavy but includes controls/newlines/tabs
token = st.integers(min_value=1, max_value=255)
token_arrays = st.lists(st.lists(token, min_size=0, max_size=80), min_size=1, max_size=12)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(arrays=token_arrays)
@settings(**_SETTINGS)
def test_codec_roundtrip(spark, arrays):
    from logspark import tokens as tk

    rows = [(f"doc-{i}", "src", a, len(a)) for i, a in enumerate(arrays)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, n_tok int"
    )
    # JVM expression detok, then Arrow tokenizer back
    lines = df.withColumn("line", tk.detokenize_expr()).drop(
        "tokens", "n_tok"
    )
    back = tk.tokenize_map_in_arrow(lines)
    joined = (
        df.alias("a")
        .join(back.alias("b"), "doc_id")
        .select(
            F.col("a.tokens").alias("t0"),
            F.col("b.tokens").alias("t1"),
            F.col("a.n_tok").alias("n0"),
            F.col("b.n_tok").alias("n1"),
        )
        .collect()
    )
    assert len(joined) == len(arrays)
    for r in joined:
        assert list(r["t0"] or []) == list(r["t1"] or [])
        assert r["n0"] == r["n1"]


@given(arrays=token_arrays)
@settings(**_SETTINGS)
def test_arrow_detok_parity_any_input(spark, arrays):
    """detokenize_map_in_arrow == detokenize_expr for ARBITRARY token
    arrays in the codec domain (1-255) — this drives the Arrow codec's
    >=128 per-row fallback (validity mask + absolute offsets) through
    hypothesis, not just the ASCII zero-copy fast path."""
    from logspark import tokens as tk

    rows = [(f"doc-{i}", "src", a, len(a)) for i, a in enumerate(arrays)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, n_tok int"
    )
    arrow = tk.detokenize_map_in_arrow(df)
    jvm = df.withColumn("line_j", tk.detokenize_expr())
    joined = (
        arrow.select("doc_id", "line")
        .join(jvm.select("doc_id", "line_j"), "doc_id")
        .collect()
    )
    assert len(joined) == len(arrays)
    for r in joined:
        assert r["line"] == r["line_j"]


@given(arrays=token_arrays)
@settings(**_SETTINGS)
def test_conservation_any_input(spark, arrays):
    """Arbitrary (mostly garbage) token arrays: every row routed exactly
    once; no row dropped, invented, or double-counted."""
    from logspark import pipeline

    rows = [(f"doc-{i}", f"src-{i % 3}", a, len(a)) for i, a in enumerate(arrays)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, n_tok int"
    )
    routed = pipeline.routed_hits(spark, df)
    counts = routed.groupBy("route").count().collect()
    assert sum(r["count"] for r in counts) == len(arrays)
    assert routed.select("doc_id").distinct().count() == len(arrays)
    assert routed.filter(F.col("route").isNull()).count() == 0


def test_route_partition_independence(spark, small_corpus):
    """Same rows, different physical partitioning -> identical routes
    (the exact-routed-row-equality requirement across re-partitions)."""
    from logspark import pipeline

    base = pipeline.routed_hits(spark, small_corpus).select("doc_id", "route")
    shuffled = pipeline.routed_hits(
        spark, small_corpus.repartition(13, "source")
    ).select("doc_id", F.col("route").alias("route2"))
    diff = base.join(shuffled, "doc_id").filter(F.col("route") != F.col("route2"))
    assert diff.count() == 0
