"""Token codecs + routing properties (conservation, partition purity)."""

from __future__ import annotations

import pyspark.sql.functions as F

from logspark import gen_sql, pipeline, route, tokens


def _corpus_with_lines(spark, n):
    """The synthetic corpus's (doc_id, source, line), before tokenizing."""
    rel = gen_sql.rel_from_range(n, 0)
    return spark.sql(gen_sql.corpus_sql(rel)).select("doc_id", "source", "line")


def test_detokenizer_parity(spark, small_corpus):
    """The pipeline's JVM codec reconstructs the same lines as the Arrow
    reference detokenizer."""
    a = tokens.detokenize_map_in_arrow(small_corpus).select("doc_id", "line")
    j = pipeline.detokenized(small_corpus).select(
        "doc_id", F.col("line").alias("line_j")
    )
    bad = a.join(j, "doc_id").filter(F.col("line") != F.col("line_j")).count()
    assert bad == 0


def test_tokenize_roundtrip_vs_jvm(spark):
    """Arrow tokenizer == JVM tokenizer, and detok(tok(line)) == line."""
    lines = _corpus_with_lines(spark, 500)
    arrow = tokens.tokenize_map_in_arrow(lines)
    jvm = tokens.with_tokens(lines).select(
        "doc_id", F.col("tokens").alias("tokens_j")
    )
    bad = (
        arrow.join(jvm, "doc_id")
        .filter(F.col("tokens") != F.col("tokens_j"))
        .count()
    )
    assert bad == 0
    back = arrow.withColumn("line2", tokens.detokenize_expr())
    assert back.filter(F.col("line") != F.col("line2")).count() == 0


def test_detok_arrow_non_ascii_nulls_and_slices(spark):
    """The >=128 fallback in _detok_list_array: code points above ASCII,
    null rows, and a SLICED input array (absolute offsets) all roundtrip
    through detokenize_map_in_arrow. Regression for the arr.is_valid(i)
    TypeError + flatten()/absolute-offset misalignment."""
    import pyarrow as pa

    texts = ["héllo wörld", "naïve café", "plain ascii", "", "日本語テキスト"]
    rows = [(i, [ord(c) for c in t]) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, tokens array<int>")
    out = tokens.detokenize_map_in_arrow(df)
    got = {r["doc_id"]: r["line"] for r in out.collect()}
    assert got == dict(enumerate(texts))

    # direct unit check on a sliced array with a null row
    arr = pa.array(
        [[72, 105], [233, 234, 10], None, [0x65E5, 0x672C]],
        type=pa.list_(pa.int32()),
    )
    full = tokens._detok_list_array(arr).to_pylist()
    assert full == ["Hi", "éê\n", None, "日本"]
    assert tokens._detok_list_array(arr.slice(1)).to_pylist() == full[1:]


def test_token_invariant_preserved(spark, small_corpus):
    routed = pipeline.routed_hits(spark, small_corpus)
    assert tokens.token_invariant_violations(routed).count() == 0
    joined = routed.select("doc_id", "tokens").join(
        small_corpus.select("doc_id", F.col("tokens").alias("t0")), "doc_id"
    )
    assert joined.filter(F.col("tokens") != F.col("t0")).count() == 0


def test_conservation_exact(spark, small_corpus):
    """Every row gets exactly one route; sum of route counts == input."""
    routed = pipeline.routed_hits(spark, small_corpus)
    counts = {r["route"]: r["cnt"] for r in route.route_counts(routed).collect()}
    assert sum(counts.values()) == small_corpus.count()
    assert set(counts) <= set(route.ROUTES)
    assert routed.filter(F.col("route").isNull()).count() == 0


def test_route_partition_purity(spark, small_corpus):
    """Route decisions are pure functions of row content: identical routed
    sets under different partitionings (SURVEY.md §7.3 hard part)."""
    r1 = (
        pipeline.routed_hits(spark, small_corpus.repartition(3))
        .select("doc_id", "route")
    )
    r2 = (
        pipeline.routed_hits(spark, small_corpus.repartition(17, "source"))
        .select("doc_id", F.col("route").alias("route2"))
    )
    diff = r1.join(r2, "doc_id").filter(F.col("route") != F.col("route2")).count()
    assert diff == 0
    assert r1.count() == r2.count() == small_corpus.count()


def test_observe_counters_match_groupby(spark, small_corpus):
    from logspark import metrics

    obs = metrics.route_observation()
    routed = pipeline.routed_hits(spark, small_corpus, observation=obs)
    grouped = {r["route"]: r["cnt"] for r in route.route_counts(routed).collect()}
    observed = obs.get
    assert metrics.conservation_ok(observed)
    for r, c in grouped.items():
        assert observed[f"route_{r}"] == c


def test_lineage_counts_cover_all_rows(spark, small_corpus):
    from logspark import metrics

    routed = pipeline.routed_hits(spark, small_corpus.repartition(5))
    lin = metrics.lineage_counts(routed, "t", "route")
    total = lin.agg(F.sum("cnt")).collect()[0][0]
    assert total == small_corpus.count()
    nparts = lin.select("partition_id").distinct().count()
    assert nparts > 1  # actually distributed
