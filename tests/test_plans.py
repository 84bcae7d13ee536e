"""Physical-plan regression tests: the shapes we designed for 100TB scale
must not silently degrade (extra shuffles, lost pushdown, lost broadcast,
lost column pruning). Captured via explain('formatted') text. The last
tests pin get_spark's session defaults (compiled-code reuse, width).
"""

from __future__ import annotations

import contextlib
import io
import os
import re

import pyspark.sql.functions as F
import pytest


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def shuffle_count(txt: str) -> int:
    """Plain (non-broadcast) Exchange nodes in a formatted plan tree."""
    return len(re.findall(r"\bExchange \(\d+\)", txt))


@pytest.fixture(scope="module")
def corpus_parquet(spark, small_corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "corpus")
    small_corpus.write.mode("overwrite").parquet(path)
    return path


def test_routed_pass_has_no_shuffle(spark, corpus_parquet):
    """scan -> detok -> parse -> enrich -> route is ONE narrow stage: the
    only exchange allowed is the broadcast for the extension lookup."""
    from logspark import pipeline

    routed = pipeline.routed_hits(spark, spark.read.parquet(corpus_parquet))
    txt = plan_text(routed)
    assert shuffle_count(txt) == 0, txt
    assert "BroadcastHashJoin" in txt or "BroadcastNestedLoopJoin" in txt


def test_run_counts_single_shuffle_with_partial_agg(spark, corpus_parquet):
    """The flagship aggregate shuffles exactly once, after a map-side
    partial aggregate (HashAggregate below the exchange)."""
    from logspark import pipeline

    counts = pipeline.run_counts(spark, spark.read.parquet(corpus_parquet))
    txt = plan_text(counts)
    # one agg shuffle + one for the final orderBy's range partitioning
    assert shuffle_count(txt) == 2, txt
    # partial agg below the exchange, final above (map-side combine)
    assert len(re.findall(r"\bHashAggregate \(\d+\)", txt)) == 2
    # scan reads only what the aggregate needs (column pruning through
    # the whole detok/parse/route chain)
    scan = txt[txt.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" not in scan and "tokens" in scan and "source" in scan


def test_filter_pushdown_reaches_parquet_scan(spark, corpus_parquet):
    df = (
        spark.read.parquet(corpus_parquet)
        .filter(F.col("source") == "apache-hiperion")
        .select("doc_id", "n_tok")
    )
    txt = plan_text(df)
    assert "PushedFilters: [" in txt
    assert "EqualTo(source," in txt


def test_column_pruning_never_reads_payload(spark, tmp_path_factory):
    """Metadata-only media aggregate must not read the binary payload."""
    from logspark import multimodal

    docs = spark.createDataFrame(
        [(1, "abc", 3), (2, "defg", 4)], "doc_id long, text string, n_chars long"
    )
    path = str(tmp_path_factory.mktemp("plans") / "media")
    multimodal.synth_media(docs).write.mode("overwrite").parquet(path)
    stats = multimodal.media_stats(spark.read.parquet(path))
    txt = plan_text(stats)
    scan = txt[txt.index("ReadSchema") :].splitlines()[0]
    assert "payload" not in scan, scan


def test_enrich_lookup_is_broadcast(spark, corpus_parquet):
    from logspark import parse, pipeline

    df = pipeline.detokenized(spark.read.parquet(corpus_parquet))
    df = parse.parse_lines(df, "line")
    df = parse.enriched_ext_kind(df, spark)
    txt = plan_text(df)
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt


def test_lsh_self_join_reuses_exchange(spark):
    """The banded self-join must materialize the band shuffle once
    (ReuseExchange), not recompute the signature aggregation per side."""
    from logspark import textops

    docs = spark.createDataFrame(
        [(i, f"w{i} common tail text", "en", "s", 20) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pairs = textops.lsh_candidate_pairs(textops.minhash_signatures(docs))
    pairs.collect()  # AQE finalizes reuse at runtime
    txt = plan_text(pairs)
    assert "ReusedExchange" in txt, txt


def test_aqe_splits_skewed_join(spark):
    """north_rule skew handling: joining the 60%-hot `source` key without
    broadcast must trigger AQE's skew-join split (the hot key's partition
    shared across tasks) instead of one straggler task. Thresholds shrunk
    to make 20k rows look big; coalescing disabled so the split is
    observable at toy scale."""
    from logspark import synth
    from pyspark.sql import functions as F2

    corpus = synth.corpus(spark, 20000)
    dim = spark.createDataFrame(
        [(s,) for s in ["apache-hiperion", "varnish02", "nginx-json01",
                        "cloudfront-dist1", "iis01", "w3c-node03", "ven1"]],
        "source string",
    ).withColumn("weight", F2.length("source"))
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        joined = corpus.join(dim, "source").select("doc_id", "weight")
        rows = joined.collect()  # finalize THIS plan under AQE
        assert len(rows) == 20000
        txt = plan_text(joined)
        assert "skew=true" in txt, txt
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_job_stats_readback_prunes_on_part_id(spark, small_corpus, tmp_path_factory):
    """job.py's post-write control stats read only THIS run's partitions:
    part_id is a physical partition directory, so the isin() filter must
    show up as a PartitionFilter (file-listing-level pruning — cost
    proportional to the run, not to accumulated history) and the scan must
    read only the route column (ReadSchema pruned)."""
    from logspark import pipeline, sinks

    out = str(tmp_path_factory.mktemp("statsprune") / "sinks")
    from logspark import control as ctl

    routed = ctl.with_partition_id(pipeline.routed_hits(spark, small_corpus), 8)
    sinks.write_fanout(routed, out, partition_cols=["sink", "part_id"])
    this_run = (
        spark.read.parquet(out)
        .filter(F.col("part_id").isin([1, 3]))
        .select("part_id", "route")
    )
    txt = plan_text(ctl.partition_stats(this_run, "r"))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", txt)
    assert m and "part_id" in m.group(1), txt
    m = re.search(r"ReadSchema: ([^\n]*)", txt)
    assert m and "route" in m.group(1) and "doc_id" not in m.group(1), txt


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The contamination check must be a broadcast hash join on shingle
    (benchmark side tiny at scale) with the split predicate computed in
    place — no sort-merge join, no corpus-sized doc_id->split join."""
    from logspark import textops

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h", "en", "s", 15) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    txt = plan_text(textops.decontaminate(docs))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt


def test_pack_bins_no_global_row_sort(spark):
    """The packing prefix sum must never globally sort the corpus: the
    intra-chunk window is hash-partitioned on the chunk key, and the only
    single-partition exchange feeds the tiny chunk-totals cumsum."""
    from logspark import gen_sql, packing, pipeline

    corpus = pipeline.build_corpus_df(spark, gen_sql.rel_from_range(500))
    txt = plan_text(packing.pack_bins(corpus, seq_len=512, chunk=64))
    assert "hashpartitioning(cd" in txt
    # exactly one single-partition exchange — the chunk-totals branch
    assert txt.count("SinglePartition") == 1
    assert "BroadcastHashJoin" in txt  # prefix joined back map-side


def test_kmeans_assign_broadcasts_centroids(spark, small_corpus):
    from logspark import simsearch

    emb = spark.createDataFrame(
        [(i, [float(i % 7)] * simsearch.DIMS, 0) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    txt = plan_text(simsearch.kmeans_assign(emb, k=4))
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt


def test_kmeans_iterate_broadcasts_every_round(spark):
    """The iterated loop must keep EVERY centroid fan-out a broadcast —
    including iteration 2, whose centroids come out of an aggregate (k
    rows, still broadcast-able) — and never fall back to a sort-merge or
    cartesian shape as the plan deepens."""
    from logspark import simsearch

    emb = spark.createDataFrame(
        [(i, [float((i * 3 + d) % 7) for d in range(simsearch.DIMS)], 0)
         for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    txt = plan_text(simsearch.kmeans_iterate(emb, k=4, iters=2))
    n_bcast = txt.count("BroadcastNestedLoopJoin") + txt.count("BroadcastHashJoin")
    assert n_bcast >= 2, txt  # both assign rounds
    # the convergence readout must be join-free (iteration-1 label rides
    # through the second assign as a passthrough column)
    assert "SortMergeJoin" not in txt
    assert "CartesianProduct" not in txt


def test_semantic_dedup_single_corpus_shuffle(spark):
    """semantic_dedup_pairs must keep exactly ONE corpus-sized exchange —
    the groupBy(cid) bucketing — with the centroid assignment staying a
    shuffle-free broadcast array-argmin (any extra hashpartitioning or a
    sort-merge join means the assign regressed to the fan-out shape)."""
    from logspark import simsearch

    emb = spark.createDataFrame(
        [(i, [float((i * 3 + d) % 7) for d in range(simsearch.DIMS)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    txt = plan_text(simsearch.semantic_dedup_pairs(emb, k=4))
    assert "hashpartitioning(cid" in txt
    assert txt.count("hashpartitioning(") == 1
    assert "SortMergeJoin" not in txt
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt
    assert "FlatMapGroupsInPandas" in txt


def test_span_dedup_no_join(spark):
    """span_dedup_stats must stay join-free: distinct pairs -> analytic
    count over the window text -> per-doc agg. A join node means the
    shingle->count table got materialized and joined back (the shape we
    designed away)."""
    from logspark import textops

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j", "en", "s", 19) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    txt = plan_text(textops.span_dedup_stats(docs, k=5))
    assert "Join" not in txt
    assert "Window" in txt


def test_bloom_probe_broadcasts_bitset(spark):
    """The bloom bitset and the exact-truth arm must both be BROADCAST to
    the probe side — the probe relation never shuffles for a join."""
    from logspark import sketch

    docs = spark.createDataFrame(
        [(i, f"text {i % 5}", "en", "s", 8) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 2 == 1)
    txt = plan_text(sketch.bloom_membership(hist, probes, key="text"))
    assert txt.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in txt


def test_cms_sketch_join_is_broadcast(spark):
    from logspark import sketch

    words = spark.createDataFrame(
        [(1, f"w{i % 9}") for i in range(100)], "doc_id long, word string"
    )
    txt = plan_text(sketch.cms_heavy_hitters(words))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt


def test_funnel_windows_share_one_exchange(spark, tmp_path_factory):
    """The three stacked conditional-min funnel windows all partition by
    user_id — they must share ONE exchange, not add one per step."""
    import __spark_entry__ as entry

    d = str(tmp_path_factory.mktemp("funnelplan"))
    spark.createDataFrame(
        [(1, None, 1, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(d + "/events.parquet")
    txt = plan_text(entry.q_funnel_conversion(spark, d))
    assert txt.count("hashpartitioning(user_id") <= 1
    assert "Window" in txt


def test_pit_join_is_hash_join_with_residual(spark, tmp_path_factory):
    """The temporal lookup must be an equi-join on the user key with the
    interval predicate as a residual — never a nested-loop range join."""
    import __spark_entry__ as entry

    d = str(tmp_path_factory.mktemp("pitplan"))
    spark.createDataFrame(
        [(1, None, 1, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(d + "/events.parquet")
    txt = plan_text(entry.q_pit_segment_activity(spark, d))
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt


def test_ivf_index_probe_prunes_partitions(spark, tmp_path_factory):
    """The materialized IVF index (parquet partitioned by the sign bucket)
    must turn a probe into a partition-PRUNED scan: the literal bucket
    predicate lands in PartitionFilters (file-listing-time pruning, like
    test_filter_pushdown_reaches_parquet_scan pins row-group pushdown) and
    the executed scan reads only the query bucket's rows."""
    from logspark import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("plans") / "ivf_index")
    simsearch.build_ivf_index(emb, path, bits=4)

    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    probe = simsearch.ivf_topk_indexed(spark, path, qvec, k=5, bits=4)
    txt = plan_text(probe)
    assert "PartitionFilters" in txt, txt
    qb = simsearch.sign_bucket_py(qvec, 4)
    assert f"bucket = {qb}" in txt or f"bucket#" in txt.split("PartitionFilters", 1)[1].splitlines()[0], txt

    # executed: rows considered == the one bucket's population, not n
    bucket_rows = spark.read.parquet(path).filter(F.col("bucket") == qb).count()
    total_rows = emb.count()
    assert bucket_rows < total_rows
    # and the probe agrees with the unindexed semantics on the same data
    expect = {
        (r["vec_id"], round(r["cosine"], 9))
        for r in simsearch.ivf_topk(emb, query_vec_id=0, k=5, bits=4).collect()
    }
    got = {(r["vec_id"], round(r["cosine"], 9)) for r in probe.collect()}
    assert got == expect


def test_ivf_multiprobe_prunes_partitions_to_hamming_ball(spark, tmp_path_factory):
    """The multi-probe scan's IN-list of literal bucket ids must land in
    PartitionFilters (file-listing-time pruning over bits+1 of 2^bits
    directories) and its result must equal exact cosine rank restricted to
    the Hamming<=1 ball, computed independently of the client-side probe
    schedule."""
    from logspark import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("plans") / "ivf_index_mp")
    simsearch.build_ivf_index(emb, path, bits=4)

    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    probe = simsearch.ivf_topk_indexed_multiprobe(spark, path, qvec, k=5, bits=4)
    txt = plan_text(probe)
    part = txt.split("PartitionFilters", 1)
    assert len(part) == 2, txt
    assert "bucket" in part[1].splitlines()[0], txt

    probes = simsearch.multiprobe_buckets_py(qvec, 4)
    assert len(set(probes)) == 5  # query bucket + 4 one-flip neighbors

    # independent truth: exact rank over rows whose recomputed bucket is
    # within Hamming distance 1 of the query's
    qb = simsearch.sign_bucket_py(qvec, 4)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    scored = simsearch.cosine_topk(emb, query_vec_id=0, k=10**9).collect()
    ball = [
        r
        for r in scored
        if bin(simsearch.sign_bucket_py(vecs[r["vec_id"]], 4) ^ qb).count("1") <= 1
    ]
    expect = {
        (r["vec_id"], round(r["cosine"], 9))
        for r in sorted(ball, key=lambda r: (-r["cosine"], r["vec_id"]))[:5]
    }
    got = {(r["vec_id"], round(r["cosine"], 9)) for r in probe.collect()}
    assert got == expect


def _docs_df(spark, n: int = 40):
    return spark.createDataFrame(
        [
            (i, f"the quick fox {i} a b", "en", f"s{i % 3}", 20)
            for i in range(n)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_temperature_mix_keep_join_is_broadcast(spark):
    """The per-row keep decision joins the corpus against a STRATUM-sized
    threshold table: that join must be broadcast (the corpus never
    shuffles on the stratum key — the only corpus-sized exchange allowed
    is the stratum-count groupBy feeding the tiny threshold side)."""
    from logspark import textops

    txt = plan_text(textops.temperature_mix(_docs_df(spark)))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt
    # corpus-side row hash: JVM expressions only, no Python on the path
    assert "EvalPython" not in txt


def test_model_quality_score_weights_broadcast_one_shuffle(spark):
    """Linear-model scoring: the (feature, weight) model table must be
    BROADCAST to the unpivoted feature rows, and the score reduction must
    be the single partially-aggregated doc_id shuffle — model size never
    moves the corpus."""
    from logspark import textops

    txt = plan_text(textops.model_quality_score(_docs_df(spark)))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt
    assert txt.count("hashpartitioning(doc_id") == 1
    assert "partial_sum" in txt  # map-side combine before the exchange


def test_pii_redact_is_narrow_zero_shuffle(spark):
    """The PII count+redact pass is a pure per-row map: zero exchanges,
    zero joins, regexps in whole-stage codegen (no Python eval nodes)."""
    from logspark import textops

    txt = plan_text(textops.pii_redact(_docs_df(spark)))
    assert shuffle_count(txt) == 0
    assert "Join" not in txt
    assert "EvalPython" not in txt
    # formatted explain marks whole-stage-codegen nodes with a `*` prefix
    assert "* Project" in txt


def test_corpus_shuffle_one_hash_exchange_never_global_sort(spark):
    """Training-order shuffle: exactly ONE exchange (hash on the shard id)
    and per-shard local sorts — a rangepartitioning exchange would mean a
    global total-order sort (sampling pass + skew exposure) crept in."""
    from logspark import textops

    txt = plan_text(textops.corpus_shuffle(_docs_df(spark)))
    assert shuffle_count(txt) == 1
    assert "rangepartitioning" not in txt.lower()
    assert "Join" not in txt


def test_cluster_representatives_broadcasts_cluster_map(spark):
    """The pair-derived cluster map must broadcast onto the corpus scan —
    the corpus never shuffles on doc_id for the members join."""
    from logspark import cluster

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a"), (3, "z")], "doc_id long, text string"
    )
    txt = plan_text(cluster.cluster_representatives(pairs, docs))
    assert "BroadcastHashJoin" in txt


def test_chunk_sequences_zero_shuffle(spark):
    """Chunking is embarrassingly parallel: explode + HOF slice/aggregate,
    no exchange of any kind — chunk identity is (doc_id, chunk_idx), never
    a corpus-wide offset."""
    from logspark import packing

    corpus = spark.createDataFrame(
        [(1, list(range(200)), 200)],
        "doc_id long, tokens array<int>, n_tok int",
    )
    txt = plan_text(packing.chunk_sequences(corpus))
    assert shuffle_count(txt) == 0
    assert "EvalPython" not in txt


def test_importance_resampling_broadcasts_weight_model(spark):
    """The 64-row DSIR weight table must broadcast onto the corpus-sized
    word stream — the corpus never shuffles on bucket."""
    from logspark import textops

    docs = spark.createDataFrame(
        [(1, "a b", "en"), (2, "c d", "xx")],
        "doc_id long, text string, lang string",
    )
    txt = plan_text(textops.importance_resampling(docs))
    assert "BroadcastHashJoin" in txt


def test_batch_topk_joins_on_bucket_query_side_broadcast(spark):
    """batch_topk_bucketed must answer ALL queries in one bucket equi-join
    (query side broadcast — the corpus never shuffles for the join; the
    self-match exclusion rides as a residual condition, never a cartesian)
    with the per-query rank as a window over the candidate set."""
    from logspark import simsearch

    emb = spark.createDataFrame(
        [(i, [float((i * 5 + d) % 11) - 5.0 for d in range(simsearch.DIMS)], i % 3)
         for i in range(60)],
        "vec_id long, embedding array<float>, label int",
    )
    txt = plan_text(simsearch.batch_topk_bucketed(emb, n_queries=8, k=3))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt
    assert "CartesianProduct" not in txt and "BroadcastNestedLoopJoin" not in txt
    assert "Window" in txt


def test_token_ngram_dup_stats_no_join(spark):
    """tokens.ngram_dup_stats must stay join-free (the same designed-away
    shape as span_dedup_stats: no gram->count table joined back) and keep
    the k-gram extraction a narrow HOF over the tokens array."""
    from logspark import tokens as tokens_mod

    corpus = spark.createDataFrame(
        [(str(i), "s", list(range(i % 4, i % 4 + 12)), 12) for i in range(30)],
        "doc_id string, source string, tokens array<int>, n_tok int",
    )
    txt = plan_text(tokens_mod.ngram_dup_stats(corpus, k=8))
    assert "Join" not in txt
    assert "Window" in txt


def test_pagerank_broadcast_supersteps_order_free(spark):
    """pagerank_fixedpoint's supersteps must be node-keyed EQUI-joins
    (the shape that holds for billion-node graphs, bucketable on node id;
    AQE converts them to broadcast at runtime when the graph is tiny) —
    the only nested-loop joins allowed are the broadcast 1-row scalar-n
    fan-outs, and no unconditioned CartesianProduct may appear. The
    scaled-integer arithmetic must be ORDER-FREE: identical pr_scaled
    values at different parallelism (the property a float PageRank does
    not have)."""
    from logspark import cluster

    edges = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 2), ("c", "a", 5), ("a", "c", 1), ("d", "a", 2)],
        "from_node string, to_node string, cnt long",
    )
    out = cluster.pagerank_fixedpoint(edges, iters=2)
    txt = plan_text(out)
    assert "CartesianProduct" not in txt
    # every nested-loop node is a broadcast Cross fan-out of the 1-row n
    # aggregate — no non-cross (conditioned) nested loop anywhere
    import re

    nlj = [
        j for j in re.findall(r"BroadcastNestedLoopJoin[^\n(]*", txt) if j.strip() != "BroadcastNestedLoopJoin"
    ]  # bare matches are detail-section headers, not tree nodes
    assert nlj and all("Cross" in j for j in nlj), nlj
    r1 = {r["node"]: r["pr_scaled"] for r in out.collect()}
    r7 = {
        r["node"]: r["pr_scaled"]
        for r in cluster.pagerank_fixedpoint(edges.repartition(7), iters=2).collect()
    }
    assert r1 == r7
    base = (15 * (cluster.PR_SCALE // 4)) // 100
    assert set(r1) == {"a", "b", "c", "d"}
    assert r1["d"] == base  # no in-edges -> base mass only
    assert all(v >= base for v in r1.values())
    assert sum(r1.values()) <= cluster.PR_SCALE  # dangling mass dropped, never created


def test_referrer_attribution_is_broadcast(spark, corpus_parquet):
    """The search-engine registry lookup must be a broadcast hash join on
    the extracted host — never a shuffled join against a 6-row dim."""
    from logspark import enrich, parse, pipeline

    df = pipeline.detokenized(spark.read.parquet(corpus_parquet))
    df = parse.parse_lines(df, "line")
    df = enrich.with_referrer_attribution(df, spark)
    txt = plan_text(df)
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt


@pytest.mark.parametrize(
    "report",
    [
        "visit_daily_stats",
        "visitor_frequency",
        "entry_exit_pages",
        "visit_duration_buckets",
        "visit_hours",
        "pages_per_visit_buckets",
        "campaign_attribution",
    ],
)
def test_visit_stats_single_visitor_shuffle(spark, corpus_parquet, report):
    """Sessionization shuffles ONCE on the visitor key; the visit table
    groups on a superset of that key, so it must reuse that exchange and
    never add a second wide exchange of the hit rows. Only the report's
    rollup of visit-sized rows may repartition; entry_exit_pages (union of
    the entry and exit sides) and visit_hours (distinct visitors per hour)
    may take one more."""
    from logspark import parse, pipeline, visits

    df = pipeline.detokenized(spark.read.parquet(corpus_parquet))
    df = parse.parse_lines(df, "line").filter("parsed_ok")
    txt = plan_text(getattr(visits, report)(df))
    budget = 3 if report in ("entry_exit_pages", "visit_hours") else 2
    assert shuffle_count(txt) <= budget, txt


def test_pmi_collocations_takeordered_no_global_sort(spark, small_corpus):
    """Top-k by PMI must be TakeOrderedAndProject over broadcast-joined
    vocabulary counts — never a global Sort of the bigram table."""
    from logspark import textops

    docs = small_corpus.selectExpr(
        "doc_id", "concat_ws(' ', transform(tokens, t -> chr(t))) AS text"
    )
    out = textops.pmi_collocations(docs)
    txt = plan_text(out)
    assert "TakeOrderedAndProject" in txt
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt


@pytest.fixture(scope="module")
def emb60(spark):
    from logspark import simsearch

    return spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(simsearch.DIMS)], i % 3)
         for i in range(60)],
        "vec_id long, embedding array<float>, label int",
    )


def test_quantize_stats_single_shuffle_broadcast_scales(spark, emb60):
    """int8 calibration: the per-dim scales row is broadcast back onto the
    scan (never a shuffle of the vectors) and the per-dim rollup is ONE
    exchange with a map-side partial agg below it — every task collapses
    to <= 64 rows before the wire."""
    import re

    from logspark import simsearch

    txt = plan_text(simsearch.quantize_stats(emb60))
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt
    # shuffles: the 1-row scales agg's SinglePartition exchange plus the
    # 64-key dim rollup — the full-width vector column crosses no wire
    assert shuffle_count(txt) <= 2, txt
    assert len(re.findall(r"\bHashAggregate \(\d+\)", txt)) >= 4  # partial+final x2


def test_quantized_topk_no_sort_no_corpus_shuffle(spark, emb60):
    """The int8 ANN probe is scan -> integer fold -> TakeOrderedAndProject:
    scales and query code broadcast (1 row each), no global Sort, and the
    corpus never exchanges on a non-broadcast shuffle."""
    from logspark import simsearch

    txt = plan_text(simsearch.quantized_topk(emb60, query_vec_id=0, k=5))
    assert "TakeOrderedAndProject" in txt
    assert txt.count("BroadcastNestedLoopJoin") >= 1
    assert "SortMergeJoin" not in txt
    # only the broadcast sides' 1-row aggs may exchange; the corpus scan
    # side of the probe is shuffle-free
    assert shuffle_count(txt) <= 2, txt


def test_pq_code_histogram_broadcast_codebook_one_rollup(spark, emb60):
    """PQ assignment is a pure row function over the ONE broadcast codebook
    row; the occupancy report groups on <= M*K = 128 keys, so the only
    wide exchange carries <= 128 rows per task (map-side combined)."""
    import re

    from logspark import simsearch

    txt = plan_text(simsearch.pq_code_histogram(emb60))
    assert "BroadcastNestedLoopJoin" in txt
    assert "SortMergeJoin" not in txt and "CartesianProduct" not in txt
    assert shuffle_count(txt) <= 2, txt  # codebook collect + 128-key rollup
    assert len(re.findall(r"\bHashAggregate \(\d+\)", txt)) >= 2


def test_pq_adc_topk_rowfunc_takeordered(spark, emb60):
    """The ADC probe must be TakeOrderedAndProject over a pure row-function
    scan (codebook + query broadcast) — no window, no global sort, no
    corpus-side shuffle."""
    from logspark import simsearch

    txt = plan_text(simsearch.pq_adc_topk(emb60, query_vec_id=0, k=5))
    assert "TakeOrderedAndProject" in txt
    assert "Window" not in txt
    assert "SortMergeJoin" not in txt
    assert shuffle_count(txt) <= 2, txt


def test_hard_negatives_label_pruned_bucket_join(spark, emb60):
    """Hard-negative mining joins corpus to broadcast queries on the
    sign-bucket EQUI key with the label-mismatch predicate folded into the
    join (pruning before scoring) — a BroadcastHashJoin, never a cartesian
    — then ranks per query with a window."""
    from logspark import simsearch

    txt = plan_text(simsearch.hard_negatives(emb60, n_queries=8, k=3))
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt and "BroadcastNestedLoopJoin" not in txt
    assert "SortMergeJoin" not in txt
    assert "Window" in txt


@pytest.fixture(scope="module")
def docs40(spark):
    rows = [
        (i, " ".join(["spark", "table", "join", "scan", "agg"][j % 5]
                     for j in range(i % 7 + 3)), "en", f"s{i % 4}", 0)
        for i in range(40)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _) in rows]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_mixture_epochs_broadcast_recipe_no_smj(spark, docs40):
    """The epoch recipe joins back BROADCAST (source-cardinality table);
    the explode multiplies rows but the rollup stays a map-side-combined
    hash agg — no sort-merge join, no cartesian."""
    from logspark import textops

    txt = plan_text(textops.mixture_epochs(docs40))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt and "CartesianProduct" not in txt
    assert "Generate" in txt  # the explode


def test_length_buckets_no_join_single_rollup(spark, docs40):
    """Length bucketing is a pure CASE map + ONE bounded-key aggregate:
    zero joins, one exchange."""
    from logspark import packing

    corpus = docs40.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id", "source",
        "transform(sequence(1, CAST(n_chars % 37 + 1 AS INT)), i -> 65) AS tokens",
        "CAST(n_chars % 37 + 1 AS INT) AS n_tok",
    )
    txt = plan_text(packing.length_buckets(corpus))
    assert "Join" not in txt
    assert shuffle_count(txt) == 1, txt


def test_paragraph_dedup_no_window_no_cartesian(spark, docs40):
    """Span-removal dedup: first-occurrence ownership is a min-AGG joined
    back on the block digest (equi join — AQE can skew-split it), NOT a
    window over block_text (which would pin every copy of a hot
    boilerplate block into one task's window state)."""
    from logspark import textops

    txt = plan_text(textops.paragraph_dedup(docs40))
    assert "Window" not in txt
    assert "CartesianProduct" not in txt and "BroadcastNestedLoopJoin" not in txt
    assert "Generate" in txt  # block explode


def test_bm25_topk_takeordered_broadcast_idf(spark, docs40):
    """BM25 top-k: idf and corpus stats broadcast; final top-k is
    TakeOrderedAndProject, never a global Sort+Limit of scored docs."""
    from logspark import textops

    txt = plan_text(textops.bm25_topk(docs40, k=5))
    assert "TakeOrderedAndProject" in txt
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_perplexity_buckets_one_source_window(spark, docs40):
    """CCNet bucketing: vocabulary-sized freq table broadcast onto the
    word stream; exactly one rank window, partitioned by source."""
    from logspark import textops

    txt = plan_text(textops.perplexity_buckets(docs40))
    assert "BroadcastHashJoin" in txt
    assert txt.count("Window (") <= 2  # rank + count ride one partitioning
    assert "SortMergeJoin" not in txt and "CartesianProduct" not in txt


def test_device_report_no_join_tiny_key_agg(spark, small_corpus):
    """DevicesDetection: narrow UA column work then one hash agg on a
    tiny key space — zero joins, no window; the distinct-visitor count
    rides the same (partial, final) aggregation pair."""
    from logspark import enrich, pipeline

    routed = pipeline.routed_hits(spark, small_corpus).filter(
        F.col("parsed_ok")
    )
    txt = plan_text(enrich.device_report(routed))
    assert "SortMergeJoin" not in txt and "CartesianProduct" not in txt
    assert "Window" not in txt


def test_slo_error_budget_single_rollup(spark, small_corpus):
    """SLO ledger: one map-side-combinable agg on (source, day), then
    narrow integer math — one exchange, zero joins."""
    from logspark import pipeline, status

    routed = pipeline.routed_hits(spark, small_corpus)
    txt = plan_text(status.slo_error_budget(routed))
    # the one BroadcastHashJoin is the routed pass's ext lookup; the SLO
    # stage itself adds no join, no window, and exactly one exchange
    assert "SortMergeJoin" not in txt and "CartesianProduct" not in txt
    assert "Window" not in txt
    assert shuffle_count(txt) == 1, txt


def test_tokenizer_fertility_no_explode_no_join(spark, small_corpus):
    """Fertility: the word count stays INSIDE a size(filter(split()))
    expression — no Generate node materializes the word stream — then
    one source-keyed exchange."""
    from logspark import pipeline, textops

    routed = pipeline.routed_hits(spark, small_corpus)
    txt = plan_text(textops.tokenizer_fertility(routed))
    assert "Generate" not in txt
    # upstream routed pass carries the ext-lookup broadcast; fertility
    # itself adds no join and exactly one exchange
    assert "SortMergeJoin" not in txt and "CartesianProduct" not in txt
    assert shuffle_count(txt) == 1, txt


def test_source_overlap_equi_join_never_allpairs(spark, docs40):
    """Cross-source overlap: candidate pairs come from an EQUI-join on
    the shingle key; the per-source set sizes come back as broadcast
    hash joins. No cartesian, no nested-loop."""
    from logspark import textops

    txt = plan_text(textops.source_overlap_matrix(docs40))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "BroadcastHashJoin" in txt  # the set-size lookups


def test_visit_hours_one_session_window(spark, small_corpus):
    """VisitTime: the only window is the sessionization lag/running-sum
    pair on the visitor key; the hour rollup is a plain 24-key agg —
    no join anywhere."""
    from logspark import pipeline, visits

    routed = pipeline.routed_hits(spark, small_corpus).filter(
        F.col("parsed_ok")
    )
    txt = plan_text(visits.visit_hours(routed))
    # the one BroadcastHashJoin is the routed pass's ext lookup
    assert "SortMergeJoin" not in txt and "CartesianProduct" not in txt
    assert txt.count("Window (") <= 2, txt


def test_bot_velocity_two_rollups_no_join(spark, small_corpus):
    """Velocity profile: (ip, minute) agg then ip agg — two exchanges at
    most (AQE may coalesce), both map-side partial; no join beyond the
    routed pass's ext lookup, no window."""
    from logspark import pipeline, rules

    routed = pipeline.routed_hits(spark, small_corpus)
    txt = plan_text(rules.bot_velocity(routed))
    assert "SortMergeJoin" not in txt and "CartesianProduct" not in txt
    assert "Window" not in txt
    assert shuffle_count(txt) <= 2, txt


def test_trending_paths_takeordered_after_reduction(spark, small_corpus):
    """Trending: the window runs over the REDUCED (stem, day) table and
    the top-k is TakeOrderedAndProject — never a global Sort of the
    corpus."""
    from logspark import actions, pipeline

    routed = pipeline.routed_hits(spark, small_corpus)
    txt = plan_text(actions.trending_paths(routed))
    assert "TakeOrderedAndProject" in txt
    assert txt.count("Window (") == 1


def test_novelty_curve_min_agg_not_window(spark, docs40):
    """First-occurrence ownership is a min-AGG per shingle (skew-safe),
    never a window over the shingle stream; phase bucketing is integer
    math — no global sort, no range exchange."""
    from logspark import textops

    txt = plan_text(textops.novelty_curve(docs40))
    assert "Window" not in txt
    assert "rangepartitioning" not in txt.lower()
    assert "CartesianProduct" not in txt


def test_lookup_tables_are_local_relations(spark, corpus_parquet):
    """The list-built lookup tables (extension kinds) are planned
    as LocalRelations, which the driver broadcasts without a Spark job —
    never as RDD scans, which run one job per broadcast per query."""
    from logspark import pipeline, status

    routed = pipeline.routed_hits(spark, spark.read.parquet(corpus_parquet))
    for df in (routed, status.rollup_date_status(routed, spark)):
        txt = plan_text(df)
        assert "Scan ExistingRDD" not in txt, txt
        assert "LocalTableScan" in txt, txt


def test_date_status_single_rollup(spark):
    """The date-status rollup is one aggregation: the quota lookup is a
    CASE projection, so a join-free input plans no join and shuffles once
    (the per-(source, date) count)."""
    import datetime as dt

    from logspark import status
    from logspark.session import local_table

    hits = local_table(
        spark,
        [("varnish02", dt.datetime(2024, 3, 1, 12), "visit")],
        "source string, ts timestamp, route string",
    )
    txt = plan_text(status.rollup_date_status(hits, spark))
    assert "Join" not in txt, txt
    assert shuffle_count(txt) == 1, txt


def test_warm_reports_pass_compiles_no_classes(spark, corpus_parquet, tmp_path, monkeypatch):
    """A second reports pass over the same sinks finds every generated
    class in Spark's compiled-code cache: the pass uses ~120 classes, which
    the default 100-entry LRU cache evicted before reuse, recompiling most
    of them on every pass."""
    from logspark import job

    out = str(tmp_path / "out")
    assert job.main(
        [
            "--input", corpus_parquet, "--output", out,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--partitions", "8", "--run-id", "codegen", "--cores", "8",
        ]
    ) == 0
    # the benchmark's reports pass is the only one until it moves into
    # logspark/; it is imported, not copied
    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
    )
    from reports import run_reports

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    run_reports(spark, out)
    before = compiles.getCount()
    run_reports(spark, out)
    assert compiles.getCount() - before == 0


def test_session_turns_off_call_site_capture(spark):
    """get_spark's session skips PySpark's per-call Python call-site
    capture (a JVM round trip and a stack walk on every Column call)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_default_parallelism_without_env_is_affinity(monkeypatch):
    """Without $SPARK_GRAFT_CPUS the local[] width is the CPUs this process
    may run on, not a fixed 32."""
    from logspark.session import default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
