"""Semantic sanity for dedup / similarity / text ops on hand-built docs."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from logspark import simsearch, textops

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
    (2, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # dup of 1
    (3, "the quick brown fox jumps over a sleepy dog", "en", "s", 43),  # near-dup
    (4, "el gato la casa de el perro el dia", "es", "s", 34),
    (5, "completely different words entirely unrelated text here", "en", "s", 55),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup(docs):
    groups = textops.exact_dedup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["keeper"] == 1
    assert groups[0]["group_size"] == 2


def test_minhash_identical_docs_equal_sigs(docs):
    sigs = {r["doc_id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"])
            for r in textops.minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[5]


def test_lsh_finds_duplicates(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in textops.lsh_candidate_pairs(textops.minhash_signatures(docs)).collect()
    }
    assert (1, 2) in pairs
    assert (1, 5) not in pairs or (2, 5) not in pairs  # unrelated unlikely pair


def test_simhash_near_dup_close(docs):
    fps = {r["doc_id"]: r["simhash"] for r in textops.simhash(docs).collect()}
    assert fps[1] == fps[2]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(fps[1], fps[3]) < hamming(fps[1], fps[5])


def test_simhash_neardup_matches_bruteforce(spark, docs):
    """Banded Hamming-LSH path == brute-force all-pairs (exact recall for
    distance <= 3 by pigeonhole; exact precision via popcount verify)."""
    fps = {r["doc_id"]: r["simhash"] for r in textops.simhash(docs).collect()}
    ids = sorted(fps)
    brute = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in textops.simhash_neardup(docs).collect()
    }
    assert got == brute
    assert (1, 2, 0) in got  # the planted exact dup


def test_curate_corpus_reasons(docs):
    """Composite curation verdict: first-match-wins reasons. Quality gates
    disabled (toy docs are all short) to expose the downstream legs; the
    near_dup leg is exercised at sf0.01 by the oracle-matched driver query
    (17 near_dup drops), not here — toy Jaccard is below the LSH s-curve."""
    out = {
        r["doc_id"]: r["drop_reason"]
        for r in textops.curate_corpus(
            docs, min_words=0, max_avg_word_len=99.0
        ).collect()
    }
    assert out[1] is None  # keeper of the exact-dup group
    assert out[2] == "exact_dup"  # identical full text, larger doc_id
    assert out[4] is None  # Spanish markers -> lang ok
    assert out[5] == "language"  # no markers at all -> unidentifiable
    assert out[3] is None


def test_jaccard_exact_values(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r for r in textops.jaccard_pairs(docs).collect()}
    p12 = pairs[(1, 2)]
    assert p12["jaccard"] == 1.0
    # doc1 vs doc3: words {the,quick,brown,fox,jumps,over,lazy,dog} vs
    # {the,quick,brown,fox,jumps,over,a,sleepy,dog}: inter=7, union=10
    p13 = pairs[(1, 3)]
    assert p13["inter"] == 7 and p13["uni"] == 10


def test_lang_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in textops.lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[4] == "es"


def test_quality_and_token_counts(docs):
    q = {r["doc_id"]: r for r in textops.quality_scores(docs).collect()}
    assert q[1]["n_words"] == 9
    assert q[1]["n_chars_calc"] == 43
    t = {r["doc_id"]: r for r in textops.token_counts(docs).collect()}
    assert t[1]["ws_tokens"] == 9
    assert t[1]["alpha_tokens"] == 9


def test_fingerprint_order_insensitive(spark, docs):
    fp = {r["doc_id"]: (r["fp_sum"], r["fp_n"]) for r in textops.fingerprints(docs).collect()}
    shuffled = spark.createDataFrame(
        [(10, "dog lazy the over jumps fox brown quick the")],
        "doc_id long, text string",
    )
    fp2 = textops.fingerprints(shuffled).collect()[0]
    assert (fp2["fp_sum"], fp2["fp_n"]) == fp[1]


def test_cosine_topk_self_first(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    top = simsearch.cosine_topk(emb, query_vec_id=0, k=3).collect()
    assert top[0]["vec_id"] == 0
    assert abs(top[0]["cosine"] - 1.0) < 1e-9
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ivf_bucket_contains_query(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = simsearch.ivf_topk(emb, query_vec_id=0, k=5).collect()
    assert any(r["vec_id"] == 0 for r in out)
    buckets = {r["bucket"] for r in out}
    assert len(buckets) == 1  # probe scans exactly one bucket


def test_neardup_banded_subset_of_exact(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in simsearch.neardup_exact(emb, threshold=0.3).collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in simsearch.neardup_pairs(emb, threshold=0.3).collect()
    }
    assert set(banded) <= set(exact)  # LSH candidates never invent pairs
    for k, v in banded.items():
        assert abs(v - exact[k]) < 1e-12  # identical cosine arithmetic
    for (a, b), _ in banded.items():
        assert a < b


def test_neardup_exact_finds_identical_vectors(spark):
    rows = [(0, [1.0, 2.0] + [0.0] * 62, 0), (1, [1.0, 2.0] + [0.0] * 62, 0),
            (2, [-1.0] * 64, 1)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = simsearch.neardup_exact(emb, threshold=0.99).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(0, 1)]
    assert abs(out[0]["cosine"] - 1.0) < 1e-12


def test_semantic_dedup_subset_of_exact_and_recall_semantics(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in simsearch.neardup_exact(emb, threshold=0.3).collect()
    }
    sem = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in simsearch.semantic_dedup_pairs(emb, threshold=0.3).collect()
    }
    # cluster-bucketing never invents pairs, and the cosine arithmetic is
    # the identical dim-sequential fold
    assert set(sem) <= set(exact)
    for k, v in sem.items():
        assert v == exact[k]


def test_semantic_dedup_finds_same_cluster_pair_only(spark):
    # centroids 0 and 1 are DISTINCT clusters whose mutual cosine (~0.9988)
    # still clears the 0.99 threshold — the (0, 1) and (1, 5) pairs
    # straddle the cluster boundary and are deliberately NOT emitted
    # (SemDeDup's recall semantics); only the same-cluster pair (0, 5) is.
    rows = [
        (0, [1.0, 0.0] + [0.0] * 62),
        (1, [1.0, 0.05] + [0.0] * 62),
        (5, [1.0, 0.001] + [0.0] * 62),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = simsearch.semantic_dedup_pairs(emb, k=2, threshold=0.99).collect()
    assert [(r["cid"], r["id_a"], r["id_b"]) for r in out] == [(0, 0, 5)]


def test_semantic_dedup_bucket_guard_raises(spark):
    rows = [(i, [1.0] * 64) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_bucket"):
        simsearch.semantic_dedup_pairs(emb, k=1, max_bucket=4).collect()


def test_incremental_dedup_matches_history(docs):
    # doc 1 (odd -> new batch) is an exact dup of doc 2 (even -> history)
    out = {
        (r["new_doc"], r["hist_doc"]): r["jaccard"]
        for r in textops.incremental_dedup(docs).collect()
    }
    assert out.get((1, 2)) == 1.0
    for n, h in out:
        assert n % 2 == 1 and h % 2 == 0


def test_decontaminate_detects_overlap(spark):
    # pick real train/test doc_ids from the deterministic split, then give
    # them one shared 5-gram — exactly that train doc must be flagged
    split = {
        r["doc_id"]: r["split"]
        for r in textops.train_split(
            spark.range(0, 200).select(F.col("id").alias("doc_id"))
        ).collect()
    }
    tr = next(i for i in range(200) if split[i] == "train")
    te = next(i for i in range(200) if split[i] == "test")
    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (tr, shared + " zeta", "en", "s", 1),
            (te, "eta " + shared, "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = textops.decontaminate(docs).collect()
    assert [r["doc_id"] for r in out] == [tr]
    assert out[0]["n_shingles_hit"] == 1 and out[0]["n_test_docs"] == 1


def test_bpe_learning_invariants(docs):
    """Corpus-driven BPE merges: step-ordered, merged == pair sans space,
    counts non-increasing; post-merge token counts land between
    words-per-doc and chars-per-doc and strictly compress the corpus."""
    from logspark import bpe

    merges = bpe.learn_merges(docs, steps=3).collect()
    assert [r["step"] for r in merges] == [1, 2, 3]
    assert all(r["merged"] == r["pair"].replace(" ", "") for r in merges)
    assert all(
        merges[i]["cnt"] >= merges[i + 1]["cnt"] for i in range(len(merges) - 1)
    ), "a later merge cannot beat an earlier one on the corpus it was learned from"

    tc = {r["doc_id"]: r for r in bpe.token_counts_after_merges(docs, steps=3).collect()}
    w = {r["doc_id"]: (r["nw"], r["nc"]) for r in docs.selectExpr(
        "doc_id", "size(split(text, ' ')) AS nw", "length(replace(text, ' ', '')) AS nc"
    ).collect()}
    for d, row in tc.items():
        nw, nc = w[d]
        assert row["n_base"] == nc
        assert nw <= row["n_bpe"] <= nc
    assert sum(r["n_bpe"] for r in tc.values()) < sum(r["n_base"] for r in tc.values())


def test_ann_recall_eval_invariants(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = simsearch.ann_recall_eval(emb, n_queries=5, k=4).collect()
    assert len(out) == 5  # one row per query
    for r in out:
        # hits are an intersection: bounded by both arms
        assert 0 <= r["n_hit"] <= min(r["n_exact"], r["n_ivf"])
        assert r["n_exact"] == 4  # corpus >> k, self excluded
        assert r["n_ivf"] <= 4
        assert r["recall"] == r["n_hit"] / r["n_exact"]


# ---------------------------------------------------------------------------
# span dedup / CMS sketch / IP anonymization (round-2 additions)
# ---------------------------------------------------------------------------


def test_span_dedup_stats_exact(spark):
    """doc1/doc2 share the first 5-word span; doc3 is disjoint; doc4 is
    too short for a 5-word window and must emit no row."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y", "en", "s", 10),
            (2, "a b c d e q r", "en", "s", 10),
            (3, "u v w zz aa bb", "en", "s", 10),
            (4, "one two", "en", "s", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r["doc_id"]: r
        for r in textops.span_dedup_stats(docs, k=5).collect()
    }
    assert set(out) == {1, 2, 3}
    # doc1 windows: 'a b c d e', 'b c d e x', 'c d e x y' — only the first
    # also occurs in doc2
    assert out[1]["n_win"] == 3 and out[1]["n_shared"] == 1
    assert out[2]["n_win"] == 3 and out[2]["n_shared"] == 1
    assert out[1]["shared_frac"] == pytest.approx(1 / 3)
    assert out[3]["n_shared"] == 0 and out[3]["shared_frac"] == 0.0


def test_span_dedup_repeated_window_within_doc_counts_once(spark):
    """A window repeated WITHIN one doc is one distinct window; it is only
    'shared' if some OTHER doc also has it."""
    docs = spark.createDataFrame(
        [(1, "a b c d e a b c d e", "en", "s", 19)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    [r] = textops.span_dedup_stats(docs, k=5).collect()
    # 6 window positions but 'a b c d e' appears twice -> 5 distinct
    assert r["n_win"] == 5
    assert r["n_shared"] == 0  # sole doc: nothing cross-doc


def test_cms_estimate_dominates_exact(spark):
    """CMS guarantee: estimate >= exact count, and on a tiny vocabulary
    (no bucket collisions at width 1024) estimate == exact."""
    from logspark import sketch

    words = spark.createDataFrame(
        [(1, w) for w in "a a a b b c".split()], "doc_id long, word string"
    )
    rows = {r["item"]: r for r in sketch.cms_heavy_hitters(words).collect()}
    assert rows["a"]["exact_cnt"] == 3 and rows["b"]["exact_cnt"] == 2
    for r in rows.values():
        assert r["cms_est"] >= r["exact_cnt"]
    assert rows["a"]["cms_est"] == 3  # 3 distinct words can't collide 4x


def test_anonymize_ip(spark):
    from logspark import enrich

    df = spark.createDataFrame(
        [("10.1.2.3",), ("192.168.255.254",), (None,)], "ip string"
    )
    got = [r["a"] for r in df.select(enrich.anonymize_ip().alias("a")).collect()]
    assert got == ["10.1.2.0", "192.168.255.0", None]


def test_funnel_strict_ordering(spark, tmp_path):
    """A purchase BEFORE the first click must not count as converted:
    the funnel demands view < click < purchase per user."""
    import datetime as dt

    import __spark_entry__ as entry

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, uid, typ, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, typ, 1.0, "{}")

    rows = [
        # u1: clean view->click->purchase
        ev(1, 1, "view", 0), ev(2, 1, "click", 10), ev(3, 1, "purchase", 20),
        # u2: purchase BEFORE click -> stops at 'clicked'
        ev(4, 2, "view", 0), ev(5, 2, "purchase", 5), ev(6, 2, "click", 10),
        # u3: click before any view -> stops at 'viewed'
        ev(7, 3, "click", 0), ev(8, 3, "view", 5),
        # u4: never viewed -> 'none'
        ev(9, 4, "purchase", 0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/events.parquet")
    got = {
        r["stage"]: r["n_users"]
        for r in entry.q_funnel_conversion(spark, d).collect()
    }
    assert got == {"purchased": 1, "clicked": 1, "viewed": 1, "none": 1}


def test_bloom_no_false_negatives_and_dup_hits(spark):
    """Bloom guarantee: every truly-present probe MUST hit; verdicts agree
    with exact membership on a corpus where probe texts 0..4 repeat in
    history and 5..9 are novel."""
    from logspark import sketch

    rows = [(i, f"text {i % 10}", "en", "s", 8) for i in range(40)]
    rows += [(100 + i, f"novel {i}", "en", "s", 7) for i in range(5)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    hist = docs.filter(F.col("doc_id") < 20)       # texts 0..9 all present
    probes = docs.filter(F.col("doc_id") >= 20)    # 20 repeats + 5 novels
    out = {r["doc_id"]: r for r in
           sketch.bloom_membership(hist, probes, key="text").collect()}
    assert len(out) == 25
    for r in out.values():
        if r["present"]:
            assert r["bloom_hit"], f"false negative at doc {r['doc_id']}"
    assert all(out[i]["present"] for i in range(20, 40))
    assert not any(out[100 + i]["present"] for i in range(5))


def test_anomaly_median_mad_exact(spark, tmp_path):
    """Hand-built daily series with one clear outlier: counts per day
    {d1:10, d2:10, d3:11, d4:12, d5:100}. Sorted [10,10,11,12,100],
    nearest-rank floor((5+1)/2)=3 -> median 11; adevs |c-11| =
    [1,1,0,1,89], sorted [0,1,1,1,89] -> MAD 1; only d5 exceeds
    3*MAD."""
    import datetime as dt

    import __spark_entry__ as entry
    from logspark import gen_sql, pipeline  # noqa: F401

    # build a tiny corpus via documents -> too heavy; instead call the
    # window math directly through a monkeypatched _routed
    rows = []
    eid = 0
    counts = {1: 10, 2: 10, 3: 11, 4: 12, 5: 100}
    for day, c in counts.items():
        for _ in range(c):
            eid += 1
            rows.append((eid, dt.datetime(2024, 3, day, 12, 0, 0), True))
    df = spark.createDataFrame(rows, "doc_id long, ts timestamp, parsed_ok boolean")
    orig = entry._routed
    entry._routed = lambda s, d: df
    try:
        got = {
            str(r["log_date"]): r
            for r in entry.q_anomaly_daily_counts(spark, "ignored").collect()
        }
    finally:
        entry._routed = orig
    assert all(r["med"] == 11 and r["mad"] == 1 for r in got.values())
    flagged = [d for d, r in got.items() if r["is_anomaly"]]
    assert flagged == ["2024-03-05"]


def test_minhash_estimate_identical_docs(docs):
    """The planted exact-dup pair (1,2) must show full signature
    agreement (estimate 1.0) and exact Jaccard 1.0; every estimate is in
    [0, 1] with agreement on the num_perms grid."""
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in textops.minhash_estimate_eval(docs).collect()
    }
    p = out[(1, 2)]
    assert p["mh_agree"] == textops.NUM_PERMS
    assert p["mh_est"] == 1.0 and p["jaccard"] == 1.0
    for r in out.values():
        assert 0 <= r["mh_agree"] <= textops.NUM_PERMS
        assert r["mh_est"] == r["mh_agree"] / textops.NUM_PERMS


def test_temperature_mix_rebalances_skew(spark):
    """alpha=0.5 mixing must keep a HIGHER fraction of tail strata than of
    the head stratum, land near the B = N/2 budget, and be deterministic."""
    from pyspark.sql import functions as F

    rows = [(f"d{i}", "hot" if i % 10 < 8 else ("warm" if i % 10 < 9 else "cold"))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    kept = textops.temperature_mix(df)
    by_src = {r["source"]: r["cnt"] for r in
              kept.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    n = {"hot": 1600, "warm": 200, "cold": 200}
    frac = {s: by_src.get(s, 0) / n[s] for s in n}
    assert frac["cold"] > frac["hot"] and frac["warm"] > frac["hot"]
    total = sum(by_src.values())
    assert abs(total - 1000) < 150  # binomial noise around the budget
    again = textops.temperature_mix(df)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_pii_redact_clean_has_no_pii(spark):
    """After redaction the cleaned text must contain zero matches of any
    PII pattern (idempotence of the scrub)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "plain words here", "en", "s", 16) for i in range(12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(d % 3 > 0, F.concat(F.lit(" contact user"), d.cast("string"),
                                   F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.concat(F.lit(" from 10."), (d % 223).cast("string"),
                                    F.lit(".0."), (d % 241).cast("string"))
               ).otherwise(F.lit("")),
        F.lit(" tel 555-"), F.lpad((d % 10000).cast("string"), 4, "0"),
    )
    clean = (
        docs.select("doc_id", aug.alias("aug"))
        .select(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.col("aug"), textops.PII_EMAIL_RE, "<EMAIL>"),
                    textops.PII_IPV4_RE, "<IP>"),
                textops.PII_PHONE_RE, "<TEL>").alias("clean")
        )
    )
    leftovers = clean.select(
        (F.size(F.regexp_extract_all(F.col("clean"), F.lit(textops.PII_EMAIL_RE), F.lit(0)))
         + F.size(F.regexp_extract_all(F.col("clean"), F.lit(textops.PII_IPV4_RE), F.lit(0)))
         + F.size(F.regexp_extract_all(F.col("clean"), F.lit(textops.PII_PHONE_RE), F.lit(0)))
         ).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert leftovers == 0


def test_setsim_prefix_join_complete_vs_bruteforce(spark):
    """The prefix+length+positional filters must be LOSSLESS: on a
    hostile corpus (identical pairs, boundary-Jaccard pairs, subset
    pairs, disjoint docs, size-ratio violations) the result equals the
    brute-force all-pairs Jaccard computed here in plain Python."""
    rows = [
        (0, "a b c d e f g h"),          # base
        (1, "a b c d e f g h"),          # identical to 0 (J=1)
        (2, "a b c d e f g x"),          # high overlap with 0
        (3, "a b c d x y z w"),          # mid overlap
        (4, "p q r s t u v w"),          # near-disjoint
        (5, "a b c"),                    # short subset-ish (length filter)
        (6, "a b c d e f g h i j k l m n o p"),  # 2x size of 0
        (7, "z1 z2 z3 z4 z5 z6 z7 z8"),  # fully disjoint
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"])
        for r in textops.setsim_prefix_join(docs, threshold_pct=50).collect()
    }

    def bigrams(t):
        ws = t.split(" ")
        return {f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)}

    sets = {i: bigrams(t) for i, t in rows}
    want = {}
    for a in sets:
        for b in sets:
            if a < b:
                i = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                if 100 * i >= 50 * u:
                    want[(a, b)] = (i, u)
    assert got == want and (0, 1) in want


def test_hll_estimate_tracks_distinct_and_is_bounded(spark):
    from logspark import sketch

    # group A: 500 distinct values (past linear-counting range for some
    # registers); group B: exactly 3 distinct values, repeated
    rows = [("A", f"val-{i}") for i in range(500)] + [
        ("B", f"v-{i % 3}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r["g"]: r for r in sketch.hll_distinct(df, "g", "v").collect()}
    assert out["A"]["registers_hit"] <= sketch.HLL_M
    # m=64 HLL has ~13% std error; 35% is a 2.7-sigma bound
    assert abs(out["A"]["hll_estimate"] - 500) / 500 < 0.35
    # tiny group: linear counting keeps the estimate near-exact
    assert abs(out["B"]["hll_estimate"] - 3) < 2
    assert out["B"]["registers_hit"] <= 3


def test_hll_ignores_nulls_and_is_insensitive_to_duplication(spark):
    from logspark import sketch

    base = [("G", f"x-{i}") for i in range(100)]
    df1 = spark.createDataFrame(base + [("G", None)], "g string, v string")
    df2 = spark.createDataFrame(base * 5, "g string, v string")
    e1 = sketch.hll_distinct(df1, "g", "v").collect()[0]
    e2 = sketch.hll_distinct(df2, "g", "v").collect()[0]
    # the sketch is a function of the distinct value SET only
    assert e1["hll_reg_sum"] == e2["hll_reg_sum"]
    assert e1["hll_estimate"] == e2["hll_estimate"]


def test_source_kl_zero_for_identical_distribution_positive_for_shifted(spark):
    from logspark import textops

    # sources A and B have the SAME word distribution -> corpus mixture
    # equals each source -> KL ~ 0 (floor rounding may leave it a hair
    # under). Source C is disjoint vocabulary -> strongly positive KL.
    rows = (
        [(i, "A", "x y z") for i in range(10)]
        + [(100 + i, "B", "x y z") for i in range(10)]
    )
    df0 = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out0 = {r["source"]: r for r in textops.source_unigram_kl(df0).collect()}
    for s in ("A", "B"):
        assert abs(out0[s]["kl_micro_nat_per_word"]) < 10  # ~0 nats

    rows_c = rows + [(200 + i, "C", "q r s t") for i in range(10)]
    df1 = spark.createDataFrame(rows_c, "doc_id long, source string, text string")
    out1 = {r["source"]: r for r in textops.source_unigram_kl(df1).collect()}
    # C's vocabulary never appears elsewhere: KL(C || mix) = ln(total/|C|)
    assert out1["C"]["kl_micro_nat_per_word"] > 500000  # > 0.5 nats
    assert out1["A"]["kl_micro_nat_per_word"] > 0  # mixture shifted off A now


def test_paragraph_dedup_removes_repeated_block(spark):
    """Doc 20 repeats doc 10's first 8-word block verbatim; the global
    first occurrence (smaller doc_id) survives, the copy is stripped from
    doc 20's reconstruction, and unique tail words remain."""
    a = "w1 w2 w3 w4 w5 w6 w7 w8"  # one exact 8-word block
    rows = [
        (10, a + " tailA1 tailA2", "en", "s", 0),
        (20, a + " tailB1 tailB2", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s, _ in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in textops.paragraph_dedup(docs).collect()}
    assert out[10]["n_blocks"] == 2 and out[10]["n_kept"] == 2
    # doc 20 loses the repeated block but keeps its distinct tail block
    assert out[20]["n_blocks"] == 2 and out[20]["n_kept"] == 1
    assert out[20]["clean_len"] == len("tailB1 tailB2")


def test_mixture_epochs_conservation(docs):
    """Every source's emitted count sits between floor(e)*n_docs and
    ceil(e)*n_docs, extra copies equal n_emitted - floor(e)*n_docs, and
    the checksum is consistent with the emitted multiset size."""
    for r in textops.mixture_epochs(docs).collect():
        lo = (r["epochs_milli"] // 1000) * r["n_docs"]
        hi = lo + r["n_docs"]
        assert lo <= r["n_emitted"] <= hi
        assert r["n_extra_copies"] == r["n_emitted"] - lo


def test_bm25_monotonic_in_tf(spark):
    """More occurrences of a query term -> strictly higher BM25 score
    when dl is equal (pure tf saturation ordering)."""
    rows = [
        (1, "spark x x x x x", "en", "s", 0),
        (2, "spark spark x x x x", "en", "s", 0),
        (3, "spark spark spark x x x", "en", "s", 0),
        (4, "y y y y y y", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s, _ in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r["score_micro"] for r in textops.bm25_topk(docs).collect()}
    assert 4 not in out  # no query terms -> not retrieved
    assert out[3] > out[2] > out[1] > 0


def test_perplexity_buckets_thirds(spark):
    """A 9-doc single-source corpus splits exactly 3/3/3 and bucket score
    ranges are ordered head <= middle <= tail."""
    rows = [(i, " ".join(f"w{j}" for j in range(3 + (i % 5))) + (" rare" + str(i)) * (i % 3),
             "en", "s", 0) for i in range(9)]
    docs = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s, _ in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["bucket"]: r for r in textops.perplexity_buckets(docs).collect()}
    assert {b: out[b]["n_docs"] for b in out} == {"head": 3, "middle": 3, "tail": 3}
    assert out["head"]["max_score"] <= out["middle"]["min_score"]
    assert out["middle"]["max_score"] <= out["tail"]["min_score"]


def test_tokenizer_fertility_exact_milli(spark):
    """fertility_milli and chars_per_tok_milli are floor-divisions of
    the exact totals."""
    corpus = spark.createDataFrame(
        [
            ("d1", "s1", "ab cd", 5),   # 2 words, 5 tok, 5 chars
            ("d2", "s1", "abc", 3),     # 1 word, 3 tok
            ("d3", "s2", "a  b", 4),    # double space: 2 words
        ],
        "doc_id string, source string, line string, n_tok int",
    )
    out = {r["source"]: r for r in textops.tokenizer_fertility(corpus).collect()}
    s1 = out["s1"]
    assert (s1["tok_total"], s1["word_total"]) == (8, 3)
    assert s1["fertility_milli"] == 8 * 1000 // 3
    assert s1["chars_per_tok_milli"] == 1000  # chars == tokens here
    s2 = out["s2"]
    assert (s2["tok_total"], s2["word_total"]) == (4, 2)
    assert s2["fertility_milli"] == 2000


def test_source_overlap_exact_jaccard(spark):
    """Two sources sharing exactly one distinct 3-shingle out of known
    set sizes -> exact milli-Jaccard; disjoint pair emits no row."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1", 0),     # shingles: 'a b c', 'b c d'
            (2, "a b c", "s2", 0),       # shingle:  'a b c' (shared)
            (3, "x y z w", "s3", 0),     # disjoint from s1/s2
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    rows = textops.source_overlap_matrix(docs).collect()
    got = {(r["source_a"], r["source_b"]): r for r in rows}
    assert set(got) == {("s1", "s2")}
    r = got[("s1", "s2")]
    assert (r["n_shared"], r["n_a"], r["n_b"]) == (1, 2, 1)
    assert r["jaccard_milli"] == 1000 * 1 // (2 + 1 - 1)


def test_novelty_curve_conserves_types_and_covers_phases(docs):
    """Novel counts sum to the distinct shingle-type count; occurrences
    sum to the total shingle count; every phase with occurrences
    appears (zero-novelty phases read 0, not dropped)."""
    out = textops.novelty_curve(docs).collect()
    total_novel = sum(r["novel_shingles"] for r in out)
    total_occ = sum(r["n_occurrences"] for r in out)
    sh = textops.shingles_df(docs, k=2)
    assert total_novel == sh.select("shingle").distinct().count()
    assert total_occ == sh.count()
    for r in out:
        assert 0 <= r["novelty_milli"] <= 1000
        assert r["novel_shingles"] * 1000 // r["n_occurrences"] == r["novelty_milli"]
