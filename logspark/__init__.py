"""logspark — a PySpark-native log/telemetry analytics engine.

Brand-new implementation (not a port) of the capabilities of
pitangainnovare/matomo-log-analytics (reference snapshot at /root/reference,
cited per-file in module docstrings) re-expressed Spark-first:

    parse -> enrich -> route -> aggregate

over an Iceberg/parquet table of pre-tokenized sequences
(doc_id:string, tokens:array<int32>, n_tok:int32, source:string).

Design goals (BASELINE.json north_rule):
  * vectorized parsing: Spark SQL regexp/json expressions, never per-row
    Python;
  * explicit hash partitioning on doc_id, AQE skew-join;
  * per-partition lineage + accumulator/observe metrics on every stage;
  * resumable from checkpoint state (a literal ``part_id`` filter that
    skips the partitions the control store holds as LOADED).

Beyond the reference, the training-data operator suite (per-round brief):
dedup (exact / shingle-MinHash-LSH verified / SimHash Hamming-ball /
n-gram Jaccard / embedding-cosine) with connected-component duplicate-
cluster resolution, similarity search (cosine top-k, IVF, sign-LSH,
recall@k ANN evaluation), text analysis (lang-ID, quality + repetition
scores, TF-IDF, unigram surprisal, token counts, fingerprints, corpus
curation, BPE merge training), corpus management (deterministic
train/val/test split, per-source stratified sampling), multimodal
plumbing (stub codecs, frame-sample/resize plans), temporal operators
(as-of join, bucketized range join, time buckets, sessionization,
stream-stream interval join, stream-static band-index join), relational
breadth (pivot, set operators, ROLLUP/CUBE with GROUPING(), NTILE, exact
nearest-rank percentiles, JSON extraction, ordered sequence construction,
FULL OUTER snapshot diff, one-scan column profiling), training-data
delivery (benchmark decontamination, incremental new-vs-history dedup,
fixed-length sequence packing via a two-level prefix sum, token-vocab
histograms, bigram-LM surprisal, hash-sharded export with verifiable
manifests, a full fixed-point k-means iteration over embeddings), REAL
pure-numpy decoders for uncompressed image/audio/video formats (P6 PPM,
PCM WAV, YUV4MPEG2 — each against a closed-form oracle), a grok template
compiler, and a deterministic KMV distinct sketch — every one verified
value-exact against a DuckDB oracle.
"""

__version__ = "0.1.0"
