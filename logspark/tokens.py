"""Token-array <-> log-line codecs.

Input corpus rows are pre-tokenized sequences (BASELINE.json input_hint:
``tokens:array<int32>``). We use a byte-level vocabulary (token id = the
character's code point, ASCII/latin-1 range) so detokenization is exact and
the per-row invariant — token-array equality through every stage — is
trivially checkable (``size(tokens) == n_tok`` plus full array equality).

One detokenizer runs in the pipeline: ``detokenize_expr``, a pure Spark
SQL expression (transform + char + array_join). It stays inside whole-stage
codegen and never crosses the Python boundary. ``detokenize_map_in_arrow``
is its reference implementation in Arrow: the property and parity tests
check the JVM codec against it.

``tokens`` is never mutated: all codecs derive NEW columns.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokenize(line: Column) -> Column:
    """line -> array<int> of code points (JVM)."""
    return F.transform(F.split(line, ""), lambda c: F.ascii(c).cast("int"))


def with_tokens(df: DataFrame) -> DataFrame:
    """Attach (tokens, n_tok) derived from the ``line`` column."""
    return df.withColumn("tokens", tokenize(F.col("line"))).withColumn(
        "n_tok", F.size("tokens")
    )


# ---------------------------------------------------------------------------
# detokenizers
# ---------------------------------------------------------------------------


def detokenize_expr() -> Column:
    """tokens -> line, pure Spark SQL."""
    return F.array_join(F.transform(F.col("tokens"), lambda t: F.char(t)), "")


def _detok_list_array(arr: pa.Array) -> pa.Array:
    """list<int32> -> string. Token id == Unicode code point (same contract
    as the JVM ``char()`` codec — verified by the hypothesis roundtrip
    property). ASCII fast path reuses buffers zero-copy (values buffer IS
    the utf8 data); any token >= 128 would be multi-byte in UTF-8, so those
    (rare; the log vocabulary is ASCII) take a per-row chr() path."""
    import numpy as np
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    flat32 = arr.flatten()
    mx = pc.max(flat32).as_py() if len(flat32) else 0
    if mx is not None and mx >= 128:
        # arr.offsets are ABSOLUTE indices into the raw child arr.values
        # (true for sliced arrays too), so pair them — never with the
        # flatten()-rebased buffer. Validity is precomputed once as a mask
        # (pyarrow's Array.is_valid() takes no index argument).
        offs = np.asarray(arr.offsets)
        vals = np.asarray(arr.values)
        valid = np.asarray(arr.is_valid())
        strs = [
            "".join(map(chr, vals[offs[i] : offs[i + 1]])) if valid[i] else None
            for i in range(len(arr))
        ]
        return pa.array(strs, type=pa.string())
    lst = arr.cast(pa.list_(pa.uint8()))
    # flatten() honors the list's own offset/validity window
    data = lst.flatten()
    buf = data.buffers()[1]
    if data.offset:
        buf = buf.slice(data.offset)
    offsets = lst.offsets
    off_buf = offsets.buffers()[1]
    if offsets.offset:
        off_buf = off_buf.slice(offsets.offset * 4)
    return pa.StringArray.from_buffers(
        len(lst), off_buf, buf, null_count=lst.null_count, offset=0
    )


def detokenize_map_in_arrow(df: DataFrame) -> DataFrame:
    """Zero-copy Arrow detokenization via mapInArrow (all columns pass
    through; a new ``line`` string column is appended). The reference the
    tests hold ``detokenize_expr`` to."""
    import pyspark.sql.types as T

    schema = T.StructType(df.schema.fields + [T.StructField("line", T.StringType())])
    idx = df.columns.index("tokens")
    names = df.columns + ["line"]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            line = _detok_list_array(b.column(idx))
            yield pa.RecordBatch.from_arrays(list(b.columns) + [line], names=names)

    return df.mapInArrow(fn, schema)


# ---------------------------------------------------------------------------
# fast Arrow tokenizer (generator side): string -> list<int32>
# ---------------------------------------------------------------------------


def tokenize_map_in_arrow(df: DataFrame) -> DataFrame:
    """Inverse of detokenize_map_in_arrow: appends (tokens, n_tok) derived
    from the ``line`` column."""
    import numpy as np
    import pyspark.sql.types as T

    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("tokens", T.ArrayType(T.IntegerType(), False)),
            T.StructField("n_tok", T.IntegerType()),
        ]
    )
    idx = df.columns.index("line")

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            s = b.column(idx)
            if isinstance(s, pa.ChunkedArray):
                s = s.combine_chunks()
            s = s.cast(pa.string())
            data = s.buffers()[2]
            off = s.buffers()[1]
            offsets = np.frombuffer(off, dtype=np.int32, count=len(s) + 1, offset=s.offset * 4)
            vals = np.frombuffer(data, dtype=np.uint8, count=int(offsets[-1]))[
                offsets[0] :
            ].astype(np.int32)
            if len(vals) and vals.max() >= 128:
                # non-ASCII text: utf8 bytes != code points; per-row ord()
                # path keeps the token-id == code-point contract (matches
                # the JVM ascii() tokenizer)
                py = s.to_pylist()
                toks = pa.array(
                    [None if t is None else [ord(c) for c in t] for t in py],
                    type=pa.list_(pa.int32()),
                )
                n_tok = pa.array(
                    [None if t is None else len(t) for t in py], type=pa.int32()
                )
            else:
                rel_offsets = offsets - offsets[0]
                toks = pa.ListArray.from_arrays(pa.array(rel_offsets), pa.array(vals))
                toks = toks.cast(pa.list_(pa.int32()))
                n_tok = pa.array((rel_offsets[1:] - rel_offsets[:-1]).astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [toks, n_tok],
                names=list(b.schema.names) + ["tokens", "n_tok"],
            )

    return df.mapInArrow(fn, schema)


def token_invariant_violations(df: DataFrame) -> DataFrame:
    """Rows violating the n_tok == size(tokens) stage-boundary invariant."""
    return df.filter(F.size("tokens") != F.col("n_tok"))


def ngram_dup_stats(corpus: DataFrame, k: int = 8) -> DataFrame:
    """Token-level duplicated-n-gram statistics, computed DIRECTLY on the
    pre-tokenized ``tokens`` array — no detokenization anywhere.

    For each sequence: the number of distinct token k-grams it contains
    (``n_win``), how many of those occur in at least one OTHER sequence
    (``n_shared``), and their ratio (``dup_frac``). This is the token-domain
    form of the Lee et al. 2021 duplicated-span signal (textops.
    span_dedup_stats is the word-domain form over the documents table):
    pre-training dedup pipelines run it on token ids, not text, because the
    corpus IS token arrays (BASELINE.json input_hint) and the tokenizer is
    not injective on whitespace/casing once normalizers run.

    Spark shape — HOFs only, 3 shuffles, NO join:
      * k-gram extraction is ``transform(sequence(...), i -> slice(tokens,
        i, k))`` — a narrow per-row lambda producing array<int> keys; the
        tokens column itself is never mutated (invariant preserved).
      * distinct (doc_id, gram) pairs: shuffle 1 (hash on the pair).
      * per-gram sequence count via an analytic COUNT over a window
        partitioned by the gram — no orderBy, so no sort, and no
        gram->count table is materialized to join back: shuffle 2.
      * final groupBy doc_id: shuffle 3, map-side combined.
    Skew: a corpus-hot boilerplate k-gram's partition holds one row per
    distinct containing doc — bounded by document frequency, not corpus
    size; at extreme scale swap the analytic count for a salted two-level
    agg, exactly as span_dedup_stats documents.

    dup_frac is ONE int/int division — bit-identical cross-engine. The
    DuckDB oracle states the same computation over substr(line, i, k):
    with the byte-level vocabulary a token k-gram bijects to a k-char
    substring, so the oracle needs no list-of-int grouping.
    """
    grams = (
        corpus.filter(F.col("n_tok") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(1, n_tok - {k} + 1), i -> slice(tokens, i, {k}))")
            ).alias("gram"),
        )
        .distinct()
    )
    from pyspark.sql.window import Window

    ndocs = F.count("*").over(Window.partitionBy("gram"))
    return (
        grams.withColumn("ndocs", ndocs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_win"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_shared").cast("double") / F.col("n_win").cast("double"),
        )
    )
