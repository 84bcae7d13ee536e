"""Deterministic synthetic corpus materialization at any scale.

Seed-stable, hash-based, no RNG (FIXTURES.md requirement): row i of the
corpus is a pure function of i via logspark/gen_sql.py, so scaling from 10^3
to 10^12 rows never changes the small-scale prefix. Generation is pure Spark
range() -> column expressions (zero input I/O, embarrassingly parallel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from logspark import gen_sql, tokens


def corpus(spark: SparkSession, n: int, start: int = 0, partitions: int | None = None) -> DataFrame:
    """(doc_id, source, tokens, n_tok) for ids [start, start+n)."""
    rel = gen_sql.rel_from_range(n, start)
    df = spark.sql(gen_sql.corpus_sql(rel)).select("doc_id", "source", "line")
    if partitions:
        df = df.repartition(partitions)
    return tokens.tokenize_map_in_arrow(df).drop("line")


def write_corpus(
    spark: SparkSession, n: int, path: str, partitions: int | None = None
) -> None:
    corpus(spark, n, partitions=partitions).write.mode("overwrite").parquet(path)
