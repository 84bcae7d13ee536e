"""End-to-end pipeline wiring: corpus -> detokenize -> parse -> enrich ->
route -> aggregate, with observe()-based counters.

This is the Spark-native re-expression of the reference's whole control loop
(SURVEY.md §3, E1/E2): what the reference reconstructed by parsing importer
stdout (/root/reference/libs/lib_summary.py:94-111) are first-class aggregates
here; what it tracked in MySQL control tables is an Iceberg/parquet checkpoint
table (logspark/control.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logspark import gen_sql, metrics, parse, route, tokens


def build_corpus_df(spark: SparkSession, rel: str) -> DataFrame:
    """Materialize the deterministic corpus (doc_id, source, tokens, n_tok)
    from a portable-SQL relation (documents table or range())."""
    df = spark.sql(gen_sql.corpus_sql(rel)).select("doc_id", "source", "line")
    return tokens.with_tokens(df).drop("line")


def detokenized(df: DataFrame) -> DataFrame:
    """Attach the reconstructed ``line`` column with the pure-JVM expression
    codec (``tokens.detokenize_expr``): it stays in whole-stage codegen and
    never crosses the Python boundary."""
    return df.withColumn("line", tokens.detokenize_expr())


def routed_hits(
    spark: SparkSession,
    corpus: DataFrame,
    observation: Observation | None = None,
) -> DataFrame:
    """corpus(doc_id, source, tokens, n_tok) -> routed hit rows.

    Narrow pipeline: zero shuffles until the caller aggregates or writes.
    ``observation`` (if given) collects per-route counters in the SAME pass —
    the engine-native accumulator metrics required by north_rule.
    """
    df = detokenized(corpus)
    df = parse.parse_lines(df)
    df = parse.enriched_ext_kind(df, spark)
    df = df.withColumn("route", route.route_expr()).withColumn(
        "sink", route.sink_expr(F.col("route"))
    )
    if observation is not None:
        df = df.observe(observation, *metrics.observed_columns())
    return df


def run_counts(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """The flagship aggregate: per-(source, route, sink) counts."""
    r = routed_hits(spark, corpus)
    return (
        r.groupBy("source", "route", "sink")
        .agg(F.count("*").alias("cnt"))
        .orderBy("source", "route")
    )
