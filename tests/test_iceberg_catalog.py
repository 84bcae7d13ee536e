"""Real-Iceberg catalog smoke test (skipped where the runtime jar is absent).

The reference's whole identity is its control tables (/root/reference/
models/declarative.py:9-63); our production analog is Iceberg MERGE INTO /
overwritePartitions (the fixture below sets the catalog configs) with the
parquet dynamic-partition-overwrite fallback reproducing the commit
semantics (tested by the kill/replay scenarios in
test_sinks_job_streaming.py). This module is the catalog-path counterpart:
when an iceberg-spark-runtime jar is discoverable it runs the SAME
commit-protocol assertions against a local Hadoop catalog —
  * overwritePartitions replay of a pending partition leaves no duplicate
    rows (the crash-replay idempotence unit),
  * MERGE INTO on the control table upserts status rows with the
    monotonic-rank guard, matching control.merge_status's dataflow result.

In THIS sandbox no Iceberg jar exists anywhere on disk and there is no
network to fetch one (verified: pyspark's bundled jars dir, $SPARK_HOME,
~/.ivy2 all empty of iceberg-*), so the tests skip with that reason —
the skip is the documented attempt, and the suite turns real the moment a
jar is dropped into any of the searched locations.
"""

from __future__ import annotations

import glob
import os

import pytest


def _find_iceberg_jar() -> str | None:
    import pyspark

    roots = [
        os.path.join(os.path.dirname(pyspark.__file__), "jars"),
        os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"), "jars"),
        os.path.expanduser("~/.ivy2"),
        "/opt/spark/jars",
        "/usr/share/java",
    ]
    for root in roots:
        if not os.path.isdir(root):
            continue
        hits = glob.glob(
            os.path.join(root, "**", "iceberg-spark-runtime*.jar"),
            recursive=True,
        )
        if hits:
            return hits[0]
    return None


ICEBERG_JAR = _find_iceberg_jar()

pytestmark = pytest.mark.skipif(
    ICEBERG_JAR is None,
    reason="no iceberg-spark-runtime jar on disk and no network to fetch "
    "one (searched pyspark jars, $SPARK_HOME/jars, ~/.ivy2, /opt/spark); "
    "the parquet fallback's commit semantics are covered by "
    "test_sinks_job_streaming.py kill/replay scenarios",
)


@pytest.fixture(scope="module")
def iceberg_spark(tmp_path_factory):
    """Isolated session wired to a local Hadoop catalog (no services)."""
    from logspark.session import get_spark

    wh = str(tmp_path_factory.mktemp("iceberg_wh"))
    spark = get_spark(
        cores=8,
        app="iceberg-smoke",
        extra={
            "spark.jars": ICEBERG_JAR,
            "spark.sql.extensions": "org.apache.iceberg.spark.extensions."
            "IcebergSparkSessionExtensions",
            "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
            "spark.sql.catalog.lake.type": "hadoop",
            "spark.sql.catalog.lake.warehouse": wh,
        },
    )
    yield spark
    spark.stop()


def test_overwrite_partitions_replay_no_duplicates(iceberg_spark):
    """Crash-replay idempotence on the REAL catalog: re-writing one
    (sink, part_id) partition via overwritePartitions replaces its rows
    (job.py's parquet dynamic-overwrite fallback models exactly this)."""
    spark = iceberg_spark
    from logspark import control, pipeline, synth

    corpus = control.with_partition_id(synth.corpus(spark, 2000), 8)
    routed = pipeline.routed_hits(spark, corpus).select(
        "doc_id", "sink", "part_id", "route"
    )
    spark.sql(
        "CREATE TABLE IF NOT EXISTS lake.db.sinks "
        "(doc_id STRING, sink STRING, part_id INT, route STRING) "
        "USING iceberg PARTITIONED BY (sink, part_id)"
    )
    routed.writeTo("lake.db.sinks").overwritePartitions()
    before = spark.table("lake.db.sinks").count()
    # replay ONE pending partition (the crash scenario): same rows again
    routed.filter("part_id = 3").writeTo("lake.db.sinks").overwritePartitions()
    after = spark.table("lake.db.sinks").count()
    assert after == before, "overwritePartitions replay duplicated rows"


def test_merge_into_matches_dataflow_merge(iceberg_spark):
    """MERGE INTO with the monotonic status guard equals the pure-dataflow
    control.merge_status result on the same inputs."""
    spark = iceberg_spark
    from logspark import control

    spark.sql(
        "CREATE TABLE IF NOT EXISTS lake.db.ctrl "
        "(part_id INT, status INT, rows_in BIGINT, rows_routed BIGINT, "
        "run_id STRING) USING iceberg"
    )
    existing = spark.createDataFrame(
        [(1, control.LOADED, 10, 10, "r0"), (2, control.PARTIAL, 5, 4, "r0")],
        control.CONTROL_SCHEMA,
    )
    updates = spark.createDataFrame(
        [(1, control.PARTIAL, 3, 3, "r1"), (2, control.LOADED, 9, 9, "r1"),
         (3, control.QUEUE, 0, 0, "r1")],
        control.CONTROL_SCHEMA,
    )
    existing.writeTo("lake.db.ctrl").append()
    updates.createOrReplaceTempView("updates")
    # rank-guarded upsert: LOADED is never downgraded (lib_database.py:105)
    spark.sql(
        """
        MERGE INTO lake.db.ctrl t USING updates u ON t.part_id = u.part_id
        WHEN MATCHED AND (
          CASE t.status WHEN -9 THEN 0 WHEN -1 THEN 1 WHEN 0 THEN 2
                        WHEN 9 THEN 3 WHEN 1 THEN 4 WHEN 2 THEN 5 END <
          CASE u.status WHEN -9 THEN 0 WHEN -1 THEN 1 WHEN 0 THEN 2
                        WHEN 9 THEN 3 WHEN 1 THEN 4 WHEN 2 THEN 5 END
        ) THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    got = {
        (r["part_id"], r["status"], r["run_id"])
        for r in spark.table("lake.db.ctrl").collect()
    }
    want = {
        (r["part_id"], r["status"], r["run_id"])
        for r in control.merge_status(existing, updates).collect()
    }
    assert got == want
