"""Control-plane semantics: resume as a literal ``part_id`` filter (not an
anti-join), monotonic status, quota rollup with regimes."""

from __future__ import annotations

import pyspark.sql.functions as F

from logspark import control, pipeline, status


def test_resume_anti_join(spark, small_corpus, tmp_path):
    store = control.CheckpointStore(spark, str(tmp_path / "ctrl"))
    withpid = control.with_partition_id(small_corpus, 8)
    # nothing committed -> everything pending
    assert control.pending_partitions(withpid, store).count() == small_corpus.count()
    # commit partitions 0..3 -> only 4..7 pending
    done = spark.createDataFrame(
        [(i, control.LOADED, 0, 0, "r1") for i in range(4)],
        control.CONTROL_SCHEMA,
    )
    store.append(done)
    pending = control.pending_partitions(withpid, store)
    assert pending.filter(F.col("part_id") < 4).count() == 0
    expected = withpid.filter(F.col("part_id") >= 4).count()
    assert pending.count() == expected


def test_monotonic_status_merge(spark):
    existing = spark.createDataFrame(
        [(1, control.LOADED, 10, 10, "r1"), (2, control.QUEUE, 0, 0, "r1")],
        control.CONTROL_SCHEMA,
    )
    updates = spark.createDataFrame(
        [(1, control.FAILED, 5, 5, "r2"), (2, control.LOADED, 9, 9, "r2"),
         (3, control.PARTIAL, 1, 1, "r2")],
        control.CONTROL_SCHEMA,
    )
    merged = {r["part_id"]: r for r in control.merge_status(existing, updates).collect()}
    assert merged[1]["status"] == control.LOADED  # never downgraded
    assert merged[1]["run_id"] == "r1"
    assert merged[2]["status"] == control.LOADED  # upgraded
    assert merged[3]["status"] == control.PARTIAL  # inserted


def test_partition_stats_and_conservation(spark, small_corpus):
    withpid = control.with_partition_id(small_corpus, 8)
    routed = pipeline.routed_hits(spark, withpid)
    stats = control.partition_stats(routed, "r1")
    agg = stats.agg(F.sum("rows_in"), F.sum("rows_routed")).collect()[0]
    assert agg[0] == agg[1] == small_corpus.count()
    assert stats.count() == 8


def test_quota_rollup_regimes(spark, small_corpus):
    routed = pipeline.routed_hits(spark, small_corpus)
    ds = status.rollup_date_status(routed, spark)
    rows = ds.collect()
    assert len(rows) > 0
    for r in rows:
        if r["source"] == "apache-hiperion":
            want = 120 if str(r["log_date"]) > "2024-03-15" else 150
            assert r["expected"] == want
        if r["loaded"] >= r["expected"]:
            assert r["status"] == status.S_LOADED
        elif r["loaded"] > 0:
            assert r["status"] == status.S_PARTIAL


def test_date_status_latest_regime_wins(spark, monkeypatch):
    """With two dated regimes the latest applicable one sets the quota;
    on or before a regime start the earlier quota holds (strict >)."""
    import datetime as dt

    from logspark.session import local_table

    monkeypatch.setattr(
        status,
        "DEFAULT_QUOTAS",
        [("s", "2024-01-10", 20), ("s", None, 10), ("s", "2024-01-20", 30)],
    )
    days = [5, 10, 15, 20, 25]
    hits = local_table(
        spark,
        [("s", dt.datetime(2024, 1, d, 12), "visit") for d in days]
        + [("unlisted", dt.datetime(2024, 1, 5, 12), "visit")],
        "source string, ts timestamp, route string",
    )
    got = {
        (r["source"], r["log_date"].day): (r["expected"], r["status"])
        for r in status.rollup_date_status(hits, spark).collect()
    }
    assert got == {
        ("s", 5): (10, status.S_PARTIAL),
        ("s", 10): (10, status.S_PARTIAL),
        ("s", 15): (20, status.S_PARTIAL),
        ("s", 20): (20, status.S_PARTIAL),
        ("s", 25): (30, status.S_PARTIAL),
        ("unlisted", 5): (None, status.S_PARTIAL),
    }


def test_retry_adjusted_progress(spark):
    from logspark import control

    df = spark.createDataFrame(
        [(200_000,), (110_000,), (50_000,), (0,)], "lines_parsed long"
    )
    adj, status = control.retry_adjusted_progress(df.lines_parsed)
    rows = {
        r["lines_parsed"]: (r["adjusted_lines"], r["retry_status"])
        for r in df.select("lines_parsed", adj, status).collect()
    }
    # reference semantics (lib_summary.py:82-87): PARTIAL iff progress
    # survives the 110k rewind, else FAILED with zero progress
    assert rows[200_000] == (90_000, control.PARTIAL)
    assert rows[110_000] == (0, control.FAILED)
    assert rows[50_000] == (0, control.FAILED)
    assert rows[0] == (0, control.FAILED)


def test_scd2_apply_all_merge_arms(spark):
    """All five MERGE arms: history pass-through, changed (close+reopen),
    same-attr update (keep), no update (keep), new key (insert)."""
    import datetime as dt

    from logspark import scd

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    current = spark.createDataFrame(
        [
            (1, "old", t(1), t(2)),   # history row
            (1, "a", t(2), None),     # open, will change -> close+reopen
            (2, "b", t(1), None),     # open, same-attr update -> keep
            (3, "c", t(1), None),     # open, no update -> keep
        ],
        "key long, attr string, valid_from timestamp, valid_to timestamp",
    )
    updates = spark.createDataFrame(
        [(1, "a2", t(5)), (2, "b", t(5)), (4, "d", t(5))],
        "key long, attr string, ts timestamp",
    )
    got = {
        (r["key"], r["attr"], r["valid_from"], r["valid_to"])
        for r in scd.scd2_apply(current, updates).collect()
    }
    assert got == {
        (1, "old", t(1), t(2)),
        (1, "a", t(2), t(5)),    # closed at update ts
        (1, "a2", t(5), None),   # reopened
        (2, "b", t(1), None),    # kept (same attr)
        (3, "c", t(1), None),    # kept (no update)
        (4, "d", t(5), None),    # inserted
    }


def test_scd2_apply_null_attrs(spark):
    """NULL attr values are data, not presence sentinels: an open NULL-attr
    row with no update is KEPT (not dropped), NULL <-> value transitions
    version the row, NULL -> NULL is unchanged (ADVICE r2: attr-nullness
    was the full-outer presence marker and lost those rows)."""
    import datetime as dt

    from logspark import scd

    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    current = spark.createDataFrame(
        [
            (1, None, t(1), None),   # open NULL-attr, no update -> keep
            (2, None, t(1), None),   # open NULL-attr, NULL update -> keep
            (3, None, t(1), None),   # open NULL-attr, update 'x' -> version
            (4, "y", t(1), None),    # open 'y', NULL update -> version
        ],
        "key long, attr string, valid_from timestamp, valid_to timestamp",
    )
    updates = spark.createDataFrame(
        [(2, None, t(5)), (3, "x", t(5)), (4, None, t(5))],
        "key long, attr string, ts timestamp",
    )
    got = {
        (r["key"], r["attr"], r["valid_from"], r["valid_to"])
        for r in scd.scd2_apply(current, updates).collect()
    }
    assert got == {
        (1, None, t(1), None),
        (2, None, t(1), None),
        (3, None, t(1), t(5)),
        (3, "x", t(5), None),
        (4, "y", t(1), t(5)),
        (4, None, t(5), None),
    }


def test_slo_error_budget_integer_exact(spark):
    """availability ppm / burn milli / breach are exact integer results;
    a 0.2% 5xx day breaches the 99.9% target, an all-2xx day reads
    1,000,000 ppm with zero burn."""
    import datetime

    from logspark import status as status_mod

    base = datetime.datetime(2024, 3, 5, 10, 0, 0)
    rows = [
        # source a, one day: 500 requests, exactly 1 5xx -> 0.2% > 0.1%
        *[("a", base, 200, True) for _ in range(499)],
        ("a", base, 503, True),
        # source b: 10 requests, no errors
        *[("b", base, 200, True) for _ in range(10)],
        # unparsed rows never count
        ("a", base, None, False),
    ]
    df = spark.createDataFrame(
        rows, "source string, ts timestamp, status int, parsed_ok boolean"
    )
    out = {r["source"]: r for r in status_mod.slo_error_budget(df).collect()}
    a = out["a"]
    assert (a["n_req"], a["n_5xx"]) == (500, 1)
    assert a["availability_ppm"] == 499 * 1000000 // 500  # 998000
    assert a["burn_milli"] == 1 * 1000000000 // (500 * 1000)  # 2000 = 2x budget
    assert a["breached"] is True
    b = out["b"]
    assert b["availability_ppm"] == 1000000
    assert b["burn_milli"] == 0 and b["breached"] is False
