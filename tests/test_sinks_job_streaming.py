"""End-to-end surfaces: fan-out writes, the spark-submit job (with resume),
multimodal plumbing, streaming/batch parity."""

from __future__ import annotations

import glob
import os
import re
import shutil
import subprocess
import sys
from collections import Counter

import pyspark.sql.functions as F
import pytest

from logspark import control, multimodal, pipeline, sinks, synth


def test_fanout_write_and_readback(spark, small_corpus, tmp_path):
    out = str(tmp_path / "sinks")
    routed = pipeline.routed_hits(spark, control.with_partition_id(small_corpus, 8))
    expected = {r["sink"]: r["cnt"] for r in
                routed.groupBy("sink").agg(F.count("*").alias("cnt")).collect()}
    sinks.write_fanout(routed, out, partition_cols=["sink", "part_id"])
    back = spark.read.parquet(out)
    got = {r["sink"]: r["cnt"] for r in
           back.groupBy("sink").agg(F.count("*").alias("cnt")).collect()}
    assert got == expected


def test_job_end_to_end_with_resume(spark, tmp_path):
    from logspark import job

    corpus_path = str(tmp_path / "corpus")
    synth.write_corpus(spark, 1000, corpus_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rc = job.main(
        [
            "--input", corpus_path, "--output", out, "--checkpoint", ckpt,
            "--partitions", "8", "--run-id", "r1", "--cores", "8",
        ]
    )
    assert rc == 0
    n1 = spark.read.parquet(out).count()
    assert n1 == 1000
    # second run: everything committed -> nothing new written
    rc2 = job.main(
        [
            "--input", corpus_path, "--output", out, "--checkpoint", ckpt,
            "--partitions", "8", "--run-id", "r2", "--cores", "8",
        ]
    )
    assert rc2 == 0
    assert spark.read.parquet(out).count() == n1  # idempotent resume

    # kill-and-resume: wipe checkpoint rows for half the partitions
    store = control.CheckpointStore(spark, ckpt)
    committed = store.committed_ids().count()
    assert committed == 8


def test_job_kill_between_data_and_control_no_duplicates(
    spark, tmp_path, monkeypatch
):
    """Crash-atomicity of the parquet commit protocol: a kill AFTER the
    sink write but BEFORE the control append must not duplicate rows on
    resume. The (sink, part_id) dynamic-overwrite layout makes the replay
    REPLACE the orphaned files (reference analog: per-file status rows,
    lib_database.py:101-117)."""
    from logspark import job

    corpus_path = str(tmp_path / "kcorpus")
    synth.write_corpus(spark, 1000, corpus_path)
    out = str(tmp_path / "kout")
    ckpt = str(tmp_path / "kckpt")
    argv = [
        "--input", corpus_path, "--output", out, "--checkpoint", ckpt,
        "--partitions", "8", "--run-id", "crash", "--cores", "8",
    ]

    # run 1: simulate the kill — data lands, control append never happens
    monkeypatch.setattr(
        control.CheckpointStore, "append", lambda self, rows: None
    )
    assert job.main(argv) == 0
    monkeypatch.undo()
    assert spark.read.parquet(out).count() == 1000
    store = control.CheckpointStore(spark, ckpt)
    assert store.committed_ids().count() == 0  # nothing committed

    # run 2: full replay of all (still-pending) partitions -> exact counts
    assert job.main(argv[:-4] + ["--run-id", "resume", "--cores", "8"]) == 0
    back = spark.read.parquet(out)
    assert back.count() == 1000  # no duplicates survived the replay
    assert back.select("doc_id").distinct().count() == 1000
    assert store.committed_ids().count() == 8

    # run 3: PARTIAL control loss (control rows for half the partitions
    # gone — e.g. a kill mid-append): only those partitions replay, counts
    # still exact
    keep = store.read().filter(F.col("part_id") < 4)
    keep_pd = keep.toPandas()
    import shutil

    shutil.rmtree(ckpt)
    spark.createDataFrame(keep_pd, schema=control.CONTROL_SCHEMA).write.mode(
        "overwrite"
    ).parquet(ckpt)
    assert job.main(argv[:-4] + ["--run-id", "resume2", "--cores", "8"]) == 0
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.select("doc_id").distinct().count() == 1000
    assert store.committed_ids().count() == 8


def _job_argv(corpus, out, ckpt, run_id):
    return [
        "--input", corpus, "--output", out, "--checkpoint", ckpt,
        "--partitions", "8", "--run-id", run_id, "--cores", "8",
    ]


def _commit(spark, ckpt, part_ids):
    spark.createDataFrame(
        [(p, control.LOADED, 1, 1, "earlier") for p in part_ids],
        control.CONTROL_SCHEMA,
    ).write.mode("append").parquet(ckpt)


def _sink_counts(spark, out):
    return Counter(
        {
            (r["route"], r["sink"]): r["count"]
            for r in spark.read.parquet(out).groupBy("route", "sink").count().collect()
        }
    )


def _part_files(out, part_ids):
    return sorted(
        f
        for p in part_ids
        for f in glob.glob(os.path.join(out, "sink=*", f"part_id={p}", "*"))
    )


def test_job_resume_replays_only_uncommitted_part_ids(spark, tmp_path, capsys):
    """A store holding LOADED rows for part ids 0-5 of 8: the resume reads,
    writes and commits only 6 and 7, leaves the committed parts' files
    alone, and the sinks end up with a fresh run's per-(route, sink)
    counts."""
    from logspark import job

    corpus = str(tmp_path / "corpus")
    synth.write_corpus(spark, 1000, corpus)
    fresh_out = str(tmp_path / "fresh_out")
    assert job.main(_job_argv(corpus, fresh_out, str(tmp_path / "fresh_ck"), "fresh")) == 0
    fresh = _sink_counts(spark, fresh_out)
    want_rows = spark.read.parquet(fresh_out).filter(F.col("part_id") >= 6).count()

    # the sinks as a crash after committing parts 0-5 left them
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    shutil.copytree(fresh_out, out)
    for d in glob.glob(os.path.join(out, "sink=*", "part_id=[67]")):
        shutil.rmtree(d)
    _commit(spark, ckpt, range(6))
    kept = _part_files(out, range(6))
    capsys.readouterr()

    assert job.main(_job_argv(corpus, out, ckpt, "resume")) == 0
    assert f" rows={want_rows} " in capsys.readouterr().out
    ctl = spark.read.parquet(ckpt).collect()
    assert sorted(r["part_id"] for r in ctl if r["run_id"] == "resume") == [6, 7]
    assert _part_files(out, range(6)) == kept
    assert _sink_counts(spark, out) == fresh


def test_job_fully_committed_store_never_reads_corpus(spark, tmp_path, capsys):
    """Every part id LOADED: the pending set is empty from control metadata
    alone, so the job returns 0 without the corpus (deleted here), writes
    nothing and commits nothing."""
    from logspark import job

    corpus = str(tmp_path / "corpus")
    synth.write_corpus(spark, 200, corpus)
    shutil.rmtree(corpus)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _commit(spark, ckpt, range(8))

    assert job.main(_job_argv(corpus, out, ckpt, "noop")) == 0
    assert " rows=0 " in capsys.readouterr().out
    assert not os.path.exists(out)
    assert spark.read.parquet(ckpt).count() == 8


def test_job_with_no_pending_rows_commits_nothing(spark, tmp_path, capsys):
    """Pending part ids that hold no corpus rows (an empty corpus, or a
    corpus with fewer documents than --partitions) make a run that writes
    nothing: it reports zero counters and commits no control rows."""
    from logspark import job

    tiny, empty = str(tmp_path / "tiny"), str(tmp_path / "empty")
    synth.write_corpus(spark, 3, tiny)
    spark.read.parquet(tiny).limit(0).write.parquet(empty)
    out = str(tmp_path / "out")

    assert job.main(_job_argv(empty, out, str(tmp_path / "ck_empty"), "e")) == 0
    assert " rows=0 " in capsys.readouterr().out
    assert not os.path.exists(str(tmp_path / "ck_empty"))

    ckpt = str(tmp_path / "ckpt")
    assert job.main(_job_argv(tiny, out, ckpt, "t1")) == 0
    committed = spark.read.parquet(ckpt).count()
    assert 1 <= committed <= 3
    capsys.readouterr()
    assert job.main(_job_argv(tiny, out, ckpt, "t2")) == 0
    assert " rows=0 " in capsys.readouterr().out
    assert spark.read.parquet(ckpt).count() == committed
    assert spark.read.parquet(out).count() == 3


def test_job_raises_on_unreadable_control_store(spark, tmp_path):
    """A control store that cannot be read is an error, never an empty
    store: the job must not replay every partition over it."""
    from logspark import job

    corpus = str(tmp_path / "corpus")
    synth.write_corpus(spark, 200, corpus)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")

    with pytest.raises(Exception):
        job.main(_job_argv(corpus, out, ckpt, "corrupt"))
    assert not os.path.exists(out)


def test_job_resumes_over_staging_only_control_store(spark, tmp_path, capsys):
    """A kill during the first control append leaves a store directory
    holding only the committer's ``_temporary/`` staging files. Nothing was
    committed, so the next run replays every part id and commits one LOADED
    row each; the run after that has nothing pending."""
    from logspark import job

    corpus = str(tmp_path / "corpus")
    synth.write_corpus(spark, 200, corpus)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    staged = os.path.join(ckpt, "_temporary", "0", "_temporary", "attempt_x")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-00000.parquet"), "wb") as f:
        f.write(b"a half-written append")

    assert job.main(_job_argv(corpus, out, ckpt, "r1")) == 0
    ctl = spark.read.parquet(ckpt).collect()
    assert sorted(r["part_id"] for r in ctl) == list(range(8))
    assert {r["status"] for r in ctl} == {control.LOADED}
    assert sum(r["rows_in"] for r in ctl) == 200
    capsys.readouterr()
    assert job.main(_job_argv(corpus, out, ckpt, "r2")) == 0
    assert " rows=0 " in capsys.readouterr().out


def test_job_first_run_prints_no_java_stack_trace(spark, tmp_path, capfd):
    """A missing control store is the expected first-run state and must
    print no Java stack trace. The job runs in a child process whose
    stderr (the JVM's log output) goes through capfd; two first runs share
    its JVM, since a query observed earlier in a session is what makes a
    later failing query log its trace."""
    corpus = str(tmp_path / "corpus")
    synth.write_corpus(spark, 200, corpus)
    runs = [
        _job_argv(corpus, str(tmp_path / f"out{i}"), str(tmp_path / f"ck{i}"), f"r{i}")
        for i in range(2)
    ]
    code = (
        "import sys\n"
        "from logspark import job\n"
        f"sys.exit(max(job.main(a) for a in {runs!r}))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, LOGSPARK_DRIVER_MEM="1g")
    capfd.readouterr()
    rc = subprocess.run([sys.executable, "-c", code], env=env, timeout=600).returncode
    err = capfd.readouterr().err
    assert rc == 0, err[-2000:]
    assert "PATH_NOT_FOUND" not in err, err[-4000:]
    assert not re.search(r"^\s+at [\w$.]+\(", err, re.M), err[-4000:]


def test_job_writes_one_file_per_directory(spark, tmp_path):
    """The fan-out's one distribution shuffles on part_id, so each
    (sink, part_id) directory is written by one task: one data file each."""
    from logspark import job

    corpus = str(tmp_path / "corpus")
    synth.write_corpus(spark, 1000, corpus)
    out = str(tmp_path / "out")
    assert job.main(_job_argv(corpus, out, str(tmp_path / "ckpt"), "r1")) == 0
    dirs = glob.glob(os.path.join(out, "sink=*", "part_id=*"))
    assert dirs
    assert {d: len(glob.glob(os.path.join(d, "*.parquet"))) for d in dirs} == {
        d: 1 for d in dirs
    }


def test_write_fanout_rejects_other_distributions(spark, small_corpus, tmp_path):
    """'partitioned' is the only write distribution; any other name is an
    error, not a silent fallback."""
    routed = pipeline.routed_hits(spark, small_corpus)
    out = str(tmp_path / "fan")
    with pytest.raises(ValueError):
        sinks.write_fanout(
            routed, out, partition_cols=["sink", "part_id"], distribution="salted"
        )
    assert not os.path.exists(out)


def test_job_metrics_dir_lineage_matches_control_and_counters(spark, tmp_path, capsys):
    """--metrics-dir appends lineage rows that sum, per part_id, to that
    part's control rows_in and, per route, to the printed counters."""
    import ast

    from logspark import job

    corpus = str(tmp_path / "corpus")
    synth.write_corpus(spark, 1000, corpus)
    out, ckpt, mdir = (str(tmp_path / d) for d in ("out", "ckpt", "metrics"))
    capsys.readouterr()
    assert job.main(_job_argv(corpus, out, ckpt, "m1") + ["--metrics-dir", mdir]) == 0
    counters = ast.literal_eval(capsys.readouterr().out.split("counters=", 1)[1].strip())

    lineage = spark.read.parquet(mdir).filter(F.col("run_id") == "m1").collect()
    assert {r["partition_key"] for r in lineage} == {"part_id"}
    per_part, per_route = Counter(), Counter()
    for r in lineage:
        per_part[r["partition_id"]] += r["cnt"]
        per_route[r["route"]] += r["cnt"]
    rows_in = {r["part_id"]: r["rows_in"] for r in spark.read.parquet(ckpt).collect()}
    assert dict(per_part) == rows_in
    assert sum(rows_in.values()) == counters["rows_total"] == 1000
    assert {f"route_{k}": v for k, v in per_route.items()} == {
        k: v for k, v in counters.items() if k.startswith("route_") and v
    }


def test_multimodal_stub_and_stats(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = multimodal.synth_media(docs)
    stats = {r["kind"]: r["cnt"] for r in multimodal.media_stats(media).collect()}
    assert sum(stats.values()) == docs.count()
    feats = multimodal.decode_and_featurize(media, fake=True)
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(0.0 <= r["feat_mean"] <= 255.0 for r in rows)
    # non-fake decode must raise the documented stub error at execution
    with pytest.raises(Exception, match="NotImplementedError|codecs unavailable"):
        multimodal.decode_and_featurize(media, fake=False).count()


def test_ppm_decode_real_roundtrip(spark):
    # hand-built 2x1 P6: pixels (1,2,3) and (250,251,252)
    payload = b"P6\n2 1\n255\n" + bytes([1, 2, 3, 250, 251, 252])
    media = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, payload binary"
    )
    r = multimodal.decode_ppm_images(media).collect()[0]
    assert (r["width"], r["height"]) == (2, 1)
    assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (125.5, 126.5, 127.5)
    # 4x4 nearest-neighbor over a 2x1 image: cols 0,0,1,1 x 4 rows of row 0
    assert r["resized_r_checksum"] == 4 * (1 + 1 + 250 + 250)

    # hostile payloads fail loudly, not silently
    bad = spark.createDataFrame(
        [(1, bytearray(b"P5\n1 1\n255\n\x00"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not a P6|ValueError"):
        multimodal.decode_ppm_images(bad).collect()


def test_wav_decode_real_roundtrip(spark):
    import struct

    # hand-built PCM mono 16-bit WAV with an ancillary LIST chunk BEFORE
    # data (the chunk walker must skip it), samples [-3, 0, 7, 100]
    samples = struct.pack("<4h", -3, 0, 7, 100)
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 24 + 12 + 8 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    media = spark.createDataFrame(
        [(9, bytearray(payload))], "doc_id long, payload binary"
    )
    r = multimodal.decode_wav_audio(media).collect()[0]
    assert (r["sample_rate"], r["n_samples"], r["duration_ms"]) == (8000, 4, 0)
    assert r["mean_amp"] == 26.0 and r["max_amp"] == 100

    bad = spark.createDataFrame(
        [(1, bytearray(b"RIFFxxxxAIFF"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not a RIFF|ValueError"):
        multimodal.decode_wav_audio(bad).collect()


def test_y4m_decode_real_roundtrip(spark):
    import numpy as np

    # hand-built 2x2 C444 clip, 2 frames with known luma planes
    y0, y1 = bytes([10, 20, 30, 40]), bytes([1, 2, 3, 4])
    uv = bytes([128] * 4)
    payload = (
        b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C444\n"
        + b"FRAME\n" + y0 + uv + uv
        + b"FRAME\n" + y1 + uv + uv
    )
    media = spark.createDataFrame(
        [(5, bytearray(payload))], "doc_id long, payload binary"
    )
    r = multimodal.decode_y4m_video(media, max_frames=4).collect()[0]
    assert (r["width"], r["height"], r["n_frames"], r["n_sampled"]) == (2, 2, 2, 2)
    assert r["sampled_luma_sum"] == sum(y0) + sum(y1)

    bad = spark.createDataFrame(
        [(1, bytearray(b"MPEG4 nope\n"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not a y4m|ValueError"):
        multimodal.decode_y4m_video(bad).collect()


def test_streaming_batch_parity(spark, tmp_path):
    from logspark import route, streaming

    corpus_path = str(tmp_path / "scorpus")
    synth.write_corpus(spark, 1500, corpus_path)
    batch_counts = {
        r["route"]: r["cnt"]
        for r in route.route_counts(
            pipeline.routed_hits(spark, spark.read.parquet(corpus_path))
        ).collect()
    }
    stream_counts = {
        r["route"]: r["cnt"]
        for r in streaming.route_counts_via_stream(
            spark, spark.read.parquet(corpus_path)
        ).collect()
    }
    assert stream_counts == batch_counts


def test_stream_click_attribution_matches_batch(spark):
    """Stream-stream interval join == batch semantics, with both boundary
    cases: click exactly at view+horizon (inclusive) and click before the
    view (excluded)."""
    import datetime as dt

    from logspark import streaming

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + 10 * m, 1, "click", 1.0, "{}"),   # +10min: match
        (3, base + 40 * m, 1, "click", 1.0, "{}"),   # +40min: outside
        (4, base + 5 * m, 2, "click", 1.0, "{}"),    # before view: no
        (5, base + 6 * m, 2, "view", 1.0, "{}"),
        (6, base + 36 * m, 2, "click", 1.0, "{}"),   # exactly +30: inclusive
        (7, base, 3, "view", 1.0, "{}"),             # other user: no cross
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    out = sorted(
        (r["view_id"], r["click_id"], r["user_id"])
        for r in streaming.click_attribution_stream(spark, df).collect()
    )
    assert out == [(1, 2, 1), (5, 6, 2)]


def test_streaming_session_windows_matches_batch(spark):
    """Append-mode session_window drain == batch session_window + the
    watermark-cutoff predicate (only sessions whose end the final
    watermark passed are emitted, each exactly once).

    The cutoff is applied in PYTHON on the collected batch rows, not as a
    DataFrame .filter() on session_end: Catalyst pushes a predicate on the
    grouping key below the aggregation, but session_window is a MERGING
    key — pushing `end < cutoff` below the merge drops events whose
    pre-merge single-event window [ts, ts+gap) already ends past the
    cutoff BEFORE they can extend an earlier session, fabricating a
    shorter session that wrongly passes the filter (observed on this very
    dataset: user 12's 6-event session ending 23:51 lost its last event
    and re-emerged as a phantom 5-event session ending 19:56)."""
    from logspark import streaming

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in streaming.session_windows_stream(spark, ev).collect()
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    cutoff = mx - dt.timedelta(hours=1)
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "6 hours"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    expect = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
        if r["session_end"] < cutoff
    )
    assert got == expect and len(got) > 0


def test_streaming_session_windows_merge_across_batches(spark, tmp_path):
    """A session whose events straddle a micro-batch boundary must MERGE in
    state (one emitted row covering both waves), and an open session (end
    not passed by the final watermark) must NOT be emitted."""
    import datetime as dt
    import os

    from logspark import streaming

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    # wave 1: user 1 events at t0 and t0+4h (within the 6h gap)
    w1 = spark.createDataFrame(
        [(1, t0, 1, "view", 1.0, "{}"), (2, t0 + 4 * h, 1, "view", 1.0, "{}")],
        schema,
    )
    # wave 2: t0+8h extends the SAME session across the batch boundary
    # (within 6h of t0+4h); t0+30h opens a second session; user 99's event
    # far in the future pushes the final watermark past every real session
    # but leaves its own session open (must not be emitted)
    w2 = spark.createDataFrame(
        [
            (3, t0 + 8 * h, 1, "view", 1.0, "{}"),
            (4, t0 + 30 * h, 1, "view", 1.0, "{}"),
            (5, t0 + 1000 * h, 99, "view", 1.0, "{}"),
        ],
        schema,
    )
    inp = str(tmp_path / "ev")
    w1.coalesce(1).write.mode("overwrite").parquet(f"{inp}/w=1")
    w2.coalesce(1).write.mode("append").parquet(f"{inp}/w=2")
    files = sorted(
        f"{d}/{f}"
        for d, _, fs in os.walk(inp)
        for f in fs
        if f.endswith(".parquet")
    )
    assert len(files) == 2
    # FileStreamSource batches by modification time: force wave order
    os.utime(files[0], (1_000_000, 1_000_000))
    os.utime(files[1], (2_000_000, 2_000_000))
    stream = (
        spark.readStream.schema(streaming.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(inp)
    )
    out = streaming.drain(
        spark,
        streaming.session_windows_plan(stream),
        "append",
        str(tmp_path / "ck"),
    )
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in out.collect()
    )
    assert got == [
        (1, t0, t0 + 14 * h, 3),        # merged across the boundary
        (1, t0 + 30 * h, t0 + 36 * h, 1),
    ]


def test_drain_restores_shuffle_partitions(spark, small_corpus, tmp_path):
    """A drain's stream runs with DRAIN_SHUFFLE_PARTITIONS state stores,
    and the session's shuffle-partition count comes back afterwards —
    also when the stream fails."""
    from logspark import streaming

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != str(streaming.DRAIN_SHUFFLE_PARTITIONS)

    small_corpus.repartition(2).write.parquet(str(tmp_path / "in"))
    stream = streaming.read_corpus_stream(spark, str(tmp_path / "in"))
    counts = stream.groupBy("source").count()
    out = streaming.drain(spark, counts, "complete", str(tmp_path / "ck"))
    assert out.agg(F.sum("count")).collect()[0][0] == small_corpus.count()
    assert spark.conf.get(key) == before
    stores = [d for d in os.listdir(tmp_path / "ck" / "state" / "0") if d.isdigit()]
    assert len(stores) == streaming.DRAIN_SHUFFLE_PARTITIONS

    bad = streaming.read_corpus_stream(spark, str(tmp_path / "in")).select(
        F.raise_error(F.lit("drain-boom"))
    )
    with pytest.raises(Exception, match="drain-boom"):
        streaming.drain(spark, bad, "append", str(tmp_path / "ck_bad"))
    assert spark.conf.get(key) == before


def test_stream_drains_leave_no_scratch(spark, small_corpus, tmp_path, monkeypatch):
    """The input copy and checkpoint of a drain are removed when it ends;
    the returned memory table stays readable."""
    import tempfile

    from logspark import streaming

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = streaming.route_counts_via_stream(spark, small_corpus)
    assert out.agg(F.sum("cnt")).collect()[0][0] == small_corpus.count()
    assert list(tmp_path.iterdir()) == []


def test_job_anonymize_ip_scrubs_sinks(spark, tmp_path):
    """--anonymize-ip 1: every parsed IP landing in ANY sink column ends
    in .0 — including the token array, which carries the raw line's code
    points and would otherwise let every sink row reconstruct the address
    (ADVICE r2 high). Off by default."""
    from pyspark.sql import functions as F

    from logspark import job, synth, tokens

    corpus_path = str(tmp_path / "corpus")
    synth.write_corpus(spark, 500, corpus_path)
    out = str(tmp_path / "out")

    # reference run WITHOUT the flag: the raw addresses that must not
    # survive anywhere in the anonymized sinks
    raw_out = str(tmp_path / "raw_out")
    assert job.main(
        [
            "--input", corpus_path, "--output", raw_out,
            "--checkpoint", str(tmp_path / "raw_ckpt"),
            "--partitions", "4", "--run-id", "r0", "--cores", "8",
        ]
    ) == 0
    raw_ips = {
        r["ip"]
        for r in spark.read.parquet(raw_out).select("ip").distinct().collect()
        if r["ip"] is not None and not r["ip"].endswith(".0")
    }
    assert raw_ips, "expected raw IPs with a nonzero last octet"

    rc = job.main(
        [
            "--input", corpus_path, "--output", out,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--partitions", "4", "--run-id", "r1", "--cores", "8",
            "--anonymize-ip", "1",
        ]
    )
    assert rc == 0
    sinks_df = spark.read.parquet(out)
    ips = [
        r["ip"]
        for r in sinks_df.select("ip").collect()
        if r["ip"] is not None
    ]
    assert ips, "expected parsed IPs in sinks"
    assert all(ip.endswith(".0") for ip in ips)
    # the three kept octets must still be real (k-anonymity, not erasure)
    assert any(ip.rsplit(".", 1)[0].count(".") == 2 for ip in ips)

    # NO sink column can reconstruct a raw address: detokenize the stored
    # token arrays and scan every string-typed column for any raw IP
    detok = sinks_df.withColumn("_line", tokens.detokenize_expr())
    str_cols = [
        f.name
        for f in detok.schema.fields
        if f.dataType.simpleString() == "string"
    ]
    hits = detok.filter(
        F.concat_ws("\x1f", *[F.coalesce(F.col(c), F.lit("")) for c in str_cols])
        .rlike("|".join(ip.replace(".", "\\.") for ip in raw_ips))
    ).count()
    assert hits == 0, "raw IP recoverable from an anonymized sink column"
    # and n_tok still matches the scrubbed array (invariant maintained)
    assert detok.filter(F.size("tokens") != F.col("n_tok")).count() == 0


def test_anonymize_ip_flag_validation():
    """N outside [0,4] is rejected up front (argparse choices) and
    keep_octets outside [0,4] raises in enrich.anonymize_ip."""
    import pytest

    from logspark import enrich, job

    with pytest.raises(SystemExit):
        job.main(["--input", "x", "--output", "y", "--checkpoint", "z",
                  "--anonymize-ip", "5"])
    with pytest.raises(SystemExit):
        job.main(["--input", "x", "--output", "y", "--checkpoint", "z",
                  "--anonymize-ip", "-1"])
    with pytest.raises(ValueError):
        enrich.anonymize_ip(keep_octets=-1)
    with pytest.raises(ValueError):
        enrich.anonymize_ip(keep_octets=5)


def test_streaming_slo_alerts_matches_batch_ledger(spark, small_corpus):
    """The streamed (source, day, hour) SLO table equals the batch
    computation over the same routed corpus, breach flags included."""
    from logspark import pipeline, streaming

    got = {
        (r["source"], r["day"], r["hour"]): (
            r["n_req"],
            r["n_5xx"],
            r["breached"],
        )
        for r in streaming.slo_alerts_via_stream(spark, small_corpus).collect()
    }
    routed = pipeline.routed_hits(spark, small_corpus).filter(
        F.col("parsed_ok")
    )
    want = {
        (r["source"], r["day"], r["hour"]): (
            r["n_req"],
            r["n_5xx"],
            r["breached"],
        )
        for r in routed.groupBy(
            "source",
            F.dayofmonth("ts").alias("day"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_req"),
            F.sum(F.when(F.col("status") >= 500, 1).otherwise(0)).alias(
                "n_5xx"
            ),
        )
        .withColumn("breached", F.expr("n_5xx * 1000000 > n_req * 1000"))
        .collect()
    }
    assert got == want and len(got) > 0
