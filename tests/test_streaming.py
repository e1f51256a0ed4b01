"""Streaming parity tests — the reference's own consistency goal
(`README.md:31`): bounded stream output must equal batch output on the same
input (SURVEY.md §5 item 3)."""

from __future__ import annotations

import glob
import json
import shutil

import pandas as pd

from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.operators.sessionize import sessionize
from flink_realtime_sessionize_sample_spark.sources.registry import load_table
from flink_realtime_sessionize_sample_spark.streaming import (
    build_events_file_stream,
    dedup_stream,
    enrich_stream_static,
    run_sessionize_pipeline,
    sessionize_stream_bucketed,
    windowed_user_counts,
    write_foreach_batch_dedup,
)


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values("event_id").reset_index(drop=True)


def _stage_events_dir(sf_dir: str, tmp_path) -> str:
    """Spark's file-stream source wants a directory; the testdata ships single
    parquet files. Stage a one-file directory."""
    d = tmp_path / "events_stream_src"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_bucketed_stream_matches_batch_per_event(spark, sf_small, tmp_path):
    """sessionize_stream_bucketed (coarse-key MapState layout ≙
    Sessionize.scala:5 + SessionizeGroupMapFunction.scala:13) ≡ the batch
    window formulation, event for event."""
    batch = load_table(spark, sf_small, "events")
    expected = _norm(
        sessionize(batch).select("event_id", "session_id", "duration").toPandas()
    )

    stream = build_events_file_stream(spark, _stage_events_dir(sf_small, tmp_path))
    out = sessionize_stream_bucketed(stream.withWatermark("ts", "60 seconds"))
    q = (
        out.selectExpr("event_id", "session_id", "duration")
        .writeStream.format("memory")
        .queryName("sess_bucketed_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "availableNow replay must terminate"
    got = _norm(spark.sql("select * from sess_bucketed_test").toPandas())

    assert len(got) == len(expected)
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_bucketed_stream_multibatch_state_carry(spark, sf_small, tmp_path):
    """The bucketed per-user state map must carry open sessions across
    micro-batch boundaries: 3 ts-ordered chunks replayed one file per
    trigger (chunk cuts land mid-session) still equal the batch result
    event for event."""
    import time as _time

    from pyspark.sql import Window

    ev = load_table(spark, sf_small, "events")
    n = ev.count()
    per = (n + 2) // 3
    w = Window.orderBy("ts", "event_id")
    chunked = ev.withColumn("_rn", F.row_number().over(w))
    src = tmp_path / "bkt_mb_src"
    src.mkdir()
    for i in range(3):
        (
            chunked.filter((F.col("_rn") > i * per) & (F.col("_rn") <= (i + 1) * per))
            .drop("_rn")
            .coalesce(1)
            .write.parquet(str(src / f"f{i}"))
        )
        _time.sleep(1.1)  # distinct mtimes → replay in ts order

    schema = spark.read.parquet(str(src / "f0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        sessionize_stream_bucketed(stream.withWatermark("ts", "60 seconds"))
        .selectExpr("event_id", "session_id", "duration")
        .writeStream.format("memory")
        .queryName("sess_bucketed_mb_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "availableNow replay must terminate"
    got = _norm(spark.sql("select * from sess_bucketed_mb_test").toPandas())
    expected = _norm(
        sessionize(ev).select("event_id", "session_id", "duration").toPandas()
    )
    assert len(got) == n == len(expected)
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_full_pipeline_json_file_sink(spark, sf_small, tmp_path):
    """End-to-end assembly (source → watermark → sessionize → to_json → file
    sink), the reference's RealtimeSessionize.scala:82-178 wiring."""
    stream = build_events_file_stream(spark, _stage_events_dir(sf_small, tmp_path))
    q = run_sessionize_pipeline(
        spark,
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        out_path=str(tmp_path / "out"),
        trigger_available_now=True,
        queryName="sess_pipeline_test",
    )
    assert q.awaitTermination(180), "availableNow replay must terminate"

    rows = []
    for f in glob.glob(str(tmp_path / "out" / "part-*")):
        with open(f) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    n_events = load_table(spark, sf_small, "events").count()
    assert len(rows) == n_events
    assert {"event_id", "ts", "user_id", "session_id", "duration"} <= set(rows[0])
    # Every session-opening event has duration 0; ids embed the key.
    by_sess: dict[str, list] = {}
    for r in rows:
        by_sess.setdefault(r["session_id"], []).append(r["duration"])
    for sid, durs in by_sess.items():
        assert min(durs) == 0
        assert sid.startswith(str(sid.split("-")[0]))


def test_stream_static_enrich_matches_batch_join(spark, sf_small, tmp_path):
    """Stream-static broadcast join: stream output ≡ the batch join."""
    dim = (
        load_table(spark, sf_small, "events")
        .select("user_id").distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("string"))
    )
    batch = load_table(spark, sf_small, "events").join(dim, "user_id")
    expected = batch.groupBy("segment").count().orderBy("segment").collect()

    stream = build_events_file_stream(spark, _stage_events_dir(sf_small, tmp_path))
    q = (
        enrich_stream_static(stream, dim, "user_id")
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = (
        spark.sql("select * from enrich_test")
        .groupBy("segment").count().orderBy("segment").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in expected]


def test_windowed_user_counts_update_mode(spark, sf_small, tmp_path):
    """A3 analog: event-time windowed aggregation with watermark in update
    mode matches the batch windowed aggregation on bounded input."""
    stream = build_events_file_stream(spark, _stage_events_dir(sf_small, tmp_path))
    q = (
        windowed_user_counts(stream)
        .writeStream.format("memory")
        .queryName("winagg_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.sql(
        "select user_id, sum(n_events) as n from winagg_test group by user_id"
    )
    batch = load_table(spark, sf_small, "events").groupBy("user_id").count()
    g = {r["user_id"]: r["n"] for r in got.collect()}
    b = {r["user_id"]: r["count"] for r in batch.collect()}
    assert g == b


def test_foreach_batch_dedup_sink(spark, sf_small, tmp_path):
    """foreachBatch idempotent-append sink: batch-level dedup keys hold, and
    replaying duplicated input rows collapses to unique (event_id) rows."""
    src = tmp_path / "dup_src"
    src.mkdir()
    ev = load_table(spark, sf_small, "events").select("event_id", "user_id", "ts")
    ev.unionAll(ev).write.mode("overwrite").parquet(str(src / "events.parquet"))
    stream = build_events_file_stream(spark, str(src / "events.parquet"))
    out = str(tmp_path / "dedup_out")
    q = write_foreach_batch_dedup(
        stream, out, str(tmp_path / "ckpt_dedup"), dedup_keys=["event_id"]
    ).trigger(availableNow=True).start()
    assert q.awaitTermination(120)
    n_unique = ev.count()
    assert spark.read.parquet(out).count() == n_unique


def test_bucketed_stream_sorts_whole_group_across_arrow_chunks(spark, tmp_path):
    """One client's rows written newest-first and split into 2-row Arrow
    chunks (``maxRecordsPerBatch=2``) inside ONE micro-batch: the streaming
    sessionizer must order the whole micro-batch of the group before cutting,
    so its output equals batch ``sessionize`` event for event (two sessions,
    durations 0/50/100 and 0/300/1300)."""
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1, 0, 0, 0)
    offsets = [0, 50, 100, 3000, 3300, 4300]
    rows = [(1, t0 + dt.timedelta(seconds=o), i) for i, o in enumerate(offsets)][::-1]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    src = tmp_path / "newest_first_src"
    ev.coalesce(1).write.parquet(str(src))

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "2")
    try:
        stream = spark.readStream.schema(ev.schema).parquet(str(src))
        q = (
            sessionize_stream_bucketed(stream.withWatermark("ts", "60 seconds"))
            .selectExpr("event_id", "session_id", "duration")
            .writeStream.format("memory")
            .queryName("sess_newest_first_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "availableNow replay must terminate"
        got = _norm(spark.sql("select * from sess_newest_first_test").toPandas())
        expected = _norm(
            sessionize(ev).select("event_id", "session_id", "duration").toPandas()
        )
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert sorted(expected["duration"]) == [0, 0, 50, 100, 300, 1300]
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_late_event_duration_dip_and_max_collapse(spark, tmp_path):
    """The reference's late-data contract (SURVEY §2.4): arrival-order
    processing emits a duration DIP for a late in-session event (monotonic
    lastTimestamp guard, SessionizeGroupMapFunction.scala:72-77), and the
    downstream MAX(duration) collapse equals the batch result."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2020, 1, 1, 12, 0, 0)
    src = tmp_path / "late_src"
    src.mkdir()
    on_time = spark.createDataFrame(
        [(1, t0, 10), (1, t0 + dt.timedelta(seconds=100), 11)],
        "user_id long, ts timestamp, event_id long",
    )
    late = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=50), 12)],
        "user_id long, ts timestamp, event_id long",
    )
    on_time.coalesce(1).write.parquet(str(src / "f0"))
    _time.sleep(1.1)  # distinct mtime → file source replays f0 before f1
    late.coalesce(1).write.parquet(str(src / "f1"))

    schema = spark.read.parquet(str(src / "f0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        sessionize_stream_bucketed(stream.withWatermark("ts", "60 seconds"))
        .selectExpr("event_id", "session_id", "duration")
        .writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = {r["event_id"]: r for r in spark.sql("select * from late_test").collect()}
    assert len(rows) == 3
    # all three share one session (late event's gap measured vs monotonic last)
    assert len({r["session_id"] for r in rows.values()}) == 1
    # per-event: dip on the late event
    assert rows[10]["duration"] == 0
    assert rows[11]["duration"] == 100
    assert rows[12]["duration"] == 50  # < previous emission: the documented dip
    # MAX-collapse equals the batch (sorted) result
    assert max(r["duration"] for r in rows.values()) == 100


def test_checkpoint_kill_and_resume_exactly_once(spark, sf_small, tmp_path):
    """The recovery drill behind the reference's EXACTLY_ONCE claim
    (FlinkConfig.scala:46-59, RealtimeSessionize.scala:170): kill the
    streaming sessionize query mid-stream, crash it again in the
    at-least-once window (sink wrote, commit log entry missing — simulated
    by deleting the newest commit file), restart from checkpointLocation
    both times, and require the final output to equal the batch oracle
    event-for-event with ZERO duplicates.

    Phase 1  stage 2 of 3 ts-ordered input files, run availableNow to
             termination — the query dies with data still upstream and
             open sessions in the state store.
    Phase 2  stage file 3, restart from the same checkpoint → carried
             sessionizer state must seamlessly continue sessions that
             span the kill point.
    Phase 3  delete the newest commits/<N> entry (crash between sink write
             and commit — the at-least-once window), restart → Spark
             replays batch N from the offset log against state version N;
             the per-batch-directory overwrite sink re-lands it
             byte-identical.
    """
    import glob as _glob
    import os
    import time as _time

    from pyspark.sql import Window
    from flink_realtime_sessionize_sample_spark.streaming.pipeline import (
        write_foreach_batch_batchdir_overwrite,
    )

    # 3 ts-ordered chunks with distinct mtimes so the file source replays
    # them in order → arrival order == ts order, making the per-event batch
    # comparison exact. Chunk boundaries cut straight through sessions.
    ev = load_table(spark, sf_small, "events")
    n = ev.count()
    per = (n + 2) // 3
    w = Window.orderBy("ts", "event_id")
    chunked = ev.withColumn("_rn", F.row_number().over(w))

    def stage(i: int, src) -> None:
        (
            chunked.filter(
                (F.col("_rn") > i * per) & (F.col("_rn") <= (i + 1) * per)
            )
            .drop("_rn")
            .coalesce(1)
            .write.parquet(str(src / f"f{i}"))
        )
        _time.sleep(1.1)

    src = tmp_path / "kr_src"
    src.mkdir()
    stage(0, src)
    stage(1, src)

    out_dir, ckpt = str(tmp_path / "kr_out"), str(tmp_path / "kr_ckpt")
    schema = spark.read.parquet(str(src / "f0")).schema

    def run_to_termination():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        sess = sessionize_stream_bucketed(stream.withWatermark("ts", "60 seconds"))
        q = (
            write_foreach_batch_batchdir_overwrite(sess, out_dir, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240), "availableNow run must terminate"
        dl = _time.time() + 60
        while spark.streams.active:  # checkpoint deregistration is async
            assert _time.time() < dl, "query did not deregister"
            _time.sleep(0.3)

    # Phase 1: process files 0-1, terminate with sessions still open.
    run_to_termination()
    n_committed = len(_glob.glob(f"{ckpt}/commits/[0-9]*"))
    assert n_committed >= 2

    # Phase 2: more data arrives after the kill; resume from checkpoint.
    stage(2, src)
    run_to_termination()
    commits = sorted(
        _glob.glob(f"{ckpt}/commits/[0-9]*"), key=lambda p: int(os.path.basename(p))
    )
    assert len(commits) >= 3  # one per staged file

    # Phase 3: crash in the at-least-once window — newest commit vanishes.
    # (Also drop Hadoop ChecksumFileSystem's .crc sibling: a stale checksum
    # makes the replayed commit's atomic rename fail as a bogus
    # "multiple streaming queries" conflict.)
    last_batch = int(os.path.basename(commits[-1]))
    os.remove(commits[-1])
    crc = f"{os.path.dirname(commits[-1])}/.{last_batch}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    replay_dir = f"{out_dir}/batch_id={last_batch}"
    mtime_before = max(
        os.path.getmtime(p) for p in _glob.glob(f"{replay_dir}/*.parquet")
    )
    run_to_termination()
    mtime_after = max(
        os.path.getmtime(p) for p in _glob.glob(f"{replay_dir}/*.parquet")
    )
    assert mtime_after > mtime_before, "batch was not actually replayed"

    # Zero dupes, nothing lost: output ≡ batch sessionize, event for event.
    got = _norm(
        spark.read.parquet(out_dir)
        .select("event_id", "session_id", "duration")
        .toPandas()
    )
    expected = _norm(
        sessionize(ev).select("event_id", "session_id", "duration").toPandas()
    )
    assert len(got) == n == len(expected)
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream inner join with time bounds must produce exactly the
    pairs the equivalent batch join produces on the same bounded input."""
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table
    from flink_realtime_sessionize_sample_spark.streaming.pipeline import (
        join_streams_interval,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    clicks = ev.filter("event_type = 'click'").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    views = ev.filter("event_type = 'view'").select(
        F.col("user_id"), F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    cdir, vdir = str(tmp_path / "clicks"), str(tmp_path / "views")
    clicks.coalesce(1).write.parquet(cdir)
    views.coalesce(1).write.parquet(vdir)

    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    vs = spark.readStream.schema(views.schema).parquet(vdir)
    q = (
        join_streams_interval(cs, vs, on="user_id", left_ts="c_ts", right_ts="v_ts")
        .select("click_id", "view_id")
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = sorted(
        (r["click_id"], r["view_id"])
        for r in spark.sql("select * from ssj_test").collect()
    )
    expected = sorted(
        (r["click_id"], r["view_id"])
        for r in clicks.join(
            views,
            (clicks.user_id == views.user_id)
            & (views.v_ts >= clicks.c_ts - F.expr("INTERVAL 10 MINUTES"))
            & (views.v_ts <= clicks.c_ts),
        ).collect()
    )
    assert got == expected and len(got) > 0


def test_dedup_stream_drops_replayed_batch(spark, sf_small, tmp_path):
    """dropDuplicatesWithinWatermark collapses an at-least-once replay: the
    same events file staged twice yields exactly one row per event_id."""
    d = tmp_path / "dup_src"
    d.mkdir()
    shutil.copy(f"{sf_small}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_small}/events.parquet", d / "b.parquet")

    stream = build_events_file_stream(spark, str(d))
    q = (
        dedup_stream(stream, ["event_id"], "ts")
        .select("event_id")
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "availableNow replay must terminate"

    n_unique = load_table(spark, sf_small, "events").count()
    got = spark.sql("select event_id from dedup_stream_test").toPandas()
    assert len(got) == n_unique
    assert got["event_id"].is_unique


def test_stream_stream_interval_outer_join_equals_batch(spark, tmp_path):
    """Left-outer stream-stream join: matched pairs ≡ the batch join AND
    every unmatched click is emitted null-padded once the watermark closes
    its window (availableNow drains the stream, so all windows close)."""
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table
    from flink_realtime_sessionize_sample_spark.streaming.pipeline import (
        join_streams_interval_outer,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    clicks = ev.filter("event_type = 'click'").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    views = ev.filter("event_type = 'view'").select(
        F.col("user_id"), F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    cdir, vdir = str(tmp_path / "clicks"), str(tmp_path / "views")
    clicks.coalesce(1).write.parquet(cdir)
    views.coalesce(1).write.parquet(vdir)

    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    vs = spark.readStream.schema(views.schema).parquet(vdir)
    q = (
        join_streams_interval_outer(cs, vs, on="user_id", left_ts="c_ts", right_ts="v_ts")
        .select("click_id", "view_id")
        .writeStream.format("memory")
        .queryName("ssj_outer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "availableNow replay must terminate"

    got = sorted(
        (r["click_id"], r["view_id"])
        for r in spark.sql("select * from ssj_outer_test").collect()
    )
    batch_rows = clicks.join(
        views,
        (clicks.user_id == views.user_id)
        & (views.v_ts >= clicks.c_ts - F.expr("INTERVAL 10 MINUTES"))
        & (views.v_ts <= clicks.c_ts),
        "leftOuter",
    ).select("click_id", "view_id", "c_ts").collect()

    # Matched pairs are emitted with inner-join semantics — exact equality.
    got_matched = sorted(p for p in got if p[1] is not None)
    exp_matched = sorted(
        (r["click_id"], r["view_id"]) for r in batch_rows if r["view_id"] is not None
    )
    assert got_matched == exp_matched

    # Null-padded rows only emit once the watermark (max event time − 60 s)
    # passes the row's join window: clicks newer than that are legitimately
    # withheld at end-of-stream. Everything older MUST be emitted.
    max_ts = max(r["c_ts"] for r in batch_rows)
    wm = max_ts - pd.Timedelta(seconds=60)
    exp_null_all = {r["click_id"] for r in batch_rows if r["view_id"] is None}
    exp_null_closed = {
        r["click_id"]
        for r in batch_rows
        if r["view_id"] is None and r["c_ts"] < wm - pd.Timedelta(minutes=10)
    }
    got_null = {c for c, v in got if v is None}
    assert exp_null_closed <= got_null <= exp_null_all
    assert got_null, "outer join must emit null-padded rows"


def test_foreach_batch_partition_overwrite_idempotent(spark, sf_small, tmp_path):
    """Replaying the same input through the dynamic-partition-overwrite sink
    (fresh checkpoint = worst-case full replay) leaves the output identical —
    the write path itself is idempotent, no dedup keys needed."""
    from flink_realtime_sessionize_sample_spark.streaming.pipeline import (
        write_foreach_batch_partition_overwrite,
    )

    src = _stage_events_dir(sf_small, tmp_path)
    out = str(tmp_path / "po_out")

    def run(ckpt):
        stream = build_events_file_stream(spark, src).withColumn(
            "event_date", F.to_date("ts")
        )
        q = write_foreach_batch_partition_overwrite(
            stream, out, str(tmp_path / ckpt), "event_date"
        ).trigger(availableNow=True).start()
        assert q.awaitTermination(120)

    run("ckpt1")
    first = spark.read.parquet(out).count()
    run("ckpt2")  # full replay into the same output
    assert spark.read.parquet(out).count() == first
    n_events = load_table(spark, sf_small, "events").count()
    assert first == n_events


def test_session_window_merges_across_batches(spark, sf_small, tmp_path):
    """Built-in session_window in a STREAM whose micro-batches split sessions
    down the middle: events are range-partitioned by ts into 4 files replayed
    one per trigger, so open sessions must be carried in the state store and
    MERGED with later batches' events; two far-future sentinel files then
    advance the watermark so append mode flushes every real window. Result
    must equal the batch session_window aggregation exactly."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    ev = load_table(spark, sf_small, "events")
    expected = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("start_us"),
            F.unix_micros("session_window.end").alias("end_us"),
            "n_events",
        )
        .toPandas()
        .sort_values(["user_id", "start_us"])
        .reset_index(drop=True)
    )

    src = tmp_path / "swin_merge_src"
    src.mkdir()

    def _write_one(df, name: str, mtime: float) -> None:
        aside = str(tmp_path / f"aside_{name}")
        df.coalesce(1).write.parquet(aside)
        part = _glob.glob(f"{aside}/part-*.parquet")[0]
        dest = str(src / f"{name}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    # Range-split by ts quartile: sessions crossing a quartile boundary span
    # micro-batches. File mtimes force the source's oldest-first ordering.
    qs = [r[0] for r in ev.selectExpr(
        "percentile(unix_micros(ts), array(0.25, 0.5, 0.75)) as q"
    ).collect()][0]
    base = 1_700_000_000
    splits = [
        ev.filter(F.unix_micros("ts") <= qs[0]),
        ev.filter((F.unix_micros("ts") > qs[0]) & (F.unix_micros("ts") <= qs[1])),
        ev.filter((F.unix_micros("ts") > qs[1]) & (F.unix_micros("ts") <= qs[2])),
        ev.filter(F.unix_micros("ts") > qs[2]),
    ]
    for i, part_df in enumerate(splits):
        _write_one(part_df, f"{i}_events", base + i)
    for j, days in ((0, 370), (1, 740)):
        sent = ev.limit(1).select(
            F.lit(10_000_000_000 + j).alias("event_id"),
            (F.lit("2025-01-01").cast("timestamp") + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        _write_one(sent, f"{4 + j}_sentinel", base + 4 + j)

    stream = build_events_file_stream(spark, str(src), max_files_per_trigger=1)
    out = (
        stream.withWatermark("ts", "60 seconds")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("start_us"),
            F.unix_micros("session_window.end").alias("end_us"),
            "n_events",
        )
    )
    q = (
        out.writeStream.format("memory")
        .queryName("swin_merge_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "availableNow replay must terminate"
    got = (
        spark.table("swin_merge_test")
        .filter(F.col("user_id") >= 0)
        .toPandas()
        .sort_values(["user_id", "start_us"])
        .reset_index(drop=True)
    )
    assert len(got) == len(expected), f"{len(got)} != {len(expected)}"
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_streaming_heavy_hitters_invariants(spark, sf_small, tmp_path):
    """Misra-Gries as stateful streaming (per-bucket counters carried across
    micro-batches, update-mode emission): after a 4-batch replay, the final
    per-bucket summary must satisfy the MG invariant against exact counts —
    est <= true, under-count <= the bucket's emitted decrement total, and
    every item with true count above its bucket's bound must have survived."""
    from pyspark.sql import functions as F

    from flink_realtime_sessionize_sample_spark.streaming.sketch_stream import (
        heavy_hitters_stream,
    )

    ev = load_table(spark, sf_small, "events")
    # Hot head (5 event types, ~66 instances each) + singleton tail: both
    # the survivor path and the evict-to-empty path fire in every bucket.
    make_item = F.when(
        F.col("event_id") % 3 == 0, F.concat_ws("|", F.lit("hot"), F.col("event_type"))
    ).otherwise(F.concat_ws("|", F.lit("tail"), F.col("event_id").cast("string")))
    num_buckets = 8

    truth = {
        (r["bucket"], r["item"]): r["cnt"]
        for r in ev.select(make_item.alias("item"))
        .withColumn("bucket", F.pmod(F.xxhash64("item"), F.lit(num_buckets)).cast("long"))
        .groupBy("bucket", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }

    src = tmp_path / "hh_stream_src"
    src.mkdir()
    ev.select(make_item.alias("item")).repartition(4).write.parquet(str(src / "p"))
    files = sorted((src / "p").glob("part-*.parquet"))
    assert len(files) == 4
    stream_dir = tmp_path / "hh_files"
    stream_dir.mkdir()
    for i, f in enumerate(files):
        shutil.copy(f, stream_dir / f"{i}.parquet")

    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    captured: dict[int, pd.DataFrame] = {}

    def sink(batch_df, batch_id):
        pdf = batch_df.toPandas()
        for b in pdf["bucket"].unique():
            captured[int(b)] = pdf[pdf["bucket"] == b].reset_index(drop=True)

    q = (
        heavy_hitters_stream(stream, "item", capacity=16, num_buckets=num_buckets)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "replay must terminate"

    # singleton tail vs 8×16 counters → eviction must fire somewhere.
    assert any((pdf["d_p"] > 0).any() for pdf in captured.values())

    seen_buckets = set()
    for b, pdf in captured.items():
        seen_buckets.add(b)
        d_p = int(pdf["d_p"].max()) if len(pdf) else 0
        survivors = pdf[pdf["item"].notna()]
        ests = dict(zip(survivors["item"], survivors["est"]))
        for item, est in ests.items():
            true = truth[(b, item)]
            assert est <= true, (b, item, est, true)
            assert true - est <= d_p, (b, item, est, true, d_p)
        for (tb, item), cnt in truth.items():
            if tb == b and cnt > d_p:
                assert item in ests, (b, item, cnt, d_p)
    assert seen_buckets == {b for b, _ in truth}


def test_streaming_funnel_matches_batch(spark, sf_small, tmp_path):
    """Real-time funnel state machine across 3 micro-batches ≡ the batch
    funnel: per-user first-view / first-click-after / first-purchase-after
    instants must match the windowed batch formulation exactly, and each
    user emits each stage at most once across the whole replay."""
    import time as _time

    from pyspark.sql import Window, functions as F

    from flink_realtime_sessionize_sample_spark.streaming.sketch_stream import (
        funnel_stream,
    )

    ev = load_table(spark, sf_small, "events")
    w = Window.partitionBy("user_id")
    us = F.unix_micros("ts")
    s1 = ev.withColumn("tv", F.min(F.when(F.col("event_type") == "view", us)).over(w))
    s2 = s1.withColumn(
        "tc", F.min(F.when((F.col("event_type") == "click") & (us > F.col("tv")), us)).over(w)
    )
    s3 = s2.withColumn(
        "tp", F.min(F.when((F.col("event_type") == "purchase") & (us > F.col("tc")), us)).over(w)
    )
    expected = {
        r["user_id"]: (r["tv"], r["tc"], r["tp"])
        for r in s3.groupBy("user_id")
        .agg(F.max("tv").alias("tv"), F.max("tc").alias("tc"), F.max("tp").alias("tp"))
        .collect()
    }

    # 3 ts-ordered chunks, one per trigger (stage advances span batches)
    n = ev.count()
    per = (n + 2) // 3
    wo = Window.orderBy("ts", "event_id")
    chunked = ev.withColumn("_rn", F.row_number().over(wo))
    src = tmp_path / "funnel_src"
    src.mkdir()
    for i in range(3):
        (
            chunked.filter((F.col("_rn") > i * per) & (F.col("_rn") <= (i + 1) * per))
            .drop("_rn")
            .coalesce(1)
            .write.parquet(str(tmp_path / f"fchunk{i}"))
        )
        part = glob.glob(str(tmp_path / f"fchunk{i}" / "part-*.parquet"))[0]
        shutil.move(part, src / f"{i}.parquet")
        _time.sleep(1.1)

    schema = spark.read.parquet(str(src / "0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        funnel_stream(stream)
        .writeStream.format("memory")
        .queryName("funnel_stream_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "funnel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "replay must terminate"
    got = spark.table("funnel_stream_test").toPandas()

    # each (user, stage) emitted at most once across ALL batches
    assert not got.duplicated(["user_id", "stage"]).any()
    got_map: dict[int, dict[str, int]] = {}
    for r in got.itertuples(index=False):
        got_map.setdefault(r.user_id, {})[r.stage] = r.ts_us
    for user, (tv, tc, tp) in expected.items():
        g = got_map.get(user, {})
        assert g.get("view") == tv, (user, "view", g.get("view"), tv)
        assert g.get("click") == tc, (user, "click", g.get("click"), tc)
        assert g.get("purchase") == tp, (user, "purchase", g.get("purchase"), tp)


def test_replay_split_stream_roundtrip(spark):
    """The shared 2-micro-batch replay harness (streaming/replay.py) must
    deliver every odd-id row exactly once through the warehouse table and
    apply the per-batch transform."""
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        replay_split_stream,
    )

    held = spark.range(100).selectExpr("id as doc_id", "id * 2 as v").filter(
        "doc_id % 2 = 1"
    )
    out = replay_split_stream(
        spark,
        held,
        "doc_id long, v long",
        lambda b: b.selectExpr("doc_id", "v + 1 as v1"),
        "replay_test_sink",
    )
    rows = {r["doc_id"]: r["v1"] for r in out.collect()}
    assert len(rows) == 50  # every odd id, exactly once
    assert all(rows[i] == 2 * i + 1 for i in rows)
