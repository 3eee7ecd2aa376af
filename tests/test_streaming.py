"""Structured Streaming surface: the stream result must be a prefix of
its batch twin (append mode withholds watermark-open windows)."""

from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.sources.readers import read_table
from udacity_data_engineering_capstone_project_spark.plans.queries_llm import (
    events_hourly,
)
from udacity_data_engineering_capstone_project_spark.streaming.events import (
    read_events_stream,
    run_to_completion,
    sessionized_stream,
    hourly_counts,
)


def test_stream_hourly_is_prefix_of_batch(spark, sf_dir):
    batch = {
        (r.hour_start, r.event_type): (r.n_events, r.sum_value_r)
        for r in events_hourly(spark, sf_dir).collect()
    }
    stream = run_to_completion(hourly_counts(read_events_stream(spark, sf_dir)))
    srows = stream.collect()
    assert 0 < len(srows) <= len(batch)
    for r in srows:
        assert batch[(r.hour_start, r.event_type)] == (r.n_events, r.sum_value_r)


def test_stream_session_windows(spark, sf_dir):
    out = run_to_completion(
        sessionized_stream(read_events_stream(spark, sf_dir))
    ).collect()
    assert len(out) > 0
    for r in out[:50]:
        assert r.session_end > r.session_start
        assert r.n_events >= 1


def test_stream_sessionize_equals_watermark_closed_batch_sessions(spark, sf_dir):
    """Append-mode session_window emission == batch gaps-and-islands
    sessions whose end (last event + gap) the final watermark
    (max ts - 1 h) has passed — the exact contract the full SQL
    oracle of ``stream_sessionize`` encodes."""
    from udacity_data_engineering_capstone_project_spark.operators.windows import sessionize

    out = run_to_completion(
        sessionized_stream(read_events_stream(spark, sf_dir))
    )
    emitted = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in out.collect()
    }
    ev = read_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = (
        sessionize(ev, "user_id", "ts", gap_seconds=1800, tie_break="event_id")
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .filter(
            F.col("session_end")
            <= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR")
        )
    )
    closed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch.collect()
    }
    assert emitted == closed and len(emitted) > 0


def test_stateful_user_totals_matches_batch(spark, sf_dir):
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        run_user_totals_batch,
    )

    got = {
        r.user_id: (r.n_events, r.total_value_x100, r.last_ts)
        for r in run_user_totals_batch(spark, sf_dir).collect()
    }
    events = read_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, r.tot, r.last)
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.floor(F.sum("value") * 100 + F.lit(0.5)).alias("tot"),
            F.max("ts").alias("last"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for uid, (n, tot, last) in want.items():
        gn, gtot, glast = got[uid]
        assert gn == n and glast == last
        assert abs(gtot - tot) <= 1  # incremental vs batch float sum order


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill a running query mid-stream, restart from the checkpoint,
    and assert exactly-once sink output: the checkpointed source offset
    log + the file sink's _spark_metadata commit log together guarantee
    no row is lost or duplicated across the crash/restart boundary."""
    import time

    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")

    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j,) for j in range(10)], "id long"
        ).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # 3 files -> 3 micro-batches
        .parquet(src)
    )

    def sink(s):
        return (
            s.writeStream.format("parquet")
            .option("path", dest)
            .option("checkpointLocation", ckpt)
        )

    q = sink(stream).start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not any(
            p["numInputRows"] > 0 for p in q.recentProgress
        ):
            time.sleep(0.2)
        assert any(p["numInputRows"] > 0 for p in q.recentProgress)
    finally:
        q.stop()  # killed with batches still pending (mid-stream)

    # restart from the SAME checkpoint; drain whatever was unprocessed
    q2 = sink(stream).trigger(availableNow=True).start()
    q2.awaitTermination()

    got = sorted(r.id for r in spark.read.parquet(dest).collect())
    assert got == list(range(30))  # every row exactly once


def test_stateful_recovery_resumes_counts(spark, tmp_path):
    """Aggregation STATE survives a restart: per-key running counts
    accumulated before the stop must continue (not reset) when the
    query restarts from its checkpoint on new data. If state were
    lost, the post-restart emission would be 5 per key, not 10."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")

    def write_file(tag):
        spark.createDataFrame(
            [(k, tag) for k in ("a", "b") for _ in range(5)], "k string, tag string"
        ).coalesce(1).write.mode("append").parquet(src)

    write_file("first")
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    counts = stream.groupBy("k").count()

    def sink_batch(df, _bid):
        df.write.mode("append").parquet(log)

    def start(trigger_once=False):
        w = (
            counts.writeStream.outputMode("update")
            .foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
        )
        if trigger_once:
            w = w.trigger(availableNow=True)
        return w.start()

    q = start(trigger_once=True)
    q.awaitTermination()  # batch 1 committed: counts = 5 per key
    write_file("second")  # lands while the query is DOWN
    q2 = start(trigger_once=True)  # restart from checkpoint
    q2.awaitTermination()

    final = {
        r.k: r.n
        for r in spark.read.parquet(log)
        .groupBy("k")
        .agg(F.max("count").alias("n"))
        .collect()
    }
    assert final == {"a": 10, "b": 10}  # resumed, not reset


def test_watermark_closure_oracles_have_no_boundary_sessions(spark, sf_dir):
    """Fixture-regen guard for the two watermark-closure full oracles
    (stream_sessionize / stream_hourly_counts): Spark derives the
    watermark from MILLISECOND-truncated event-time stats, so the
    engine's effective watermark is ``floor_ms(max_ts) - 1h`` while
    the microsecond-precision oracles use ``max_ts - 1h``. Any batch
    session end or window end inside the half-open truncation band
    ``(floor_ms(max_ts) - 1h, max_ts - 1h]`` would be emitted by the
    oracle but withheld by Spark (ADVICE r3 — checking only exact
    equality at the upper bound missed the sub-millisecond residue
    case). A failure here means regenerate or re-derive the oracle
    boundary, not a code bug."""
    from datetime import timedelta

    from udacity_data_engineering_capstone_project_spark.operators.windows import sessionize

    ev = read_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm_hi = max_ts - timedelta(hours=1)  # oracle watermark (inclusive)
    wm_lo = max_ts.replace(
        microsecond=(max_ts.microsecond // 1000) * 1000
    ) - timedelta(hours=1)  # Spark's ms-truncated watermark (exclusive)
    in_band = lambda c: (c > F.lit(wm_lo)) & (c <= F.lit(wm_hi))  # noqa: E731
    boundary_sessions = (
        sessionize(ev, "user_id", "ts", gap_seconds=1800, tie_break="event_id")
        .groupBy("user_id", "session_id")
        .agg((F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"))
        .filter(in_band(F.col("session_end")))
        .count()
    )
    assert boundary_sessions == 0
    boundary_windows = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
        .filter(in_band(F.col("w.end")))
        .count()
    )
    assert boundary_windows == 0


def test_stream_bitmap_distinct_equals_batch_count_distinct(spark, sf_dir):
    """Monotone bit_or state: the reduced update-mode emissions equal
    batch count(distinct user_id) per day exactly."""
    from udacity_data_engineering_capstone_project_spark.streaming.events import (
        run_bitmap_distinct_batch,
    )

    got = {
        r["day"]: r["distinct_users"]
        for r in run_bitmap_distinct_batch(spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events")
    want = {
        str(r["day"]): r["n"]
        for r in ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0
