"""Structured Streaming surface over the events table.

The reference is pure batch (SURVEY.md §2.9); this module is the
beyond-reference streaming tier: file-source replay -> watermark ->
tumbling-window aggregation / session windows -> sink. The same
transformations run in the batch twins (plans/queries_llm.py
``events_hourly`` / ``sessionize_events``), which is how correctness
is oracle-checked; here they run incrementally with late-data
handling.

Scale notes: a windowed streaming agg keeps state per (window, key);
the watermark bounds that state — without it, state grows forever.
``session_window`` is Spark's native gap-session operator (state
merges adjacent sessions as events arrive).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events parquet as a file-source stream. Schema comes
    from a batch peek (streaming file sources require an explicit
    schema); ``pathGlobFilter`` selects only the events file from the
    shared fixture directory."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql.types import LongType

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    import os

    if os.path.isdir(f"{sf_dir}/events.parquet"):
        # Spark-written layout (e.g. the scale replicas): events.parquet
        # is a directory of part files — stream it directly (the glob
        # filter below matches leaf FILE names, so it would match
        # nothing here)
        stream = spark.readStream.schema(schema).parquet(f"{sf_dir}/events.parquet")
    else:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # ts has shipped as both TIMESTAMP(NANOS) (decoded long under
    # nanosAsLong) and plain micros; normalize either to session-tz ts.
    if isinstance(schema["ts"].dataType, LongType):
        return stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour windows per event_type with late-data tolerance
    = ``watermark``. State per (window, type) is dropped once the
    watermark passes the window end."""
    from ..functions.rounding import round_fixed

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            round_fixed(F.sum("value"), 2).alias("sum_value_r"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value_r",
        )
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native streaming session windows (gap-based), the incremental
    twin of operators/windows.sessionize."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def click_purchase_join_stream(
    events: DataFrame, lookback: str = "1 HOUR", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream self-join: attribute each purchase to the clicks
    of the same user within ``lookback`` before it.

    Both sides carry a watermark and the join condition bounds both
    event times, so Spark can expire join state: a click is held at
    most watermark + lookback before it can never match again. Inner
    joins emit eagerly on match (the watermark only bounds state, not
    emission), so on a finite replay the result equals the batch
    interval self-join — which is the DuckDB oracle.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = F.expr(
        f"c_user = p_user AND click_ts >= purchase_ts - INTERVAL {lookback} "
        "AND click_ts < purchase_ts"
    )
    return clicks.join(purchases, cond, "inner").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once in-flight dedup: ``dropDuplicatesWithinWatermark``
    keyed on event_id. State holds one entry per key only until the
    watermark passes it — the bounded-state form of streaming dedup
    (plain dropDuplicates on a stream retains keys forever).

    The fixture has unique event_ids, so callers union the stream with
    itself to manufacture duplicates; the output then equals the
    original table projection, which is the oracle.
    """
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, on: str = "event_type"
) -> DataFrame:
    """Stream-static broadcast enrichment: each micro-batch of the
    stream hash-joins against a STATIC dimension (no watermark needed —
    static side is bounded and re-broadcast per batch, no join state is
    kept). The standard pattern for attaching slowly-changing
    reference data (category maps, geo tables, model registries) to a
    live stream; inner join semantics on a finite replay equal the
    batch join, which is the oracle."""
    from pyspark.sql.functions import broadcast

    return events.join(broadcast(dim), on, "inner")


def run_to_completion(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drive a streaming DataFrame over its (finite) file source to
    completion via a memory sink and return the materialized result.
    Local smoke-test harness — production sinks are kafka/parquet via
    ``writeStream`` directly."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.table(name)


def run_hourly_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream -> hourly_counts -> memory sink, to completion.
    Append mode emits only watermark-closed windows: the trailing
    window stays in state (correct streaming semantics), so the result
    is a strict prefix of the batch twin."""
    return run_to_completion(hourly_counts(read_events_stream(spark, sf_dir)))


def run_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream -> native ``session_window`` (30 min gap, 1 h
    watermark) -> memory sink, to completion. Append mode emits
    exactly the sessions the FINAL watermark (global max ts - 1 h)
    has closed: ``session_end = last_event + gap <= watermark`` —
    deterministic on a finite replay regardless of micro-batching
    (the emission condition is monotone in the watermark), so the
    batch gaps-and-islands twin restricted by the same predicate is a
    full SQL oracle. Trailing sessions correctly stay in state."""
    return run_to_completion(
        sessionized_stream(read_events_stream(spark, sf_dir))
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, total_value, last_seen) emitted every
    micro-batch — the template for stateful logic the built-in windowed
    aggs can't express (counters, rate limits, CDC-style accumulators).

    State is one narrow tuple per user (two longs + a double), so state
    store size is O(|users|), independent of event volume; the Python
    hop is Arrow-batched per group-batch, not per row. Totals are
    cumulative, so in update mode the latest emission per user is the
    final answer (tests check it against the batch groupBy twin).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
        state.update((n, total, last_us))
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_events": n,
                    "total_value": total,
                    "last_us": last_us,
                }
            ]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double, last_us long",
        stateStructType="n long, total double, last_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_user_totals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream -> stateful_user_totals -> memory sink, to
    completion; reduced to the final (= max-cumulative) emission per
    user. Returns (user_id, n_events, total_value_r, last_ts)."""
    emitted = run_to_completion(
        stateful_user_totals(read_events_stream(spark, sf_dir)), "update"
    )
    final = emitted.groupBy("user_id").agg(
        F.expr("max_by(struct(n_events, total_value, last_us), n_events)").alias("s")
    )
    return final.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.floor(F.col("s.total_value") * 100 + F.lit(0.5)).alias("total_value_x100"),
        F.expr("timestamp_micros(s.last_us)").alias("last_ts"),
    )


def bitmap_daily_distinct_stream(events: DataFrame) -> DataFrame:
    """EXACT distinct users per day over a STREAM — the classic
    hard streaming aggregate made bounded by bitmap state: per
    (1-day event-time window, id-word) the state is one int64 of
    ``bit_or``-ed membership bits (id-space/32 words per day,
    independent of event volume; watermark evicts closed days).
    Update mode re-emits a (window, word) row whenever its bits grow;
    because OR-state is MONOTONE, ``bit_or`` over all emissions of a
    key equals its final state, so the reduced result is exactly the
    batch bitmap — callers finish with bit_count + a per-day sum
    (see ``run_bitmap_distinct_batch``).

    Precondition: non-negative integer user ids — the word index is
    integer ``DIV 32`` (exact at any magnitude; see
    ``operators.aggregates.bitmap_rolling_distinct``)."""
    return (
        events.withWatermark("ts", "1 hour")
        .select(
            "ts",
            F.expr("user_id DIV 32").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
            ).alias("mask"),
        )
        .groupBy(F.window("ts", "1 day").alias("w"), "word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .select(F.col("w.start").cast("date").alias("day"), "word", "bits")
    )


def run_bitmap_distinct_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream -> bitmap_daily_distinct_stream (update mode) ->
    memory sink, to completion; emissions reduced by the monotone
    ``bit_or`` per (day, word), then popcount-summed per day. Equals
    the batch ``count(distinct user_id)`` per day — the full SQL
    oracle."""
    emitted = run_to_completion(
        bitmap_daily_distinct_stream(read_events_stream(spark, sf_dir)),
        "update",
    )
    final = emitted.groupBy("day", "word").agg(
        F.expr("bit_or(bits)").alias("bits")
    )
    return (
        final.groupBy("day")
        .agg(F.sum(F.bit_count("bits")).alias("distinct_users"))
        .select(F.col("day").cast("string").alias("day"), "distinct_users")
    )


