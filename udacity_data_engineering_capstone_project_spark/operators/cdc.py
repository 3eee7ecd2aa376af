"""Change-data-capture style batch operators.

Vanilla parquet lacks MERGE INTO (Delta/Iceberg territory), but the
relational core of an upsert — new rows win over old rows on a key,
latest-wins within the new batch — is a pure DataFrame expression:
tag-union + one ranked window per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """MERGE-style upsert: every key in ``updates`` replaces its row in
    ``target``; keys only in ``target`` survive unchanged; duplicate
    keys within ``updates`` resolve latest-wins by ``order_cols``
    (descending, must make the ordering total for determinism).

    One shuffle on the key columns. At scale this is the standard
    CDC-compaction shape: the window per key holds O(versions-per-key)
    rows, and partial aggregation does not apply — if updates dwarf the
    target, pre-compact updates alone first (same function, empty
    target).
    """
    tagged = target.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("__src").desc(), *[F.col(c).desc() for c in order_cols]
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__src", "__rn")
    )


def merge_partial_aggs(
    agg_old: DataFrame,
    agg_delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental aggregate maintenance: combine two partial
    aggregate tables (same schema: keys + decomposable measures that
    merge by SUM — counts, sums, min/max need their own combinator)
    into the aggregate of the union of their inputs.

    This is the materialized-view refresh shape: keep yesterday's agg,
    aggregate only today's delta, merge — O(|delta| + |groups|)
    instead of re-scanning the full history. Physical: union + one
    hash aggregate on the keys; both inputs are already one row per
    key, so the shuffle carries group rows, not raw events.
    """
    merged = agg_old.unionByName(agg_delta)
    return merged.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 build from an event stream:
    collapse each key's history into validity intervals, one row per
    RUN of consecutive equal attribute values (gaps-and-islands).

    Output: (key, version, attr, valid_from, valid_to, n_events) where
    ``version`` numbers the runs per key from 1, ``valid_from`` is the
    run's first event time, ``valid_to`` the next run's start (NULL for
    the current run) — the standard SCD2 shape warehouses serve
    point-in-time joins from.

    Scale: every window and the aggregate share one partitioning on
    ``key_col`` — a single shuffle for the whole build; run detection
    is lag + running sum (no self-join)."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    changed = (
        F.lag(attr_col).over(w).isNull()
        | (F.col(attr_col) != F.lag(attr_col).over(w))
    ).cast("int")
    runs = df.withColumn(
        "version",
        F.sum(changed).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    agg = runs.groupBy(key_col, "version").agg(
        F.first(attr_col).alias("attr"),
        F.min(ts_col).alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    wv = Window.partitionBy(key_col).orderBy("version")
    return agg.withColumn("valid_to", F.lead("valid_from").over(wv)).select(
        key_col, "version", "attr", "valid_from", "valid_to", "n_events"
    )
