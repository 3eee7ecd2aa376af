"""Sink operators (SURVEY.md §2.1 S6-S8): partitioned parquet writes.

The reference partitions some outputs by near-unique keys (``sasdate``
-> 187 dirs is fine; ``ident`` -> 55,075 dirs is a small-files
explosion, SURVEY.md §4.3). We keep the idea — write-side partitioning
for read-time pruning — and leave the choice of a bounded key to the
caller (``plans/pipeline.py`` says which keys it uses and why).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """S6-S8: parquet sink (overwrite), optionally hash-partitioned by
    column(s)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 8,
    sort_by: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed parquet table (saveAsTable — bucketing metadata lives
    in the catalog): pre-shuffles the data into ``n_buckets`` files by
    ``hash(bucket_by)``, optionally sorted within buckets.

    The 100 TB payoff: two tables bucketed by the same key and count
    join WITHOUT a shuffle (and with ``sort_by``, without a sort) —
    the shuffle is paid once at write time instead of on every join.
    The co-location test asserts the joined plan contains zero
    Exchange operators.

    ``path`` makes it an EXTERNAL table at that location. Use a fresh
    per-process path for scratch tables: a managed table's warehouse
    directory outlives the in-memory catalog, so a NEW process hits
    LOCATION_ALREADY_EXISTS on the leftover dir (overwrite can't help
    — the fresh catalog has no table to overwrite).

    The keyed ``repartition`` before the write guarantees ONE file per
    bucket (repartition's HashPartitioning and the bucket id share the
    same murmur3-mod expression, so each task holds exactly one
    bucket's rows): without it every write task emits a file into
    every bucket it touches — tasks x buckets files — and, decisively,
    Spark only trusts a bucketed scan's ``sortBy`` order when each
    bucket is a single file (SPARK-28595 +
    ``spark.sql.legacy.bucketedTableScan.outputOrdering``, set in
    session.py). Multi-file buckets re-SORT both sides inside every
    downstream SMJ — the r10 1000x run measured the bucketed star
    join 1.8x SLOWER than the plain plan before this (120 s vs 66 s):
    exchange-free is not sort-free.
    """
    from pyspark.sql import functions as F

    writer = (
        df.repartition(n_buckets, F.col(bucket_by))
        .write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def zorder_value(c1, c2, bits: int = 16):
    """Morton (Z-order) value of two non-negative int columns: their
    low ``bits`` bits interleaved into one long. Rows close in Z-value
    are close in BOTH dimensions, so range-splitting on it gives files
    whose parquet min/max stats are narrow on both columns at once —
    multi-dimensional data skipping where a single-column sort can
    only serve one predicate. Pure JVM bit arithmetic (shift/and/or),
    whole-stage codegen friendly. Callers normalize values into
    [0, 2^bits) first (rank or min/max scale)."""
    from pyspark.sql import functions as F

    a = c1.cast("long")
    b = c2.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: range-split + sort on the Morton
    value of (col1, col2), so point/range filters on EITHER column
    skip most files via footer min/max — a range-sorted layout
    generalized to two dimensions. One extra range shuffle at write
    time buys every later scan its skipping."""
    z = zorder_value(df[col1], df[col2], bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
