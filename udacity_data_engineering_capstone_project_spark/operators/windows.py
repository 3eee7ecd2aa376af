"""Window-function operators (SURVEY.md §2.5).

The reference imports ``Window``/``row_number`` but never uses them
(its surrogate key falls back to ``monotonically_increasing_id``) —
the survey asks our engine to expose ranking windows anyway. Also
hosts gap-based sessionization (the batch twin of streaming
``session_window``), built as lag + conditional cumsum: one shuffle on
the session key, sort within partitions, no self-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rank_in_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    out_col: str = "rn",
    method: str = "row_number",
) -> DataFrame:
    """row_number/rank/dense_rank within a partition. Include a unique
    tie-break in ``order_by`` for deterministic row_number."""
    fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[method]
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(out_col, fn().over(w))


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_seconds: int,
    tie_break: str | None = None,
) -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when
    the time since the previous event exceeds ``gap_seconds``.

    Timestamps are compared at microsecond precision (``unix_micros``)
    so sub-second gaps are not truncated away. Adds ``session_id``
    (1-based per key, ordered by time).
    """
    order = [F.col(ts_col)] + ([F.col(tie_break)] if tie_break else [])
    w = Window.partitionBy(key).orderBy(*order)
    us = F.unix_micros(F.col(ts_col))
    gap_us = gap_seconds * 1_000_000
    new_session = (
        (us - F.lag(us).over(w) > F.lit(gap_us)) | F.lag(us).over(w).isNull()
    ).cast("int")
    return df.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def ewma(
    df,
    part_col: str,
    order_cols: list[str],
    value_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
    depth: int = 16,
):
    """Truncated exponentially-weighted moving average per partition:
    the classic smoothing recurrence ``y = (1-a)*y + a*x`` folded over
    the trailing ``depth`` rows (exact truncation instead of an
    unbounded recurrence keeps the value a pure function of a bounded
    frame — deterministic, backfillable, and cross-engine oracle-able;
    with a=1/4 and depth 16 the dropped tail weighs (3/4)^16 < 1%).

    One window (single shuffle on the partition key) + a JVM fold over
    the frame array. ``alpha_num/alpha_den`` must divide to an exact
    binary double (1/4 default) so both engines fold identical IEEE
    values; output is x1e6 fixed-point.

    NULL contract (round-2 advice): ``value_col`` must be non-null and
    this is ENFORCED — Spark's ``collect_list`` silently drops NULLs
    (shrinking the frame and shifting every weight) while DuckDB's
    ``list()`` keeps them and would propagate NULL through the fold,
    so a nullable value column would make the engines diverge
    silently. Instead a null raises immediately on both sides of the
    oracle (the check is a plain JVM-side conditional, stays in
    codegen).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    a = alpha_num / alpha_den
    w = (
        Window.partitionBy(part_col)
        .orderBy(*order_cols)
        .rowsBetween(-(depth - 1), Window.currentRow)
    )
    checked = F.when(
        F.col(value_col).isNull(),
        F.raise_error(
            F.lit(f"ewma: NULL in value column {value_col!r} — the frame "
                  "fold requires non-null values (see docstring)")
        ).cast("double"),
    ).otherwise(F.col(value_col).cast("double"))
    vals = F.collect_list(checked).over(w)
    folded = F.aggregate(
        vals,
        F.lit(0.0).cast("double"),
        lambda acc, x: acc * F.lit(1.0 - a) + F.lit(a) * x,
    )
    return df.withColumn(
        "ewma_x1e6", F.floor(folded * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    )
