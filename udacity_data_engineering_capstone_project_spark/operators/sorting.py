"""Sort / limit operators (SURVEY.md §2.6 O1-O3).

A global sort is a range-partitioned shuffle (sampled boundaries +
per-partition sort). ``top_k`` fuses orderBy+limit, which Spark plans
as ``TakeOrderedAndProject`` — each partition keeps only k rows, then
the driver merges; no full sort at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def top_k(df: DataFrame, k: int, *order_cols) -> DataFrame:
    """Top-k: orderBy + limit. ``order_cols`` carry their own
    direction (``col.desc()`` / ``col.asc()``); pass a unique
    tie-break column last for deterministic results."""
    return df.orderBy(*order_cols).limit(k)
