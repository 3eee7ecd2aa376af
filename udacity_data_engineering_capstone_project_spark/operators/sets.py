"""Set operators (SURVEY.md §2.7 U1)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """U1: positional UNION DISTINCT — the reference's date-domain
    builder unions arrdate/depdate *by position* (etl.py:417-419), so
    this deliberately uses ``union`` not ``unionByName`` (SURVEY.md
    §7.4). Physical: UnionExec (no shuffle) + hash aggregate for the
    distinct."""
    return a.union(b).distinct()


def intersect_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT (distinct): positional, null-safe equality. Physical:
    Catalyst rewrites to a left-semi join over distinct rows — one
    hash exchange per side on all columns; with AQE the smaller
    distinct side broadcasts."""
    return a.intersect(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT (distinct): rows of ``a`` not in ``b``. Physical: a
    left-anti join over distinct rows, same exchange shape as
    :func:`intersect_distinct`."""
    return a.subtract(b)
