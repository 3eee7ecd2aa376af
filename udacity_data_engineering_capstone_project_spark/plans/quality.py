"""Data-quality check operators (SURVEY.md §5).

The reference embeds three procedural check loops that print verdicts
(etl.py:456-558): non-empty tables, unique keys, and
cleansing-persisted (predicate absence). Here each check is a LAZY
one-row DataFrame ``(check_name, metric, passed)`` — checks compose
into a suite with ``unionByName``, and the suite itself is a queryable
table (no print-scraping). A suite of per-DataFrame checks still runs
each check's own lineage and shuffle when collected: one or more jobs
per check. ``unique_keys_check`` runs many key checks over one shuffle.

``metric`` is the violation count (0 = healthy) except for
``nonempty`` where it is the row count. ``passed`` is 0/1 int for
engine-portable hashing.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.readers import from_records


#: The report's schema, for check rows computed outside Spark (e.g. from
#: metrics observed on a write).
REPORT_SCHEMA = "check_name string, metric long, passed int"


def _result(name: str, metric: Column, passed: Column) -> list[Column]:
    return [
        F.lit(name).alias("check_name"),
        metric.cast("long").alias("metric"),
        passed.cast("int").alias("passed"),
    ]


def nonempty_check(df: DataFrame, name: str) -> DataFrame:
    """Check 1 (etl.py:456-470): table has rows. metric = row count."""
    n = F.count("*")
    return df.agg(*_result(name, n, n > 0))


def unique_key_check(df: DataFrame, key_cols: list[str], name: str) -> DataFrame:
    """Check 2 (etl.py:504-541): key uniqueness, incl. composite keys.
    metric = duplicate-row count: sum over key groups of (rows - 1).

    Counted via groupBy(keys) rather than count(*) - countDistinct:
    countDistinct skips rows with any null key column, which would
    inflate the metric for null-keyed rows even when keys are unique.
    Here null keys form their own group (SQL GROUP BY semantics), so a
    single null-keyed row is NOT a violation but two identical ones
    are."""
    dups = F.coalesce(F.sum(F.col("__n") - 1), F.lit(0))
    grouped = df.groupBy(*key_cols).agg(F.count("*").alias("__n"))
    return grouped.agg(*_result(name, dups, dups == 0))


def unique_keys_check(tables: list[tuple[DataFrame, list[str], str]]) -> DataFrame:
    """Check 2 over many ``(df, key_cols, name)`` tables, with the keys
    shuffled once: one row per check, with ``unique_key_check``'s metric
    and null semantics. Every table's key becomes one JSON string and
    the union is grouped by ``(check_name, key)``; ``to_json`` omits
    null fields, so keys equal up to their nulls group together, as
    GROUP BY groups nulls. A zero-duplicate row per name keeps checks
    over empty tables in the report."""
    keyed = reduce(
        DataFrame.unionByName,
        [
            df.select(
                F.lit(name).alias("check_name"),
                F.to_json(F.struct(*keys)).alias("key"),
            )
            for df, keys, name in tables
        ],
    )
    zeros = from_records(
        tables[0][0].sparkSession,
        [(name, 0) for _, _, name in tables],
        "check_name string, dups long",
    )
    dups = F.col("dups")
    return (
        keyed.groupBy("check_name", "key")
        .agg((F.count("*") - 1).alias("dups"))
        .drop("key")
        .unionByName(zeros)
        .groupBy("check_name")
        .agg(F.sum("dups").alias("dups"))
        .select(
            "check_name",
            dups.cast("long").alias("metric"),
            (dups == 0).cast("int").alias("passed"),
        )
    )


def predicate_absent_check(df: DataFrame, bad: Column, name: str) -> DataFrame:
    """Check 3 (etl.py:544-558): no row matches the given bad-row
    predicate (e.g. garbage labels that cleansing should have removed).
    metric = surviving bad rows."""
    n_bad = F.count(F.when(bad, 1))
    return df.agg(*_result(name, n_bad, n_bad == 0))


def orphan_fk_check(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, name: str
) -> DataFrame:
    """Referential integrity (beyond the reference's checks, which only
    spot-checked one key by hand — ipynb cells 85-88): count fact rows
    whose FK has no dim match, via a left-anti join (no row payload
    crosses the shuffle — just the key)."""
    orphans = (
        fact.select(F.col(fact_key).alias("k"))
        .join(dim.select(F.col(dim_key).alias("k")), "k", "left_anti")
    )
    n = F.count("*")
    return orphans.agg(*_result(name, n, n == 0))


def quality_suite(checks: list[DataFrame]) -> DataFrame:
    """Union check rows into one lazily-evaluated report table."""
    return reduce(lambda a, b: a.unionByName(b), checks)
