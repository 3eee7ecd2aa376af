"""Data-quality check operators (SURVEY.md §5).

The reference embeds three procedural check loops that print verdicts
(etl.py:456-558): non-empty tables, unique keys, and
cleansing-persisted (predicate absence). Here each check is a LAZY
one-row DataFrame ``(check_name, metric, passed)`` — checks compose
into a suite with ``unionByName``, and the suite itself is a queryable
table (no print-scraping). A suite of per-DataFrame checks still runs
each check's own lineage and shuffle when collected: one or more jobs
per check. ``tables_check`` runs all three kinds over many tables in
one shuffle, reading each table once.

``metric`` is the violation count (0 = healthy) except for
``nonempty`` where it is the row count. ``passed`` is 0/1 int for
engine-portable hashing.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.readers import from_records


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


class Checked(NamedTuple):
    """One table of :func:`tables_check` and the names of its checks."""

    df: DataFrame
    keys: list[str]
    unique: str  # check 2's name
    nonempty: str | None = None  # check 1's name, if it runs
    bad: tuple[Column, str] | None = None  # check 3's predicate and name


def tables_check(tables: list[Checked]) -> DataFrame:
    """Checks 1-3 over many tables with the keys shuffled once: one row
    per named check, with the metric and pass rule of
    ``nonempty_check``, ``unique_key_check`` and
    ``predicate_absent_check``. Every table's key becomes one JSON
    string, and the union is grouped by ``(table, key)`` into each
    key's row count ``n`` and its bad rows; ``to_json`` omits null
    fields, so keys equal up to their nulls group together, as GROUP BY
    groups nulls. Grouping by table then sums ``n - 1`` (duplicates),
    ``n`` (rows) and the bad rows. A zero row per table keeps checks
    over empty tables in the report. The check names are mapped in the
    last projection: a joined name lookup would add a broadcast job."""
    keyed = reduce(
        DataFrame.unionByName,
        [
            t.df.select(
                F.lit(i).alias("t"),
                F.to_json(F.struct(*t.keys)).alias("key"),
                (F.when(t.bad[0], 1) if t.bad else F.lit(None)).cast("int").alias("bad"),
            )
            for i, t in enumerate(tables)
        ],
    )
    n = F.count("*")
    zeros = from_records(
        tables[0].df.sparkSession,
        [(i, 0, 0, 0) for i in range(len(tables))],
        "t int, dups long, rows long, bad long",
    )
    totals = (
        keyed.groupBy("t", "key")
        .agg((n - 1).alias("dups"), n.alias("rows"), F.count("bad").alias("bad"))
        .drop("key")
        .unionByName(zeros)
        .groupBy("t")
        .agg(*(F.sum(c).alias(c) for c in ("dups", "rows", "bad")))
    )
    dups, rows, bad = F.col("dups"), F.col("rows"), F.col("bad")

    def checks(t: Checked) -> Column:
        named = [(t.unique, dups, dups == 0)]
        if t.nonempty:
            named.append((t.nonempty, rows, rows > 0))
        if t.bad:
            named.append((t.bad[1], bad, bad == 0))
        return F.array(*(F.struct(*_result(*c)) for c in named))

    by_table = F.create_map(
        *(x for i, t in enumerate(tables) for x in (F.lit(i), checks(t)))
    )
    return totals.select(F.inline(F.element_at(by_table, F.col("t"))))


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
