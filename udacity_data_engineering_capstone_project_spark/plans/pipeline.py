"""The full star-schema ETL, end to end — the reference's ``main()``
(etl.py:561-591) as a library function.

Given the four reference inputs (I94 parquet, SAS labels text,
demographics CSV, temperatures CSV) it builds all model tables, writes
them as partitioned parquet, and returns the data-quality report as a
DataFrame (structured, not printed).

Every check runs on what was written, never on a recomputed lineage:
each write reads its table back with the known schema, and the twelve
checks (four ``nonempty``, seven key checks and the country cleansing)
are one lazy aggregation over those tables (``quality.tables_check``).
Collecting the report runs that aggregation's shuffle and result
stages only: 3 jobs on 100k generated I94 rows at ``local[4]``, where
per-table checks over the recomputed lineages ran 27. The report waits
on no listener event, so an empty table (e.g. an empty fact) reports
its zero counts like any other.

Differences from the reference, all deliberate (SURVEY.md §4.3):
- the inputs are read with explicit schemas (``model.I94_SCHEMA`` and
  the two CSV schemas), so no read runs a plan-time inference job;
- the fact lineage runs once, in its write: the date dim reads its two
  columns back from the written fact instead of a cached copy (the
  reference recomputed the whole fact lineage for every count());
- partition keys are bounded: the date dim is partitioned by ``year``
  (a handful of dirs), not by ``sasdate`` (187 dirs), and the port dim
  by ``state_code``; nothing partitions by a near-unique key;
- one task writes each dim (``coalesce(1)``, no extra job; one file per
  directory), as every dim is small at any scale; nothing is sorted
  before a write, and the demographics dim is not joined to the state
  lookup (``model`` says why);
- the writes run concurrently, one thread per independent chain, where
  the reference ran them one after another (SURVEY.md I5). Only the
  date dim waits for another write: it reads the written fact. While
  one write is analysed, planned and code-generated on the driver,
  another's jobs use the task slots. Every write's jobs keep the
  caller's job group, and anything a write holds lands in the caller's
  ``resource_scope``.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextvars import copy_context

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import read_csv
from ..sources.writers import write_parquet
from . import model
from .quality import Checked, tables_check


def _bad_country() -> Column:
    """Labels the country cleansing must have removed (etl.py:544-558)."""
    lc = F.lower(F.col("country"))
    return lc.contains("invalid") | lc.contains("country") | lc.contains("not show")


def run_pipeline(
    spark: SparkSession,
    i94_path: str,
    labels_text: str,
    demographics_csv: str,
    temperatures_csv: str,
    output_dir: str,
    airports_csv: str | None = None,
) -> DataFrame:
    """Build + persist the whole model; returns the quality report."""
    i94 = spark.read.schema(model.I94_SCHEMA).parquet(i94_path)
    demos = read_csv(
        spark, demographics_csv, schema=model.DEMOGRAPHICS_CSV_SCHEMA, sep=";"
    )
    temps = read_csv(spark, temperatures_csv, schema=model.TEMPERATURES_CSV_SCHEMA)

    def write(df: DataFrame, table: str, partition_by=None) -> DataFrame:
        """Write ``df`` and return the written table, read back with
        ``df``'s schema."""
        path = f"{output_dir}/{table}.parquet"
        write_parquet(df, path, partition_by=partition_by)
        return spark.read.schema(df.schema).parquet(path)

    # one chain per independent write; the date dim reads the written fact.
    # Each dim is a KB label file, a few thousand cities or a date
    # domain: one task writes each (coalesce(1))
    def fact_then_date():
        fact_w = write(model.build_fact(i94), "fact_i94")
        date_dim = model.build_date_dim(fact_w).withColumn("part_year", F.col("year"))
        return fact_w, write(date_dim.coalesce(1), "dim_date", partition_by=["part_year"])

    def country():
        codes = model.build_country_codes(spark, labels_text)
        return write(model.build_country_dim(codes, temps).coalesce(1), "dim_country")

    chains = [
        fact_then_date,
        lambda: write(model.build_visa_dim(spark).coalesce(1), "dim_i94visa", ["id"]),
        lambda: write(
            model.build_mode_dim(spark, labels_text).coalesce(1), "dim_i94mode", ["id"]
        ),
        lambda: write(
            model.build_port_dim(spark, labels_text).coalesce(1),
            "dim_i94port", ["state_code"],
        ),
        country,
        lambda: write(
            model.build_demographics_dim(demos).coalesce(1),
            "dim_demographics", ["state_code"],
        ),
    ]
    if airports_csv is not None:
        # partitioned by airport type (a handful of values), NOT by the
        # near-unique ident the reference used (55k dirs, ipynb cell 77)
        chains.append(lambda: write_parquet(
            model.build_airport_dim(read_csv(spark, airports_csv)),
            f"{output_dir}/dim_airport.parquet", partition_by=["type"],
        ))
    # each chain runs with the caller's job group (local properties) and
    # resource scope (context); results are read in a fixed order, so a
    # failed write raises its own error once every write has finished
    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        futures = [
            pool.submit(copy_context().run, inheritable_thread_target(spark)(chain))
            for chain in chains
        ]
        results = [f.result() for f in futures]
    (fact_w, date_w), visa_w, mode_w, port_w, country_w, demographics_w = results[:6]

    return tables_check(
        [
            Checked(fact_w, ["cicid"], "fact_pk_unique", "fact_nonempty"),
            Checked(date_w, ["sasdate"], "date_pk_unique", "date_nonempty"),
            Checked(
                country_w, ["code"], "country_pk_unique", "country_nonempty",
                (_bad_country(), "country_cleansing_persisted"),
            ),
            Checked(port_w, ["code"], "port_pk_unique"),
            Checked(mode_w, ["id"], "mode_pk_unique"),
            Checked(visa_w, ["id"], "visa_pk_unique"),
            Checked(
                demographics_w, ["state", "city"], "demographics_composite_unique",
                "demographics_nonempty",
            ),
        ]
    )
