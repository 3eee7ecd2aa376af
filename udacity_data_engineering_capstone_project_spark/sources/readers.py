"""Source operators (SURVEY.md §2.1 S1-S5).

S1  parquet scan                -> read_table / spark.read.parquet
S2  CSV scan (header)           -> read_csv (explicit schema preferred)
S3  CSV scan (custom delimiter) -> read_csv(sep=';')
S4  in-memory source            -> from_records (explicit schema, no
                                   ``_1``/``_2`` rename dance; reference
                                   etl.py:234,261,288,318,339). The one
                                   entry point for driver-built rows: it
                                   returns a local relation, so no
                                   Python worker runs and a broadcast
                                   of it runs no job
S5  SAS label-file parser       -> parse_sas_labels (driver-side parse of a
                                   KB-sized text file; reference
                                   etl.py:42-60 ``code_mapper``)

All readers return lazy DataFrames; Catalyst pushes projections and
predicates into the parquet scan (check ``.explain``: ``PushedFilters``
/ ``ReadSchema``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: columnar parquet scan, schema from footer metadata.

    The synthetic ``events`` table has shipped ``ts`` as both
    TIMESTAMP(NANOS) (which Spark's parquet reader rejects — read via
    ``nanosAsLong`` and truncated with ``ts div 1000``) and plain
    TIMESTAMP_NTZ micros, so the reader branches on the decoded type
    and normalizes both to session-tz (UTC) microsecond timestamps.
    The DuckDB oracles truncate identically via
    ``make_timestamp(epoch_ns(ts) // 1000)`` (a no-op for micros).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """S2/S3: CSV scan. Pass an explicit ``schema`` in production —
    without one, reading the header alone runs a Spark job when the
    DataFrame is built (``inferSchema`` would add a full extra pass),
    and strings-everywhere (the reference's approach, etl.py:145,370)
    costs a cast-per-column."""
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def from_records(spark: SparkSession, records, schema) -> DataFrame:
    """S4: a DataFrame from driver-side rows, with an explicit schema.

    ``records``: iterable of tuples (may be empty); ``schema``:
    StructType or DDL string (e.g. ``"id int, mode string"``).

    This is the package's one entry point for rows built on the
    driver. The rows go to the JVM as one Arrow table, so the plan leaf
    is a ``LocalRelation`` (``LocalTableScan``): no Python worker runs
    to scan it, a broadcast of it runs no Spark job, and the optimizer
    can fold filters and projections into it. ``createDataFrame`` over
    a Python list would instead build a pickled Python RDD
    (``Scan ExistingRDD``) that Python workers must decode. An empty
    ``records`` gives a typed empty relation, so callers need no
    sentinel row.
    """
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(records)
    columns = zip(*rows) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def parse_sas_labels(text: str, marker: str) -> dict[str, str]:
    """S5: extract a ``value <marker> ... ;`` block of ``code = 'label'``
    pairs from a SAS labels-description file into a dict.

    Clean-room reimplementation of the reference's ``code_mapper``
    (etl.py:42-60) without its parameter-shadowing bug: operates on the
    ``text`` argument, strips quotes from both codes and labels, and
    tolerates tabs/whitespace. The file is KB-sized, so this is
    driver-side Python; feed the result to :func:`from_records`.
    """
    start = text.find(marker)
    if start == -1:
        return {}
    block = text[start:]
    block = block[: block.find(";")]
    out: dict[str, str] = {}
    for line in block.split("\n")[1:]:
        if "=" not in line:
            continue
        code, _, label = line.partition("=")
        code = code.strip().strip("'\"").strip()
        label = label.strip().strip("'\"").strip()
        if code:
            out[code] = label
    return out

