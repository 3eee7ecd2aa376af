"""Driver-built rows become local relations: ``from_records`` is the one
place the package calls ``createDataFrame``, its frames scan as
``LocalTableScan`` (never a pickled Python RDD, ``Scan ExistingRDD``,
which Python workers must decode), and the operators that used to need a
sentinel row for an empty input give the same empty answer without one."""

import ast
from pathlib import Path

import pytest
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from udacity_data_engineering_capstone_project_spark.operators.aggregates import (
    heavy_hitters,
)
from udacity_data_engineering_capstone_project_spark.operators.textops import (
    bpe_merges_table,
)
from udacity_data_engineering_capstone_project_spark.plans import model
from udacity_data_engineering_capstone_project_spark.sources.readers import (
    from_records,
)
from tests.test_model import LABELS
from tests.test_pipeline_checks import I94_ROWS, _run

PACKAGE = Path(__file__).resolve().parent.parent / (
    "udacity_data_engineering_capstone_project_spark"
)


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _pattern_schema(pid_type):
    return StructType(
        [
            StructField("pattern_id", pid_type),
            StructField("tri", StringType()),
            StructField("bit", IntegerType()),
        ]
    )


@pytest.mark.parametrize(
    "records, schema",
    [
        ([], "id int, s string"),
        ([(1, None), (None, "b"), (None, None)], "id int, s string"),
        (
            [(1, 2**40, "x", 0.5), (-3, -(2**40), "", 10.0)],
            "i int, b bigint, s string, d double",
        ),
        ([(7, "abc", 0)], _pattern_schema(LongType())),
        ([("p7", "abc", 0)], _pattern_schema(StringType())),
    ],
    ids=["empty", "nulls", "int-bigint-string-double", "pid-long", "pid-string"],
)
def test_from_records_is_a_local_table_scan(spark, records, schema):
    df = from_records(spark, records, schema)
    plan = _executed(df)
    assert plan.lstrip().startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan
    expected = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    assert df.schema == expected
    assert [tuple(r) for r in df.collect()] == records


def test_create_data_frame_only_inside_from_records():
    """A source scan: every ``createDataFrame(`` in the package sits in
    the body of ``sources/readers.from_records``."""
    readers = PACKAGE / "sources" / "readers.py"
    (fn,) = [
        node
        for node in ast.parse(readers.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "from_records"
    ]
    hits = [
        (path, i)
        for path in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert len(hits) == 1
    assert hits[0][0] == readers and fn.lineno <= hits[0][1] <= fn.end_lineno


def test_pipeline_report_scans_no_python_rdd(spark, tmp_path):
    report = _run(spark, tmp_path, I94_ROWS)
    plan = _executed(report)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize(
    "build",
    [
        lambda spark: model.build_visa_dim(spark),
        lambda spark: model.build_mode_dim(spark, LABELS),
        lambda spark: model.build_port_dim(spark, LABELS),
        lambda spark: model.build_country_codes(spark, LABELS),
    ],
    ids=["visa", "mode", "port", "country_codes"],
)
def test_label_dims_scan_no_python_rdd(spark, build):
    df = build(spark)
    assert "ExistingRDD" not in _executed(df)
    assert df.count() > 0


def _fields(df):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema]


@pytest.mark.parametrize("texts", [[], ["", "   "]], ids=["no-docs", "no-words"])
def test_bpe_merges_table_over_degenerate_corpus(spark, texts):
    """No merge is learned: an empty merge table with its schema."""
    df = from_records(spark, [(t,) for t in texts], "text string")
    out = bpe_merges_table(spark, df)
    assert _fields(out) == [
        ("merge_rank", "int", True),
        ("left_sym", "string", True),
        ("right_sym", "string", True),
        ("pair_count", "bigint", True),
    ]
    assert out.collect() == []


@pytest.mark.parametrize(
    "values, frac",
    [([], (1, 100)), ([None, None], (1, 100)), ([f"v{i}" for i in range(40)], (1, 2))],
    ids=["no-rows", "all-null", "no-candidate"],
)
def test_heavy_hitters_with_no_candidate(spark, values, frac):
    """No batch keeps a candidate: no heavy hitter, with its schema."""
    df = from_records(spark, [(v,) for v in values], "v string")
    out = heavy_hitters(df, "v", *frac)
    assert _fields(out) == [("value", "string", True), ("n_occurrences", "bigint", False)]
    assert out.collect() == []
