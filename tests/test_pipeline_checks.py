"""The pipeline's quality report checks what was written: planted faults
in the inputs show up with their exact metric, the report's collect is
3 jobs, and the pipeline holds no persisted state after."""

import threading
import uuid

from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.plans import model
from udacity_data_engineering_capstone_project_spark.plans.pipeline import run_pipeline
from udacity_data_engineering_capstone_project_spark.plans.quality import (
    Checked,
    nonempty_check,
    predicate_absent_check,
    tables_check,
    unique_key_check,
)
from udacity_data_engineering_capstone_project_spark.session import ROOT_SCOPE
from udacity_data_engineering_capstone_project_spark.sources.readers import (
    from_records,
    parse_sas_labels,
)
from tests.test_model import LABELS

#: Two valid I94 rows (model.I94_SCHEMA column order).
I94_ROWS = [
    (1.0, 2016.0, 4.0, 236.0, 236.0, "ANC", 20574.0, 20582.0, 1.0, "AK",
     30.0, 2.0, 1.0, "20160430", None, None, "G", "O", None, "M", 1986.0,
     "10292016", "M", None, "UA", 1.0, "UA100", "B2"),
    (2.0, 2016.0, 4.0, 101.0, 101.0, "NYC", 20560.0, 20660.0, 1.0, "NY",
     40.0, 1.0, 1.0, "20160416", None, None, "G", "O", None, "M", 1976.0,
     "10152016", "F", None, "DL", 2.0, "DL200", "B1"),
]
CICID, AIRLINE = 0, 24


def _with(row, i, value):
    return row[:i] + (value,) + row[i + 1:]


def _run(spark, tmp_path, i94_rows):
    i94_path = str(tmp_path / "i94")
    spark.createDataFrame(i94_rows, model.I94_SCHEMA).write.parquet(i94_path)
    demo_csv = tmp_path / "demo.csv"
    demo_csv.write_text(
        ";".join(model.DEMOGRAPHICS_RENAMES) + "\n"
        "Anchorage;Alaska;32.5;150;140;290;20;30;2.5;AK;White;200\n"
        "Anchorage;Alaska;32.5;150;140;290;20;30;2.5;AK;Asian;50\n"
    )
    temps_csv = tmp_path / "temps.csv"
    temps_csv.write_text(
        "dt,AverageTemperature,AverageTemperatureUncertainty,City,Country,Latitude,Longitude\n"
        "2000-01-01,10.0,0.1,Kabul,Afghanistan,34.5N,69.2E\n"
    )
    return run_pipeline(
        spark, i94_path, LABELS, str(demo_csv), str(temps_csv), str(tmp_path / "model")
    )


def _report(report):
    rows = {r.check_name: (r.metric, r.passed) for r in report.collect()}
    assert len(rows) == 12
    return rows


def _failing(rows):
    return {k: v for k, v in rows.items() if v[1] == 0}


def test_duplicated_cicid_flags_fact_pk(spark, tmp_path):
    dup = _with(I94_ROWS[1], CICID, 1.0)
    rows = _report(_run(spark, tmp_path, [I94_ROWS[0], dup]))
    assert _failing(rows) == {"fact_pk_unique": (1, 0)}


def _unfiltered_codes(spark, labels_text):
    """``model.build_country_codes`` without its label cleansing."""
    pairs = parse_sas_labels(labels_text, "i94cntyl").items()
    return from_records(spark, [(int(k), v) for k, v in pairs], "code int, country string")


def test_garbage_country_label_flags_cleansing(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(model, "build_country_codes", _unfiltered_codes)
    rows = _report(_run(spark, tmp_path, I94_ROWS))
    # 998 'INVALID: ...', 999 'No Country Code', 997 'did not show ...'
    assert _failing(rows) == {"country_cleansing_persisted": (3, 0)}
    assert rows["country_nonempty"] == (6, 1)


def test_null_keys_group_as_in_group_by(spark, tmp_path):
    one_null = _with(I94_ROWS[1], CICID, None)
    rows = _report(_run(spark, tmp_path / "one", [I94_ROWS[0], one_null]))
    assert rows["fact_pk_unique"] == (0, 1)
    rows = _report(_run(spark, tmp_path / "two", [I94_ROWS[0], one_null, one_null]))
    assert _failing(rows) == {"fact_pk_unique": (1, 0)}


def test_tables_check_matches_per_table_checks(spark):
    """The one-shuffle check reports what the per-table checks do,
    composite null keys, an empty table and a bad predicate included."""
    pairs = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", None), (None, "a"), (None, "x"),
         (None, None), (None, None), (None, None)],
        "s string, c string",
    )
    ids = spark.createDataFrame([(1,), (2,), (None,), (2,)], "id int")
    empty = ids.filter(F.lit(False))
    bad = F.col("id") > 1  # null for the null id: not a bad row
    tables = [
        Checked(pairs, ["s", "c"], "pairs", "pairs_nonempty"),
        Checked(pairs, ["s"], "pairs_s"),
        Checked(ids, ["id"], "ids", "ids_nonempty", (bad, "ids_bad")),
        Checked(empty, ["id"], "empty", "empty_nonempty", (bad, "empty_bad")),
    ]
    got = {r.check_name: (r.metric, r.passed) for r in tables_check(tables).collect()}
    want = {}
    for t in tables:
        checks = [unique_key_check(t.df, t.keys, t.unique)]
        if t.nonempty:
            checks.append(nonempty_check(t.df, t.nonempty))
        if t.bad:
            checks.append(predicate_absent_check(t.df, *t.bad))
        for c in checks:
            r = c.first()
            want[r.check_name] = (r.metric, r.passed)
    assert got == want == {
        "pairs": (3, 0), "pairs_nonempty": (8, 1), "pairs_s": (6, 0),
        "ids": (1, 0), "ids_nonempty": (4, 1), "ids_bad": (2, 0),
        "empty": (0, 1), "empty_nonempty": (0, 0), "empty_bad": (0, 1),
    }


def test_no_airline_gives_empty_fact_in_bounded_time(spark, tmp_path):
    """Every row fails the fact filter, so the fact and date tables are
    written empty; the report says so and returns."""
    no_airline = [_with(r, AIRLINE, None) for r in I94_ROWS]
    out = {}

    def go():
        out["rows"] = _report(_run(spark, tmp_path, no_airline))

    t = threading.Thread(target=go, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "run_pipeline + collect did not return"
    assert _failing(out["rows"]) == {
        "fact_nonempty": (0, 0),
        "date_nonempty": (0, 0),
    }


def test_report_collect_jobs_and_no_state_left(spark, tmp_path):
    spark.catalog.clearCache()
    # checkpoints that earlier tests' operators left in the root scope
    # would otherwise vanish at the ContextCleaner's next GC, mid-test
    ROOT_SCOPE.release()
    jsc = spark.sparkContext._jsc.sc()
    held = lambda: {i.id() for i in jsc.getRDDStorageInfo()}  # noqa: E731
    before = held()
    sc = spark.sparkContext
    group = f"pipeline_checks_{uuid.uuid4().hex}"
    try:
        report = _run(spark, tmp_path, I94_ROWS)
        sc.setJobGroup(group, group)
        rows = _report(report)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not _failing(rows)
    # the one aggregation's shuffle and result stages; a report of
    # per-table checks over recomputed lineages ran 27 jobs
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    assert held() == before
