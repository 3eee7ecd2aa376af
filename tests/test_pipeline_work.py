"""The star ETL's work per written table: each write's Spark jobs and
each dim's parquet files, pinned on the ``test_pipeline_checks``
fixture. Every dim is one aggregation at most, with no no-op join,
dedup or sort, and is written by one task (one file per directory).
The writes run concurrently, so the caller's job group covers every
job of the call, and a failed write surfaces only after the others
finished, with no thread left behind."""

import glob
import os
import threading
import time
import uuid

import pytest

import tests.test_pipeline_checks as checks
import udacity_data_engineering_capstone_project_spark.plans.pipeline as pipeline
from tests.test_pipeline_checks import I94_ROWS, _run

#: Spark jobs of each table's write, from a cleared cache.
WRITE_JOBS = {
    "fact_i94": 1,
    "dim_i94visa": 1,
    "dim_i94mode": 1,
    "dim_i94port": 1,
    "dim_country": 3,
    "dim_demographics": 3,
    "dim_date": 2,
}
#: Parquet files of each dim: one per partition directory.
DIM_FILES = {
    "dim_i94visa": 3,
    "dim_i94mode": 4,
    "dim_i94port": 2,
    "dim_country": 1,
    "dim_demographics": 1,
    "dim_date": 1,
}


def test_write_jobs_and_dim_files(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    groups = {}
    write_parquet = pipeline.write_parquet

    def tagged(df, path, **kw):
        table = os.path.basename(path).removesuffix(".parquet")
        groups[table] = group = f"write-{table}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            write_parquet(df, path, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(pipeline, "write_parquet", tagged)
    spark.catalog.clearCache()
    _run(spark, tmp_path, I94_ROWS)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {t: len(sc.statusTracker().getJobIdsForGroup(g)) for t, g in groups.items()}
    files = {
        t: len(glob.glob(str(tmp_path / "model" / f"{t}.parquet" / "**" / "*.parquet"),
                         recursive=True))
        for t in DIM_FILES
    }
    assert (jobs, files) == (WRITE_JOBS, DIM_FILES)


def _around_call(monkeypatch, before, after):
    """Run ``before()`` and ``after()`` around the fixture's
    ``run_pipeline`` call only, not around writing its inputs."""

    def wrapped(*args):
        before()
        try:
            return pipeline.run_pipeline(*args)
        finally:
            after()

    monkeypatch.setattr(checks, "run_pipeline", wrapped)


def test_call_jobs_run_in_the_callers_group(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    group = f"call-{uuid.uuid4().hex}"
    ungrouped = {}

    def before():
        ungrouped["before"] = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup(group, group)

    def after():
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ungrouped["after"] = set(sc.statusTracker().getJobIdsForGroup(None))

    _around_call(monkeypatch, before, after)
    spark.catalog.clearCache()
    _run(spark, tmp_path, I94_ROWS)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == sum(WRITE_JOBS.values())
    # no job outside any group started during the call (the status
    # store may evict old jobs meanwhile, never add them)
    assert ungrouped["after"] <= ungrouped["before"]


def test_failed_write_raises_after_the_others_finish(spark, tmp_path, monkeypatch):
    class WriteFailed(RuntimeError):
        pass

    write_parquet = pipeline.write_parquet
    failed = threading.Event()

    def failing(df, path, **kw):
        table = os.path.basename(path)
        if table == "dim_country.parquet":
            failed.set()
            raise WriteFailed(path)
        if table == "dim_demographics.parquet":
            # still writing well after the failure
            failed.wait(60)
            time.sleep(3)
        write_parquet(df, path, **kw)

    monkeypatch.setattr(pipeline, "write_parquet", failing)
    threads = {}
    _around_call(
        monkeypatch,
        lambda: threads.setdefault("before", threading.active_count()),
        lambda: None,
    )
    with pytest.raises(WriteFailed):
        _run(spark, tmp_path, I94_ROWS)
    assert threading.active_count() == threads["before"]
    written = {
        t for t in WRITE_JOBS
        if os.path.exists(tmp_path / "model" / f"{t}.parquet" / "_SUCCESS")
    }
    assert written == set(WRITE_JOBS) - {"dim_country"}
