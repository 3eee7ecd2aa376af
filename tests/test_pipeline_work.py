"""The star ETL's work per written table: each write's Spark jobs and
each dim's parquet files, pinned on the ``test_pipeline_checks``
fixture. Every dim is one aggregation at most, with no no-op join,
dedup or sort, and is written by one task (one file per directory)."""

import glob
import os
import uuid

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
