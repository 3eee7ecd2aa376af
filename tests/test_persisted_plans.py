"""Persisted plans under AQE, and bounded Observation reads.

Both session entry points let AQE coalesce the shuffle inside a
persisted plan (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``),
so an Arrow kernel over a persisted small batch runs one Python task,
not one per shuffle partition. ``_observed_totals`` never blocks on an
Observation whose subtree did not run.
"""

import time
import uuid

from pyspark.sql import Observation
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.operators.dedup import (
    _minhash_band_keys_udf,
    _observed_totals,
    minhash_lsh_pairs_against,
    minhash_probe_indexed,
    shingle_sets,
    write_minhash_index,
)
from udacity_data_engineering_capstone_project_spark.session import prep_session

CACHED_COALESCE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
MH_DIALS = {"n_band_parts": 8, "n_doc_parts": 4}


def _docs(spark, ids, shift=0):
    """Documents ``ids``; doc i carries the text made for doc i - shift,
    so a shifted range copies another range verbatim under new ids."""
    return spark.createDataFrame(
        [
            (i, f"record {j % 5} about subject {j % 4} carrying common "
                f"filler words and a distinct tail {j * 31}")
            for i, j in ((i, i - shift) for i in ids)
        ],
        "doc_id long, text string",
    )


def _group_tasks(spark, fn):
    """(fn(), tasks run by every stage of every job fn ran), read from
    the status tracker. Stages a later job skips count once, at the
    tasks they ran. A stage the tracker no longer holds ran none: once
    a session passes ``spark.ui.retainedStages``, the status store
    evicts the stages without a completion time, the skipped ones,
    first."""
    sc = spark.sparkContext
    group = f"persisted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = {
        sid
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    }
    infos = [tracker.getStageInfo(sid) for sid in stages]
    return out, sum(info.numCompletedTasks for info in infos if info is not None)


def test_sessions_let_aqe_coalesce_persisted_plans(spark):
    assert spark.conf.get(CACHED_COALESCE) == "true"
    vanilla = spark.newSession()
    vanilla.conf.unset(CACHED_COALESCE)
    assert vanilla.conf.get(CACHED_COALESCE) == "false"
    assert prep_session(vanilla).conf.get(CACHED_COALESCE) == "true"


def test_band_keys_over_persisted_batch_run_one_python_task(spark, tmp_path):
    """At 32 shuffle partitions, the band-key kernel over the persisted
    shingle sets of a 10-doc batch runs in a handful of tasks (65 when
    the persisted plan kept all 32 partitions), and the indexed probe
    in the same session still answers like the unindexed one, within
    the byte budget and over it."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        # a one-file parquet batch, as an ingest round reads it
        batch_path = str(tmp_path / "batch.parquet")
        _docs(spark, range(200, 210)).coalesce(1).write.parquet(batch_path)
        batch = spark.read.parquet(batch_path)
        sets = shingle_sets(batch, "doc_id", "text").persist()
        band_keys = _minhash_band_keys_udf(64, 16)
        keys, tasks = _group_tasks(
            spark, lambda: sets.select(F.explode(band_keys("hs"))).collect()
        )
        sets.unpersist()
        assert len(keys) == 10 * 16
        assert tasks <= 4, tasks

        # index docs 1200-1204 copy batch docs 200-204
        index = _docs(spark, range(60)).unionByName(_docs(spark, range(1200, 1205), 1000))
        path = str(tmp_path / "mh_idx")
        write_minhash_index(index, path, **MH_DIALS)
        rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
        answers = []
        # the default byte budget takes the id-pair kernel; a zero
        # budget forces both operators onto the join
        for budget in ({}, {"broadcast_max_bytes": 0}):
            probe = minhash_probe_indexed(spark, path, batch, **MH_DIALS, **budget)
            against = minhash_lsh_pairs_against(index, batch, "doc_id", "text", **budget)
            got, want = rows(probe), rows(against)
            assert got == want and got
            answers.append(got)
            if budget:
                for df in (probe, against):
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    assert "inter_size_arrow" in plan and "MapInPandas" not in plan
        assert answers[0] == answers[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.catalog.clearCache()


def test_observed_totals_read_after_action(spark):
    obs = Observation(f"ran_{uuid.uuid4().hex}")
    df = spark.range(10).observe(obs, F.count("*").alias("n"), F.sum("id").alias("tot"))
    assert df.count() == 10
    assert _observed_totals(obs) == {"n": 10, "tot": 45}


def test_observed_totals_none_when_subtree_never_runs(spark):
    """``Observation.get`` would block here forever; the bounded read
    returns None and the caller measures instead."""
    obs = Observation(f"never_{uuid.uuid4().hex}")
    spark.range(10).observe(obs, F.count("*").alias("n"), F.sum("id").alias("tot"))
    t0 = time.monotonic()
    assert _observed_totals(obs) is None
    assert time.monotonic() - t0 < 5
