"""One lifetime for driver-side resources: every broadcast, persist and
local checkpoint the package takes goes through ``session.hold``, and a
``resource_scope`` releases exactly what was held inside it. Closing one
scope leaves other plans' resources alone; closing it frees the storage
a plan's checkpoints took, which ``clearCache()`` alone does not."""

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.operators.dedup import (
    connected_components,
)
from udacity_data_engineering_capstone_project_spark.operators.similarity import (
    brute_force_topk,
    destroy_routing_broadcast,
    ivf_topk,
)
from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t
from udacity_data_engineering_capstone_project_spark.plans.registry import query_fns
from udacity_data_engineering_capstone_project_spark.sources.readers import (
    from_records,
)

PACKAGE = Path(__file__).resolve().parent.parent / (
    "udacity_data_engineering_capstone_project_spark"
)

#: Calls that take a resource someone must release.
TAKES = {"broadcast", "persist", "cache", "localCheckpoint"}


def _takes(node):
    """A resource-taking call: ``F.broadcast`` is a join hint, not one."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in TAKES
        and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "F")
    )


def test_every_resource_is_taken_through_hold():
    unheld, n = [], 0
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        held = {
            id(call.args[0])
            for call in ast.walk(tree)
            if isinstance(call, ast.Call)
            and isinstance(call.func, ast.Name)
            and call.func.id == "hold"
            and len(call.args) == 1
        }
        for node in ast.walk(tree):
            if _takes(node):
                n += 1
                if id(node) not in held:
                    unheld.append((path.relative_to(PACKAGE), node.lineno))
    assert unheld == []
    assert n > 50


def _held_rdds(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_closing_one_scope_leaves_another_plans_broadcasts(spark, sf_dir):
    from udacity_data_engineering_capstone_project_spark.session import resource_scope

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 20)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    with resource_scope():
        b = ivf_topk(queries, emb, cents, k=5)
        with resource_scope():
            assert rows(brute_force_topk(queries, emb, k=3))
        got = rows(b)
        assert got and got == rows(ivf_topk(queries, emb, cents, k=5))
    with pytest.raises(Exception, match="destroyed"):
        b.collect()


def test_append_leaves_a_probes_cache_of_the_same_batch(spark, tmp_path):
    """A MinHash probe and then an append of the same batch share one
    cached digest-set plan: the append reads it but leaves it to the
    probe's scope, so every frame the probe cached stays cached."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        append_minhash_index,
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.session import resource_scope

    def docs(ids):
        return from_records(
            spark,
            [(i, f"doc {i} on topic {i % 3} with shared words {i * 7}") for i in ids],
            "doc_id long, text string",
        )

    dials = {"n_band_parts": 4, "n_doc_parts": 2}
    path = str(tmp_path / "mh")
    write_minhash_index(docs(range(20)), path, **dials)
    batch = docs(range(100, 105))
    with resource_scope():
        minhash_probe_indexed(spark, path, batch, **dials)
        probed = _held_rdds(spark)
        append_minhash_index(batch, path, auto_compact_threshold=None, **dials)
        assert probed <= _held_rdds(spark)


def _checkpointing_plans(spark, sf_dir):
    """Builders of three plans that localCheckpoint while they build."""
    fns = query_fns()
    pairs = from_records(spark, [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long")
    return [
        lambda: fns["kmv_user_overlap"](spark, sf_dir),
        lambda: fns["bm25_search_topk"](spark, sf_dir),
        lambda: connected_components(pairs),
    ]


def test_closing_a_scope_frees_its_checkpoints(spark, sf_dir):
    from udacity_data_engineering_capstone_project_spark.session import resource_scope

    before = _held_rdds(spark)
    with resource_scope():
        dfs = [build() for build in _checkpointing_plans(spark, sf_dir)]
        assert all(df.collect() for df in dfs)
        assert _held_rdds(spark) - before
    assert _held_rdds(spark) - before == set()


def test_harness_hook_frees_checkpoints(spark, sf_dir):
    """bench.py's clean-up after each query: the hook, then clearCache()."""
    before = _held_rdds(spark)
    for build in _checkpointing_plans(spark, sf_dir):
        df = build()
        assert df.collect()
        destroy_routing_broadcast(df)
        spark.catalog.clearCache()
    assert _held_rdds(spark) - before == set()
