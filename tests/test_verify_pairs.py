"""The one verify path of the near-dup operators.

``operators.dedup._verify_pairs`` owns the byte gate, the choice between
the id-pair kernel and the join, and the threshold filter for
``minhash_lsh_pairs``, ``jaccard_pairs_prefix``,
``minhash_lsh_pairs_against`` and ``minhash_probe_indexed``. These tests
check that each operator answers the same over a zero byte budget as
within the default one, pin its Spark job count both ways, and check the
band dial is rejected before any job runs.
"""

import functools
import importlib
import uuid

import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.functions.hashing import (
    spark_hex_to_long,
)
from udacity_data_engineering_capstone_project_spark.operators.dedup import (
    jaccard_pairs_prefix,
    minhash_lsh_pairs,
    minhash_lsh_pairs_against,
    minhash_probe_indexed,
    shingle_sets,
    write_minhash_index,
)
from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

# the module, not the ``operators.dedup`` function that shadows it
dedup = importlib.import_module(
    "udacity_data_engineering_capstone_project_spark.operators.dedup"
)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), read from the status store."""
    sc = spark.sparkContext
    group = f"verify-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _split(spark, sf_dir):
    """(all documents, the 90% index side, the 10% batch side), split on
    the md5 of the doc id."""
    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    return docs, docs.filter(b < 90), docs.filter(b >= 90)


def _rows(df):
    return sorted(map(tuple, df.collect()))


#: Spark jobs of one plan build plus ``.collect()`` from a cleared cache,
#: at most, within the default byte budget and over a zero budget, on
#: the sf0.001 documents (``local[4]``, 4 shuffle partitions).
JOB_PINS = {
    "minhash_lsh_pairs": (21, 21),
    "jaccard_pairs_prefix": (24, 24),
    "minhash_lsh_pairs_against": (17, 24),
    "minhash_probe_indexed": (18, 25),
}
SELF_JOINS = ("minhash_lsh_pairs", "jaccard_pairs_prefix")


@pytest.mark.parametrize("op", sorted(JOB_PINS))
def test_verify_over_budget_rows_and_job_counts(
    spark, sf_dir, tmp_path, monkeypatch, op
):
    """Each near-dup operator emits the same rows over a zero byte
    budget, which forces the join, as within the default budget, and
    runs no more Spark jobs than its pins. The batch probes take the
    budget as an option; the self-joins have none, so their verify is
    patched to the zero budget."""
    docs, index_docs, batch = _split(spark, sf_dir)
    path = str(tmp_path / "mh_idx")
    if op == "minhash_probe_indexed":
        write_minhash_index(index_docs, path)
    run = {
        "minhash_lsh_pairs": lambda **kw: minhash_lsh_pairs(docs, "doc_id", "text"),
        "jaccard_pairs_prefix": lambda **kw: jaccard_pairs_prefix(
            shingle_sets(docs, "doc_id", "text"), 3, 5
        ),
        "minhash_lsh_pairs_against": lambda **kw: minhash_lsh_pairs_against(
            index_docs, batch, "doc_id", "text", **kw
        ),
        "minhash_probe_indexed": lambda **kw: minhash_probe_indexed(
            spark, path, batch, "doc_id", "text", **kw
        ),
    }[op]
    spark.catalog.clearCache()
    want, within = _jobs(spark, lambda: _rows(run()))

    zero, calls = {"broadcast_max_bytes": 0}, []
    if op in SELF_JOINS:
        over_budget = functools.partial(dedup._verify_pairs, **zero)

        def verify(*args, **kw):
            calls.append(args)
            return over_budget(*args, **kw)

        monkeypatch.setattr(dedup, "_verify_pairs", verify)
        zero = {}
    spark.catalog.clearCache()
    got, over = _jobs(spark, lambda: _rows(run(**zero)))
    spark.catalog.clearCache()
    assert got == want and want
    assert len(calls) == (op in SELF_JOINS)
    assert within <= JOB_PINS[op][0] and over <= JOB_PINS[op][1], (within, over)


def test_minhash_bands_must_divide_hashes(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, "doc_id", "text", bands=10)
