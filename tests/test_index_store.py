"""The index store under the persisted MinHash and trigram indexes.

``sources.index_store`` is the only writer of both indexes: the build,
the append and the compaction, one staged swap under the last two, and
the stamp. These tests pin the Spark job count of each store operation
on an index-ingest-shaped corpus and check the store's contract once
per index: the stamp merge rule, a torn rebuild that leaves no stamp,
a rebuild over an interrupted swap, and the two crash cases of a
compaction pass.
"""

import glob
import os
import uuid
from typing import Callable, NamedTuple

import numpy as np
import pytest

from udacity_data_engineering_capstone_project_spark.operators.dedup import (
    append_minhash_index,
    compact_minhash_index,
    minhash_probe_indexed,
    write_minhash_index,
)
from udacity_data_engineering_capstone_project_spark.operators.retrieval import (
    append_trigram_index,
    compact_trigram_index,
    trigram_match_indexed,
    write_trigram_index,
)
from udacity_data_engineering_capstone_project_spark.sources import index_store

MH_DIALS = {"n_band_parts": 8, "n_doc_parts": 4}
VOCAB = np.array(["slow", "filter", "hash", "stream", "batch", "window", "a", "the"])
PATTERNS = [(1, "slow filter"), (2, "hash stream"), (3, "batch window")]


class Store(NamedTuple):
    """One index kind as the tests drive it."""

    tables: tuple  # (table dir under the root, partition column)
    stats: tuple  # the stamped stats keys
    build: Callable
    append: Callable
    compact: Callable
    serve: Callable  # (spark, path, corpus docs, probe batch) -> answer set


def _tri_serve(spark, path, docs, _batch):
    pats = spark.createDataFrame(PATTERNS, "pattern_id int, pattern string")
    return {
        (r.pattern_id, r.doc_id)
        for r in trigram_match_indexed(spark, path, docs, pats).collect()
    }


def _mh_serve(spark, path, _docs, batch):
    return set(
        map(tuple, minhash_probe_indexed(spark, path, batch, **MH_DIALS).collect())
    )


STORES = {
    "trigram": Store(
        tables=(("", "tri_p2"),),
        stats=(),
        build=write_trigram_index,
        append=lambda docs, path, **kw: append_trigram_index(docs, path, **kw),
        compact=lambda spark, path, **kw: compact_trigram_index(spark, path, **kw),
        serve=_tri_serve,
    ),
    "minhash": Store(
        tables=(("postings", "bp"), ("sets", "dp")),
        stats=("sets_n_docs", "sets_tot_digests"),
        build=lambda docs, path: write_minhash_index(docs, path, **MH_DIALS),
        append=lambda docs, path, **kw: append_minhash_index(
            docs, path, **kw, **MH_DIALS
        ),
        compact=lambda spark, path, **kw: compact_minhash_index(spark, path, **kw),
        serve=_mh_serve,
    ),
}


def _texts(ids, seed):
    """10-100 words over the index-ingest benchmark's 8-word vocabulary."""
    rng = np.random.default_rng(seed)
    return {i: " ".join(VOCAB[rng.integers(0, 8, rng.integers(10, 101))]) for i in ids}


def _docs(spark, texts):
    return spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")


def _probe_batch(spark, texts):
    """Near-duplicates of the first docs of ``texts`` under fresh ids, so
    a MinHash probe has pairs to find."""
    near = {10_000 + i: t + " the" for i, t in list(sorted(texts.items()))[:8]}
    return _docs(spark, near)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), read from the status store."""
    sc = spark.sparkContext
    group = f"index-store-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _dirs(table, part_col):
    """{dir name: sorted parquet file names} of one partitioned table."""
    return {
        os.path.basename(d): sorted(
            os.path.basename(f) for f in glob.glob(os.path.join(d, "*.parquet"))
        )
        for d in glob.glob(os.path.join(table, f"{part_col}=*"))
    }


def _all_dirs(store, path):
    return {
        (rel, d): files
        for rel, col in store.tables
        for d, files in _dirs(os.path.join(path, rel), col).items()
    }


def _file_bytes(store, path):
    out = {}
    for rel, col in store.tables:
        for f in glob.glob(os.path.join(path, rel, f"{col}=*", "*.parquet")):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, path)] = fh.read()
    return out


#: Spark jobs per operation, at most, on a 400-doc base with 10-doc
#: batches (``local[4]``, 4 shuffle partitions). The serve and probe
#: plans read the index through ``Table.read`` at no plan-time job; the
#: trigram serve's one job collects the patterns.
JOB_PINS = {
    "trigram": {"build": 3, "append": 3, "append_compact": 6, "empty": 3, "serve_plan": 1},
    "minhash": {"build": 7, "append": 7, "append_compact": 12, "empty": 5, "serve_plan": 10},
}


@pytest.mark.parametrize("kind", ["trigram", "minhash"])
def test_store_operation_job_counts(spark, tmp_path, kind):
    """Each store operation runs no more Spark jobs than its pin: build,
    append without compaction, append that auto-compacts the touched
    dirs, a batch whose texts derive nothing, and building (not running)
    the serve or probe plan."""
    store = STORES[kind]
    texts = _texts(range(400), 0)
    base = _docs(spark, texts)
    batch = _docs(spark, _texts(range(400, 410), 1))
    probe = _docs(spark, _texts(range(410, 420), 2))  # the next batch
    short = _docs(spark, {i: "ab" for i in range(500, 510)})
    path, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    got = {}
    _, got["build"] = _jobs(spark, lambda: store.build(base, path))
    out, got["append"] = _jobs(
        spark, lambda: store.append(batch, path, auto_compact_threshold=None)
    )
    assert out["postings_files"] > 0 and not out["auto_compacted"]

    store.build(base, fresh)
    out, got["append_compact"] = _jobs(
        spark, lambda: store.append(batch, fresh, auto_compact_threshold=2)
    )
    assert out["auto_compacted"]

    out, got["empty"] = _jobs(
        spark, lambda: store.append(short, path, auto_compact_threshold=None)
    )
    assert out["postings_files"] == 0 and not out["auto_compacted"]

    pats = spark.createDataFrame(PATTERNS, "pattern_id int, pattern string")
    plan = {
        "trigram": lambda: trigram_match_indexed(spark, path, base, pats),
        "minhash": lambda: minhash_probe_indexed(spark, path, probe, **MH_DIALS),
    }[kind]
    _, got["serve_plan"] = _jobs(spark, plan)
    over = {op: (n, JOB_PINS[kind][op]) for op, n in got.items() if n > JOB_PINS[kind][op]}
    assert not over, (got, over)


def test_table_read_lists_only_existing_dirs_at_zero_jobs(spark, tmp_path):
    """``Table.read`` opens only the named dirs that exist, keeps the
    partition column at its stored type (``01`` stays a string) and
    plans at zero jobs; naming no existing dir gives an empty frame of
    the same schema."""
    table = index_store.Table("t", "p", "string", "k")
    root = str(tmp_path)
    table.write(
        spark.createDataFrame([(1, "01"), (2, "02"), (3, "10")], "k long, p string"),
        root,
    )
    reads, jobs = _jobs(
        spark, lambda: [table.read(spark, root, v) for v in (None, ["10", "01", "99"], ["99"])]
    )
    assert jobs == 0
    every, some, none = reads
    assert every.schema == some.schema == none.schema
    assert every.schema.simpleString() == "struct<k:bigint,p:string>"
    assert sorted(map(tuple, every.collect())) == [(1, "01"), (2, "02"), (3, "10")]
    assert sorted(map(tuple, some.collect())) == [(1, "01"), (3, "10")]
    assert none.collect() == []


@pytest.mark.parametrize("kind", ["trigram", "minhash"])
def test_stamp_merge_rule(spark, tmp_path, kind):
    """A build sets the stamped stats and an ``append_*_index`` sums
    them. The dials are stamped unchanged throughout."""
    store = STORES[kind]
    parts = [_texts(range(i * 20, i * 20 + 12), i) for i in range(3)]
    a, b, c = (_docs(spark, p) for p in parts)
    alone = {}
    for name, part in (("a", a), ("b", b), ("c", c)):
        store.build(part, str(tmp_path / name))
        alone[name] = index_store.read_stamp(str(tmp_path / name))
    dials = {k: v for k, v in alone["a"].items() if k not in store.stats}
    assert set(alone["a"]) - set(dials) == set(store.stats)

    path = str(tmp_path / "abc")
    store.build(a, path)
    store.build(b, path)  # overwrite: the stats are b's own
    assert index_store.read_stamp(path) == alone["b"]
    store.append(c, path, auto_compact_threshold=None)
    got = index_store.read_stamp(path)
    assert {k: v for k, v in got.items() if k not in store.stats} == dials
    for k in store.stats:
        assert got[k] == alone["b"][k] + alone["c"][k], k


@pytest.mark.parametrize("kind", ["trigram", "minhash"])
def test_torn_rebuild_leaves_no_stamp(spark, tmp_path, monkeypatch, kind):
    """A rebuild that dies before its first table write leaves no stamp,
    so the serve or probe refuses the index instead of trusting the old
    build's stamp over whatever the rebuild left behind."""
    store = STORES[kind]
    path = str(tmp_path / "idx")
    texts = _texts(range(40), 0)
    docs = _docs(spark, texts)
    store.build(docs, path)

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash before the first table write")

    monkeypatch.setattr(index_store.Table, "write", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.build(docs, path)
    monkeypatch.undo()
    with pytest.raises(FileNotFoundError, match=index_store.PARAMS_FILE):
        store.serve(spark, path, docs, _probe_batch(spark, texts))


@pytest.mark.parametrize("kind", ["trigram", "minhash"])
def test_rebuild_drops_interrupted_swap(spark, tmp_path, monkeypatch, kind):
    """A rebuild over an index whose append crashed after its manifest
    commit drops that manifest, so the next serve's heal does not move
    the old batch into the new tables: the rebuilt index holds no
    ``app-`` file and answers as a fresh build."""
    store = STORES[kind]
    path, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    texts = _texts(range(40), 0)
    docs, batch = _docs(spark, texts), _probe_batch(spark, texts)
    store.build(docs, path)

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash after the manifest commit")

    monkeypatch.setattr(index_store, "_commit_manifest_swap", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.append(batch, path, auto_compact_threshold=None)
    monkeypatch.undo()
    assert glob.glob(os.path.join(path, "_pending_append_*.json"))

    store.build(docs, path)
    store.build(docs, fresh)
    assert store.serve(spark, path, docs, batch) == store.serve(spark, fresh, docs, batch)
    assert not [f for files in _all_dirs(store, path).values() for f in files if f.startswith("app-")]
    assert not glob.glob(os.path.join(path, "_pending_append_*"))
    assert not glob.glob(os.path.join(path, "_append_*"))


def _appended(spark, store, path):
    """An index whose batch-touched dirs hold two files each, with the
    corpus docs and a probe batch to serve it with."""
    texts = _texts(range(40), 0)
    more = _texts(range(40, 50), 1)
    store.build(_docs(spark, texts), path)
    store.append(_docs(spark, more), path, auto_compact_threshold=None)
    return _docs(spark, {**texts, **more}), _probe_batch(spark, texts)


@pytest.mark.parametrize("kind", ["trigram", "minhash"])
def test_compact_crash_after_moves_heals_before_serve(spark, tmp_path, monkeypatch, kind):
    """A crash after the pass's manifest commit, with every move done and
    every small-file delete pending, leaves old and new files side by
    side. The next serve's heal finishes the deletes first: one
    ``compact-`` file per compacted dir, answers of a fresh build."""
    store = STORES[kind]
    path = str(tmp_path / "crash")
    docs, batch = _appended(spark, store, path)
    crossing = {d for d, files in _all_dirs(store, path).items() if len(files) > 1}
    assert crossing

    def crash_after_moves(manifest_path, moves, delete=()):
        for src, dst in moves:
            os.replace(src, dst)
        raise RuntimeError("simulated crash before the deletes")

    monkeypatch.setattr(index_store, "_commit_manifest_swap", crash_after_moves)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.compact(spark, path, small_file_threshold=1)
    monkeypatch.undo()
    assert len(glob.glob(os.path.join(path, "_pending_append_*.json"))) == 1
    # the pass crashed in its first table: two old files + the compacted
    # one in each of that table's compacted dirs
    torn = _all_dirs(store, path)
    compacted = {d for d in crossing if d[0] == store.tables[0][0]}
    assert compacted and all(len(torn[d]) == 3 for d in compacted), torn

    fresh = str(tmp_path / "fresh")
    store.build(docs, fresh)
    got, want = store.serve(spark, path, docs, batch), store.serve(spark, fresh, docs, batch)
    assert got == want and len(got) > 0
    healed = _all_dirs(store, path)
    for d in compacted:
        assert len(healed[d]) == 1 and healed[d][0].startswith("compact-"), healed[d]
    assert not glob.glob(os.path.join(path, "_pending_append_*"))
    assert not glob.glob(os.path.join(path, "_append_*"))


@pytest.mark.parametrize("kind", ["trigram", "minhash"])
def test_compact_orphan_staging_leaves_dirs_unchanged(spark, tmp_path, monkeypatch, kind):
    """A crash after the staged write but before the manifest commit
    leaves an orphan staging dir and no manifest. Every dir stays
    byte-identical, serves answer as before, and the heal drops the
    orphan once its grace window has passed."""
    store = STORES[kind]
    path = str(tmp_path / "orphan")
    docs, batch = _appended(spark, store, path)
    before = _file_bytes(store, path)
    want = store.serve(spark, path, docs, batch)
    assert want

    def crash_before_commit(*args, **kwargs):
        raise RuntimeError("simulated crash before the manifest")

    monkeypatch.setattr(index_store, "_commit_staging", crash_before_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.compact(spark, path, small_file_threshold=1)
    monkeypatch.undo()
    orphans = glob.glob(os.path.join(path, "_append_*"))
    assert len(orphans) == 1
    assert not glob.glob(os.path.join(path, "_pending_append_*"))

    assert store.serve(spark, path, docs, batch) == want
    assert _file_bytes(store, path) == before

    stale = 2 * index_store._APPEND_GC_GRACE_S
    for root, _dirs_, files in os.walk(orphans[0]):
        for f in files:
            p = os.path.join(root, f)
            os.utime(p, (os.path.getatime(p) - stale, os.path.getmtime(p) - stale))
    assert store.serve(spark, path, docs, batch) == want
    assert not os.path.exists(orphans[0])
    assert _file_bytes(store, path) == before
