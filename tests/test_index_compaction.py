"""Compaction of the persisted MinHash and trigram index stores.

Both ``compact_*_index`` functions rewrite every over-threshold partition
dir of a table in one Spark job and commit the pass under one manifest
(``sources.index_store._compact_partition_dirs``). These tests pin the job
count, the partition-value round trip, the crash behaviour of the
one-manifest pass and the layout against the per-dir shape it replaced.
"""

import glob
import os
import shutil
import uuid

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.operators.dedup import (
    append_minhash_index,
    compact_minhash_index,
    write_minhash_index,
)
from udacity_data_engineering_capstone_project_spark.operators.retrieval import (
    append_trigram_index,
    compact_trigram_index,
    trigram_match_indexed,
    write_trigram_index,
)
from udacity_data_engineering_capstone_project_spark.sources import index_store
from udacity_data_engineering_capstone_project_spark.sources.index_store import (
    _compact_partition_dirs,
)

#: Texts with digits, so numeric prefix dirs such as ``tri_p2=01`` and
#: ``tri_p2=12`` exist beside the letter ones.
DIGIT_DOCS = [
    (1, "order 0123 shipped"),
    (2, "invoice 1299 paid"),
    (3, "order 4512 late"),
    (4, "the quick brown fox"),
    (5, "item 0123 returned"),
    (6, "order 1299 and 0123"),
    (7, "invoice 7788 open"),
    (8, "quick red fox 4512"),
]
PATTERNS = [(1, "0123"), (2, "1299"), (3, "order"), (4, "invoice 7788"), (5, "fox")]

MH_DIALS = {"n_band_parts": 8, "n_doc_parts": 4}


def _mh_docs(spark, ids):
    return spark.createDataFrame(
        [
            (i, f"document number {i % 7} talks about topic {i % 3} with "
                f"shared boilerplate text and unique suffix {i * 17}")
            for i in ids
        ],
        "doc_id long, text string",
    )


@pytest.fixture
def digit_corpus(spark):
    docs = spark.createDataFrame(DIGIT_DOCS, "doc_id long, text string")
    pats = spark.createDataFrame(PATTERNS, "pattern_id int, pattern string")
    return docs, pats


def _appended_trigram(docs, path):
    """Build over docs 1-4 and append 5-8 without auto-compaction, so
    every dir the batch touched holds two files."""
    write_trigram_index(docs.filter(F.col("doc_id") <= 4), path)
    append_trigram_index(
        docs.filter(F.col("doc_id") > 4), path, auto_compact_threshold=None
    )


def _appended_minhash(spark, path):
    write_minhash_index(_mh_docs(spark, range(16)), path, **MH_DIALS)
    append_minhash_index(
        _mh_docs(spark, range(100, 108)), path, auto_compact_threshold=None,
        **MH_DIALS,
    )


def _matches(spark, path, docs, pats):
    return {
        (r.pattern_id, r.doc_id)
        for r in trigram_match_indexed(spark, path, docs, pats).collect()
    }


def _dirs(table, part_col):
    """{dir name: sorted parquet file names} of one partitioned table."""
    return {
        os.path.basename(d): sorted(
            os.path.basename(f) for f in glob.glob(os.path.join(d, "*.parquet"))
        )
        for d in glob.glob(os.path.join(table, f"{part_col}=*"))
    }


def _file_bytes(table, part_col):
    out = {}
    for f in glob.glob(os.path.join(table, f"{part_col}=*", "*.parquet")):
        with open(f, "rb") as fh:
            out[os.path.relpath(f, table)] = fh.read()
    return out


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), read from the status store."""
    sc = spark.sparkContext
    group = f"compaction-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_trigram_compaction_keeps_numeric_prefix_dirs(spark, digit_corpus, tmp_path):
    """A pass over only numeric prefix dirs must not let Spark re-infer
    ``tri_p2`` as an int from the dir names: ``tri_p2=01`` stays
    ``tri_p2=01`` (not ``tri_p2=1``), and serves equal a fresh build."""
    docs, pats = digit_corpus
    path = str(tmp_path / "tri_digits")
    _appended_trigram(docs, path)
    before = _dirs(path, "tri_p2")
    numeric = [
        os.path.join(path, d)
        for d, files in before.items()
        if d.split("=", 1)[1].isdigit() and len(files) > 1
    ]
    assert os.path.join(path, "tri_p2=01") in numeric and len(numeric) >= 3

    stats = compact_trigram_index(spark, path, small_file_threshold=1, only_dirs=numeric)
    assert stats["dirs_compacted"] == len(numeric)
    after = _dirs(path, "tri_p2")
    assert set(after) == set(before)
    for d in numeric:
        assert len(after[os.path.basename(d)]) == 1, d

    compact_trigram_index(spark, path, small_file_threshold=1)
    assert set(_dirs(path, "tri_p2")) == set(before)
    assert all(len(files) == 1 for files in _dirs(path, "tri_p2").values())

    fresh = str(tmp_path / "tri_digits_fresh")
    write_trigram_index(docs, fresh)
    got, want = _matches(spark, path, docs, pats), _matches(spark, fresh, docs, pats)
    assert got == want and len(got) > 0


def test_compaction_pass_job_count(spark, digit_corpus, tmp_path, monkeypatch):
    """One compaction pass is one partitioned write per table. Under AQE
    that write runs as two jobs, the shuffle's map stage and the write
    itself; past 32 input files Spark lists them in one job of its own
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``). A
    pass with no dir over the threshold runs no job and commits no
    manifest."""
    docs, _pats = digit_corpus
    tri = str(tmp_path / "tri_jobs")
    _appended_trigram(docs, tri)
    crossing = sorted(
        os.path.join(tri, d) for d, files in _dirs(tri, "tri_p2").items() if len(files) > 1
    )
    assert len(crossing) > 16  # 2 files each: the full pass reads > 32 files

    def compact(only):
        return compact_trigram_index(spark, tri, small_file_threshold=1, only_dirs=only)

    stats, jobs = _jobs(spark, lambda: compact(crossing[:8]))  # 16 files
    assert stats["dirs_compacted"] == 8 and jobs <= 2, (stats, jobs)
    stats, jobs = _jobs(spark, lambda: compact(None))
    assert stats["dirs_compacted"] == len(crossing) - 8 and jobs <= 3, (stats, jobs)

    mh = str(tmp_path / "mh_jobs")
    _appended_minhash(spark, mh)
    stats, jobs = _jobs(spark, lambda: compact_minhash_index(spark, mh, small_file_threshold=1))
    assert stats["dirs_compacted"] > 0
    assert jobs <= 4, jobs

    def no_commit(*args, **kwargs):
        raise AssertionError("a pass with nothing to compact committed a manifest")

    monkeypatch.setattr(index_store, "_commit_staging", no_commit)
    for fn in (
        lambda: compact_trigram_index(spark, tri, small_file_threshold=1),
        lambda: compact_minhash_index(spark, mh, small_file_threshold=1),
    ):
        stats, jobs = _jobs(spark, fn)
        assert stats["dirs_compacted"] == 0 and jobs == 0, (stats, jobs)
    assert not glob.glob(os.path.join(tri, "_append_*"))
    assert not glob.glob(os.path.join(mh, "_append_*"))


def test_trigram_compact_crash_after_moves_heals_before_serve(
    spark, digit_corpus, tmp_path, monkeypatch
):
    """A crash after the pass's manifest commit, with every move done
    and every small-file delete pending, leaves old and new files side
    by side in every compacted dir. The next serve's heal loop must
    finish the deletes first: one file per dir, answers of a fresh
    build."""
    docs, pats = digit_corpus
    path = str(tmp_path / "tri_crash")
    _appended_trigram(docs, path)
    crossing = {d for d, files in _dirs(path, "tri_p2").items() if len(files) > 1}

    def crash_after_moves(manifest_path, moves, delete=()):
        for src, dst in moves:
            os.replace(src, dst)
        raise RuntimeError("simulated crash before the deletes")

    monkeypatch.setattr(index_store, "_commit_manifest_swap", crash_after_moves)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_trigram_index(spark, path, small_file_threshold=1)
    monkeypatch.undo()
    assert len(glob.glob(os.path.join(path, "_pending_append_*.json"))) == 1
    torn = _dirs(path, "tri_p2")
    for d in crossing:
        assert len(torn[d]) == 3, (d, torn[d])  # two old files + the compacted one

    fresh = str(tmp_path / "tri_crash_fresh")
    write_trigram_index(docs, fresh)
    got, want = _matches(spark, path, docs, pats), _matches(spark, fresh, docs, pats)
    assert got == want and len(got) > 0
    healed = _dirs(path, "tri_p2")
    for d in crossing:
        assert len(healed[d]) == 1 and healed[d][0].startswith("compact-"), healed[d]
    assert not glob.glob(os.path.join(path, "_pending_append_*"))
    assert not glob.glob(os.path.join(path, "_append_*"))


def test_trigram_compact_orphan_staging_leaves_dirs_unchanged(
    spark, digit_corpus, tmp_path, monkeypatch
):
    """A crash after the staged write but before the manifest commit
    leaves an orphan staging dir and no manifest. Every dir stays
    byte-identical, serves answer as before, and the heal loop drops
    the orphan once its grace window has passed."""
    docs, pats = digit_corpus
    path = str(tmp_path / "tri_orphan")
    _appended_trigram(docs, path)
    before = _file_bytes(path, "tri_p2")
    want = _matches(spark, path, docs, pats)

    def crash_before_commit(*args, **kwargs):
        raise RuntimeError("simulated crash before the manifest")

    monkeypatch.setattr(index_store, "_commit_staging", crash_before_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_trigram_index(spark, path, small_file_threshold=1)
    monkeypatch.undo()
    orphans = glob.glob(os.path.join(path, "_append_*"))
    assert len(orphans) == 1
    assert not glob.glob(os.path.join(path, "_pending_append_*"))

    assert _matches(spark, path, docs, pats) == want
    assert _file_bytes(path, "tri_p2") == before

    stale = 2 * index_store._APPEND_GC_GRACE_S
    for root, _dirs_, files in os.walk(orphans[0]):
        for f in files:
            p = os.path.join(root, f)
            os.utime(p, (os.path.getatime(p) - stale, os.path.getmtime(p) - stale))
    assert _matches(spark, path, docs, pats) == want
    assert not os.path.exists(orphans[0])
    assert _file_bytes(path, "tri_p2") == before


def _compact_per_dir(spark, table, part_col, key, scratch):
    """The per-dir shape the shared helper replaced: one read ->
    coalesce(1) -> sort -> write job per over-threshold dir."""
    for d in sorted(glob.glob(os.path.join(table, f"{part_col}=*"))):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if len(files) <= 1:
            continue
        staged = os.path.join(scratch, os.path.basename(d))
        (
            spark.read.parquet(*files)
            .coalesce(1)
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(staged)
        )
        for f in files:
            os.remove(f)
        for s in glob.glob(os.path.join(staged, "part-*.parquet")):
            shutil.move(s, os.path.join(d, "compact-" + os.path.basename(s)))


def _rows(f):
    return [
        tuple(tuple(v) if isinstance(v, list) else v for v in r.values())
        for r in pq.ParquetFile(f).read().to_pylist()
    ]


@pytest.mark.parametrize(
    "store,table,part_col,part_type,key",
    [
        ("trigram", "", "tri_p2", "string", "tri"),
        ("minhash", "postings", "bp", "integer", "band_key"),
        ("minhash", "sets", "dp", "integer", "doc"),
    ],
)
def test_one_job_compaction_matches_per_dir_shape(
    spark, digit_corpus, tmp_path, store, table, part_col, part_type, key
):
    """Two identical copies of an appended index, one compacted dir by
    dir and one by the shared one-job helper, hold the same rows in
    every dir, one file per dir, and keys sorted within every file the
    pass rewrote (a dir left at one file keeps the file as written)."""
    src = str(tmp_path / "src")
    if store == "trigram":
        _appended_trigram(digit_corpus[0], src)
    else:
        _appended_minhash(spark, src)
    old_root, new_root = str(tmp_path / "per_dir"), str(tmp_path / "one_job")
    shutil.copytree(src, old_root)
    shutil.copytree(src, new_root)
    old_table = os.path.join(old_root, table)
    new_table = os.path.join(new_root, table)
    compacted = {d for d, files in _dirs(new_table, part_col).items() if len(files) > 1}

    _compact_per_dir(spark, old_table, part_col, key, str(tmp_path / "staged"))
    stats = _compact_partition_dirs(
        spark, new_root, index_store.Table(table, part_col, part_type, key), 1, None
    )
    assert stats["dirs_compacted"] == len(compacted) > 0

    old_dirs, new_dirs = _dirs(old_table, part_col), _dirs(new_table, part_col)
    assert set(old_dirs) == set(new_dirs)
    for d in new_dirs:
        assert len(old_dirs[d]) == 1 and len(new_dirs[d]) == 1, d
        new_rows = _rows(os.path.join(new_table, d, new_dirs[d][0]))
        old_rows = _rows(os.path.join(old_table, d, old_dirs[d][0]))
        assert sorted(new_rows) == sorted(old_rows), d
        if d in compacted:
            col = pq.read_schema(os.path.join(new_table, d, new_dirs[d][0])).names.index(key)
            keys = [r[col] for r in new_rows]
            assert keys == sorted(keys), d


def _ingest_docs(spark, ids, seed):
    """Documents at the index-ingest benchmark's shape: 10-100 words
    over an 8-word vocabulary (about 40 trigram prefix dirs)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(["slow", "filter", "hash", "stream", "batch", "window", "a", "the"])
    return spark.createDataFrame(
        [(i, " ".join(vocab[rng.integers(0, 8, rng.integers(10, 101))])) for i in ids],
        "doc_id long, text string",
    )


def test_build_and_append_files_sorted_on_key(spark, tmp_path):
    """Every file a build or an uncompacted append writes is sorted on
    its dir's key, not only the files a compaction rewrote: the planned
    write must not re-sort a task on the partition column alone."""
    base, batch = _ingest_docs(spark, range(400), 0), _ingest_docs(spark, range(400, 410), 1)
    tri, mh = str(tmp_path / "tri"), str(tmp_path / "mh")
    write_trigram_index(base, tri)
    append_trigram_index(batch, tri, auto_compact_threshold=None)
    write_minhash_index(base, mh, **MH_DIALS)
    append_minhash_index(batch, mh, auto_compact_threshold=None, **MH_DIALS)

    for table, part_col, key in (
        (tri, "tri_p2", "tri"),
        (os.path.join(mh, "postings"), "bp", "band_key"),
        (os.path.join(mh, "sets"), "dp", "doc"),
    ):
        files = glob.glob(os.path.join(table, f"{part_col}=*", "*.parquet"))
        assert any(os.path.basename(f).startswith("app-") for f in files), table
        for f in files:
            keys = pq.read_table(f, columns=[key]).column(key).to_pylist()
            assert keys == sorted(keys), f
