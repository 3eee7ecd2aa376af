"""The crash-safe store under the persisted MinHash and trigram indexes.

An index is a root directory holding one or more parquet tables, each
partitioned by one column into a FIXED fan-out of ``<col>=<value>``
dirs and sorted on one key inside every file, plus a stamp,
``_index_params.json``: the build dials every probe and append must
agree with (a probe under other dials silently misses matches) and,
for the MinHash index, whole-index totals the probe's byte gate trusts
as an upper bound. Each index module describes its tables as
:class:`Table` rows, derives its postings, and hands both to an
:class:`IndexStore`, the only code that writes an index: one path per
operation, :meth:`IndexStore.build`, :meth:`IndexStore.append` and
:meth:`IndexStore.compact`.

Stamp
-----
The stamp is written durably (temp write + fsync + ``os.replace``, so
a torn write never leaves a parseable-but-wrong file), and only by a
build or an append, so every stamp carries its kind's stats. A build
removes the old stamp before its first table write and stamps the
dials and the stats after its last, so a torn rebuild leaves an
unstamped index that every probe and append refuses, never an old
stamp over new tables. It also drops the manifest and staging dir of
any interrupted swap before that write, so no heal replays an old
batch into the new tables. An append sums its batch's stats onto the
stamp BEFORE its commit, so a crash in between overcounts
(conservative: the probe then at worst measures its sliver itself),
never undercounts.

Staged swap, heal order
-----------------------
An append and a compaction pass go through one staged swap
(:func:`_staged_swap`). It writes into a Spark-invisible
``_append_<tag>`` staging dir whose ``.inprogress`` marker is written
before any staging write. It then records every move (and, for a
compaction, every replaced small file) in ONE fsync'd, atomically
renamed ``_pending_append_<tag>.json`` manifest and executes it: moves
first, then deletions, then the manifest's removal. Destination names
are fixed in the manifest (``app-<tag>-`` / ``compact-<tag>-`` plus
the staged part name), so every probe, append and compaction first
replays any manifest it finds to completion (``os.replace`` is
idempotent). Moves before deletes means a crash never opens a
missing-rows window, and the duplicate window (compacted file moved,
originals not yet deleted) closes before any read. A crash before the
manifest commit leaves the live index untouched: its staging dir was
never referenced.

Concurrency: one writer, many probes
------------------------------------
ONE writer (build, append or compaction) at a time per index; probes
may run beside an append or a compaction. A probe's heal may replay
the manifest the writer just committed, so every executor of a
manifest tolerates finding a step already done (a moved source, a
deleted file, a removed manifest) and all of them converge on the same
layout. The heal loop's garbage collection of staging dirs respects a
live writer: a dir is an orphan only if it has no marker (a crash
before the marker) or if every file under it has been silent for
:data:`_APPEND_GC_GRACE_S`. Liveness is the NEWEST mtime under the
dir, not the marker's: a staging write that outlives the grace window
keeps producing part files, and judging by the marker alone would
sweep it mid-write. Two writers racing one index are outside the
contract, as for any single-writer table format without a lock
service. Compaction DELETES the files it replaced, so a probe that
planned its scan before the swap can see a vanished file; appends
alone are purely additive. An ingest loop that enables
auto-compaction accepts that window, the same one any manual
compaction opens; probes re-plan on their next call.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from typing import Callable, NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from .readers import from_records

#: filename of the stamp; the underscore prefix keeps it invisible to
#: parquet directory readers.
PARAMS_FILE = "_index_params.json"

#: staging dirs whose newest file is younger than this are NOT
#: garbage-collected by the heal loop: a live writer may still be
#: writing into them.
_APPEND_GC_GRACE_S = 3600.0


def read_stamp(path: str) -> dict | None:
    """The index's stamped dials and stats, or None if unstamped."""
    try:
        with open(os.path.join(path, PARAMS_FILE)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def write_stamp(path: str, params: dict) -> None:
    """Durably replace the stamp: temp write + fsync + ``os.replace``."""
    dst = os.path.join(path, PARAMS_FILE)
    with open(dst + ".tmp", "w") as fh:
        json.dump(params, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(dst + ".tmp", dst)


class Table(NamedTuple):
    """One partitioned table of an index."""

    rel: str  # dir under the index root; "" is the root itself
    part_col: str
    part_type: str  # the partition column's stored Spark type
    key: str  # sort key inside every file

    def dir(self, root: str) -> str:
        return os.path.join(root, self.rel) if self.rel else root

    def write(self, df: DataFrame, root: str, n_parts=None) -> None:
        """Write ``df`` as this table under ``root``. Repartitioning on
        the partition column BEFORE the partitioned write puts each dir
        in one task, so a write leaves about one file per dir; without
        it every write task emits a file into every dir (tasks x dirs
        tiny files, measured 5x serve-side listing and open overhead).
        Sorting on (partition column, key) satisfies the planned
        write's required ordering; a key-only sort gets re-sorted on
        the partition column alone, which loses the key order inside
        the files that the probes' row-group min/max pruning relies on.
        """
        parts = (
            df.repartition(self.part_col)
            if n_parts is None
            else df.repartition(n_parts, self.part_col)
        )
        (
            parts.sortWithinPartitions(self.part_col, self.key)
            .write.partitionBy(self.part_col)
            .mode("overwrite")
            .parquet(self.dir(root))
        )

    def read(self, spark, root: str, values=None) -> DataFrame:
        """This table under ``root``, at zero plan-time jobs: only the
        ``<part_col>=<v>`` dirs of ``values`` (their names after the
        ``=``) that exist, every dir when None, listed on the driver and
        read with ``basePath`` and an explicit schema: one footer's
        columns plus ``part_col`` as its stored ``part_type``.
        Re-inferring the type from dir names would turn ``tri_p2=01``
        into ``tri_p2=1``, and a plain read lists every dir and runs a
        schema-inference job. Call it after :meth:`IndexStore.open` has
        healed any interrupted swap, so no committed dir is missed. No
        existing dir gives an empty frame of the same schema. Spark
        lists more than 32 dirs (``parallelPartitionDiscovery.threshold``)
        in a job of its own."""
        table = self.dir(root)
        if values is None:
            dirs = sorted(glob.glob(os.path.join(table, f"{self.part_col}=*")))
        else:
            dirs = [os.path.join(table, f"{self.part_col}={v}") for v in sorted(set(values))]
        dirs = [d for d in dirs if os.path.isdir(d)]
        # a footer from the first read dir, else from any dir of the table
        where = dirs[0] if dirs else os.path.join(table, f"{self.part_col}=*")
        footer = next(glob.iglob(os.path.join(where, "*.parquet")), None)
        if footer is None:
            raise FileNotFoundError(f"no parquet file under {where}")
        schema = from_arrow_schema(pq.read_schema(footer)).add(
            self.part_col, self.part_type
        )
        if not dirs:
            return from_records(spark, [], schema)
        return spark.read.schema(schema).option("basePath", table).parquet(*dirs)


class IndexStore(NamedTuple):
    """The store of one index kind: its name (``write_<name>_index``)
    and its tables."""

    name: str
    tables: tuple[Table, ...]

    def check(self, path: str, dials: dict, caller: str) -> dict:
        """Check ``dials`` against the stamp and return the stamp; raise
        on a mismatch or a missing stamp instead of letting ``caller``
        silently miss matches."""
        built = read_stamp(path)
        if built is None:
            raise FileNotFoundError(
                f"{caller}: no {PARAMS_FILE} under {path} — not a "
                f"write_{self.name}_index layout, or a build that did not "
                "finish; rebuild the index"
            )
        mismatched = {
            k: (built.get(k), v) for k, v in dials.items() if built.get(k) != v
        }
        if mismatched:
            raise ValueError(
                f"{caller}: index at {path} was built with different dials "
                f"than this call (built, called): {mismatched} — a probe "
                "with mismatched dials silently misses matches; pass the "
                "build's dials or rebuild the index"
            )
        return built

    def open(self, path: str, dials: dict, caller: str) -> dict:
        """Check the stamp, then heal any interrupted swap: what every
        probe, serve and append does before it reads the index. Returns
        the stamp."""
        built = self.check(path, dials, caller)
        _heal_pending_appends(path)
        return built

    def build(self, path: str, dials: dict, stage: Callable[[str], dict | None]) -> None:
        """Write the index at ``path`` afresh: ``stage(path)`` writes
        (overwrites) its tables and returns its stats (None: it has
        none), stamped beside ``dials``. The old stamp, then any
        manifest and staging dir of an interrupted swap, go before the
        first table write (see the module docstring)."""
        for pattern in (PARAMS_FILE, "_pending_append_*", "_append_*"):
            for stale in glob.glob(os.path.join(path, pattern)):
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
                else:
                    os.remove(stale)
        write_stamp(path, {**dials, **(stage(path) or {})})

    def append(
        self,
        path: str,
        dials: dict,
        stage: Callable[[str], dict | None],
        derived_any: Callable[[dict], bool],
        auto_compact_threshold: int | None,
    ) -> tuple[list[int], list[str]]:
        """Fold a batch into the index by the staged swap.
        ``stage(root)`` writes the batch's tables under ``root`` and
        returns its stats (None: it has none); ``derived_any(stats)``
        says whether the batch derived any rows at all. Returns (files
        appended per table, the dirs the batch touched that now hold
        ``auto_compact_threshold`` files or more, for the caller to
        compact; none when the threshold is None)."""
        caller = f"append_{self.name}_index"
        prev = self.open(path, dials, caller)

        def stamp(stats, moves):
            stats = stats or {}
            if not moves:
                # a batch that derives no rows (every text too short) is a
                # true no-op; one that does but staged nothing was lost
                if derived_any(stats):
                    raise RuntimeError(
                        f"{caller}: batch with a non-empty derivation staged "
                        f"zero files under {path} — refusing the "
                        "success-shaped empty commit"
                    )
                return None
            if stats:
                write_stamp(path, {**prev, **{k: prev[k] + v for k, v in stats.items()}})
            return ()

        moves = _staged_swap(path, self.tables, "app", stage, stamp)
        counts = [len(ms) for ms in moves]
        if auto_compact_threshold is None:
            return counts, []
        # only the touched dirs that crossed the threshold: counting them
        # costs O(batch dirs), and compacting them never rewrites the index
        touched = sorted({os.path.dirname(dst) for ms in moves for _, dst in ms})
        return counts, [
            d for d in touched
            if len(glob.glob(os.path.join(d, "*.parquet"))) >= auto_compact_threshold
        ]

    def compact(self, spark, path: str, small_file_threshold: int, only_dirs) -> dict:
        """Heal, then one :func:`_compact_partition_dirs` pass per table.
        Returns the summed {"dirs_compacted", "files_before",
        "files_after"}."""
        _heal_pending_appends(path)
        passes = [
            _compact_partition_dirs(spark, path, t, small_file_threshold, only_dirs)
            for t in self.tables
        ]
        return {k: sum(p[k] for p in passes) for k in passes[0]}


def _heal_pending_appends(path: str) -> None:
    """Replay every committed manifest under the index dir ``path`` to
    completion, then drop staging orphans (see the module docstring for
    the order and the grace rule)."""
    for manifest in sorted(glob.glob(os.path.join(path, "_pending_append_*.json"))):
        # replay through the writer's own executor: the writer or another
        # probe may be executing the same plan right now. A manifest that
        # vanishes between glob and open was fully replayed by whoever
        # removed it (removal is the plan's LAST step).
        try:
            with open(manifest) as fh:
                m = json.load(fh)
        except FileNotFoundError:
            continue
        _commit_manifest_swap(manifest, m["moves"], m.get("delete", []))
        shutil.rmtree(m["tmp_dir"], ignore_errors=True)
    # orphans from a crash BEFORE the manifest commit are garbage, but an
    # in-flight writer's staging is live, not orphaned
    for stray in glob.glob(os.path.join(path, "_pending_append_*.json.tmp")):
        os.remove(stray)
    now = time.time()
    for stray in glob.glob(os.path.join(path, "_append_*")):
        if not os.path.exists(os.path.join(stray, ".inprogress")):
            shutil.rmtree(stray, ignore_errors=True)  # pre-marker crash
            continue
        newest, churn = 0.0, False
        for root, _dirs, files in os.walk(stray):
            for f in files:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(root, f)))
                except OSError:
                    churn = True  # file vanished mid-walk: a live writer
        if churn or now - newest < _APPEND_GC_GRACE_S:
            continue
        shutil.rmtree(stray, ignore_errors=True)


def _commit_manifest_swap(manifest_path: str, moves, delete=()) -> None:
    """Execute a committed manifest: moves, then deletions, then the
    manifest's removal. Every step tolerates finding its target already
    done by a concurrent executor (a missing source was already moved,
    a missing delete target is already gone), so a writer never reports
    failure for a swap a probe's heal finished first."""
    for src, dst in moves:
        try:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
        except FileNotFoundError:
            pass
    for old in delete:
        try:
            os.remove(old)
        except FileNotFoundError:
            pass
    try:
        os.remove(manifest_path)
    except FileNotFoundError:
        pass


def _staged_swap(root: str, tables, prefix: str, stage, before_commit) -> list[list]:
    """The one staged swap of an append and a compaction pass under the
    index dir ``root``. Opens a marked staging dir; ``stage(staged)``
    writes ``tables`` under ``staged``; each staged part file is named
    for its destination, ``<prefix>-<tag>-<part>`` in the same dir of
    the live table. A staging dir swept while it was written commits
    nothing. ``before_commit(staged's result, moves)`` then returns the
    files the swap replaces, or None to drop the staging and commit
    nothing; otherwise one manifest commits the moves and deletions.
    Returns the moves per table."""
    tag = uuid.uuid4().hex[:12]
    tmp = os.path.join(root, f"_append_{tag}")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(tmp, ".inprogress"), "w") as fh:
        fh.write(tag)
    staged = os.path.join(tmp, "staged")
    out = stage(staged)
    # destination names are fixed NOW (a replay lands the same files in
    # the same places); the tag keeps swaps from colliding
    moves = [
        [
            (src, os.path.join(t.dir(root), os.path.basename(os.path.dirname(src)),
                               f"{prefix}-{tag}-{os.path.basename(src)}"))
            for src in sorted(
                glob.glob(os.path.join(t.dir(staged), f"{t.part_col}=*", "part-*.parquet"))
            )
        ]
        for t in tables
    ]
    if not os.path.exists(os.path.join(tmp, ".inprogress")):
        raise RuntimeError(
            f"staging dir {tmp} was swept while it was written: nothing "
            "committed, retry (one writer per index)"
        )
    landed = [m for ms in moves for m in ms]
    delete = before_commit(out, landed)
    if delete is None:
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        _commit_staging(root, tag, tmp, landed, delete)
    return moves


def _commit_staging(root: str, tag: str, tmp: str, moves, delete=()) -> None:
    """Record every move and deletion of a staged swap in ONE fsync'd,
    atomically renamed ``_pending_append_<tag>.json`` manifest, execute
    it, then drop the staging dir."""
    manifest_path = os.path.join(root, f"_pending_append_{tag}.json")
    with open(manifest_path + ".tmp", "w") as fh:
        json.dump({"moves": moves, "tmp_dir": tmp, "delete": list(delete)}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(manifest_path + ".tmp", manifest_path)
    _commit_manifest_swap(manifest_path, moves, delete=delete)
    shutil.rmtree(tmp, ignore_errors=True)


def _compact_partition_dirs(
    spark, root: str, t: Table, small_file_threshold, only_dirs
) -> dict:
    """Rewrite every dir of the index table ``t`` (under the index dir
    ``root``) holding more than ``small_file_threshold`` files — only
    those in ``only_dirs`` when given — into ONE file sorted on
    ``t.key``: one :meth:`Table.write` of the selected dirs, read at
    once through :meth:`Table.read` (which keeps the partition column
    at its stored type), committed by one :func:`_staged_swap`, not a
    job per dir. The write's repartition on the partition column puts
    each dir in one task, so it leaves one sorted file per dir (under
    AQE the shuffle's map stage is a job of its own). After a crash
    every dir of the pass is fully old or fully new; unselected dirs
    are never touched, and a pass with nothing to do runs no job.

    Returns {"dirs_compacted", "files_before", "files_after"}."""
    only = None if only_dirs is None else {os.path.normpath(d) for d in only_dirs}
    picked = {}
    files_before = files_after = 0
    for part_dir in sorted(glob.glob(os.path.join(t.dir(root), f"{t.part_col}=*"))):
        if not os.path.isdir(part_dir):
            continue
        if only is not None and os.path.normpath(part_dir) not in only:
            continue
        files = sorted(glob.glob(os.path.join(part_dir, "*.parquet")))
        files_before += len(files)
        if len(files) <= small_file_threshold:
            files_after += len(files)
        else:
            picked[os.path.basename(part_dir)] = files
    stats = {"dirs_compacted": len(picked), "files_before": files_before}
    if not picked:
        return {**stats, "files_after": files_after}

    def replaced(_out, moves):
        for _src, dst in moves:
            part_dir = os.path.basename(os.path.dirname(dst))
            if part_dir not in picked:
                raise RuntimeError(
                    f"compaction of {t.dir(root)} staged {part_dir!r}, not a "
                    "selected dir (partition values did not round-trip); "
                    "nothing committed"
                )
        return [f for fs in picked.values() for f in fs]

    values = [d.split("=", 1)[1] for d in picked]
    (moves,) = _staged_swap(
        root, (t,), "compact",
        lambda staged: t.write(t.read(spark, root, values), staged),
        replaced,
    )
    return {**stats, "files_after": files_after + len(moves)}
