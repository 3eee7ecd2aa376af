"""SparkSession factory and the lifetime of driver-side resources.

Replaces the reference's config-file/env-var bootstrap (reference
``etl.py:15-33``, ``config.cfg``) with a builder-first factory: AQE on,
UTC session timezone (required for oracle comparison against DuckDB's
UTC-naive timestamps), Arrow enabled for the pandas interchange path,
and shuffle partitions sized to the local core count rather than the
200 default.

A driver JVM that :func:`get_spark` launches starts from a static
class-data-sharing (CDS) archive, the JVM's pre-parsed classes mapped
from a file, which cuts a cold session start from about 3.0 to 1.6 s
at 4 cores. The first session without a matching archive runs as it
would without one, except that its JVM lists the classes it loads
(``-XX:DumpLoadedClassList``, about 0.07 s of a 3 s start). At
interpreter exit, after that JVM is gone, a separate ``java
-Xshare:dump`` turns the list into the archive (about 160 MB; 19 s and
0.9 GB at 4 cores, once per key), and later sessions map it
(``-XX:SharedArchiveFile``). Recording with
``-XX:ArchiveClassesAtExit`` instead slowed the recording session
itself: ``star_etl`` ``setup_s`` 3.2 -> 4.4 s.

- **Where.** ``$XDG_CACHE_HOME/spark-graft/jvm/``, or
  ``~/.cache/spark-graft/jvm/`` when the variable is unset; never
  inside the checkout. Clear it with ``rm -r ~/.cache/spark-graft/jvm``.
  Mapping an archive touches it; promoting a new one deletes archives of
  other keys untouched for ``_STALE_S``.
- **Key.** A hash of the ``java`` binary's realpath and its ``release``
  file, the ``$SPARK_HOME/jars`` listing (name, size, mtime),
  ``spark.jars``, ``spark.driver.extraClassPath``, ``PYSPARK_SUBMIT_ARGS``
  and whether the heap is under 32 GiB: the JVM rejects an archive
  dumped under the other compressed-oops mode (tests run 4g heaps,
  perfbench 2g, ``bench.py`` 48g).
- **Off** when no JVM is launched (an existing gateway), when the caller
  passes its own CDS option, when Spark's conf dir holds real config
  (CDS rejects a non-empty directory on the classpath), when
  ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or ``SPARK_DIST_CLASSPATH`` add to
  the classpath, or when the cache is not writable.
  Such a process launches exactly as it would without this code.
  Otherwise Spark's conf dir holds only ``*.template`` files (or is
  missing), and the launch alone sees ``SPARK_CONF_DIR`` pointed at an
  empty dir in the cache.
- **Promotion.** A truncated archive crashes the JVM that maps it
  (SIGBUS), so the dump writes ``<key>.<pid>.part`` and the process that
  ran it renames that to ``<key>.jsa`` only after both its driver JVM
  and the dump exited with status 0. Sessions map only the renamed
  file; a later start deletes ``.part`` and ``.classlist`` files whose
  process is gone.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import json
import os
import shutil
import subprocess
import time
from contextlib import contextmanager, suppress
from contextvars import ContextVar

from py4j.protocol import Py4JError
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "capstone-spark-engine",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. In local
    mode the driver is the only JVM, so ``driver_memory`` is the single
    memory knob that matters.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Spark keeps persisted plans out of AQE partition coalescing by
        # default, so a persist() over a 10-row batch holds all
        # shuffle.partitions partitions and every Arrow kernel over it
        # runs that many (mostly empty) Python tasks. Let AQE size them
        # like any other plan: the band-key kernel over the persisted
        # shingle sets of a 10-doc batch ran 65 tasks at 32 shuffle
        # partitions without this, 3 with it (local[4]).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Shuffle-partition count must SCALE WITH DATA, not stay pinned
        # at the core count: the r8 1000x run OOM'd the SMJ sort in
        # star_join_agg (600M-row join / 32 partitions = 19M rows per
        # task sort, x32 concurrent tasks > 48g heap). The dial is
        # SPARK_GRAFT_SHUFFLE_PARTITIONS (read above), sized so a
        # partition's sort fits task memory at the target SF — 512 for
        # the .scratch/sf100 run (~1.2M rows/task); a 1000-executor
        # cluster would run thousands. MEASURED NEGATIVE RESULT kept
        # for the record: setting adaptive coalescePartitions.
        # initialPartitionNum=2048 instead (the "AQE will coalesce it
        # back" shape) cost minhash_pairs 2.35 -> 40.2 s at sf0.1 —
        # its Arrow/Python kernels read persisted plans, which Spark
        # kept out of AQE coalescing, so 2048-task waves of ~5 ms
        # Python worker round-trips dominated. The
        # canChangeCachedPlanOutputPartitioning setting above lifts
        # that exclusion. AQE coalescing starts from
        # shuffle.partitions here, so the env dial keeps fixture plans
        # identical while scale runs raise the ceiling explicitly.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Bucketed scans hide their sortBy order since Spark 3.0
        # (SPARK-28595) unless this is set AND each bucket holds
        # exactly one file — without it every bucket-co-located SMJ
        # re-SORTS both sides at read time, which at the 1000x tier
        # made the bucketed star join 1.8x SLOWER than the plain plan
        # (120 s vs 66 s: exchange-free is not sort-free). Writers
        # guarantee the one-file-per-bucket precondition by keyed
        # repartition before bucketBy (sources/writers.write_bucketed);
        # with multiple files per bucket Spark just keeps the sort, so
        # the flag is never a correctness risk.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # ObjectHashAggregate (collect_set/collect_list — the digest-
        # set builds behind every dedup operator) falls back to SORT-
        # BASED aggregation after only 128 distinct keys per task by
        # default, turning a linear hash aggregation into an
        # O(n log n) sort with spills: measured 5x on 60-bit-digest
        # set builds at 500k-doc scale (simhash 22s -> 4s). 1M keys
        # per task keeps the hash path for any realistic groups-per-
        # task fan-in while still capping worst-case task memory.
        .config(
            "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold",
            "1000000",
        )
    )
    conf = dict(extra_conf or {})
    with _class_data_sharing(conf, driver_memory) as java_opts:
        if java_opts:
            conf["spark.driver.defaultJavaOptions"] = java_opts
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Longest wait, in s, at interpreter exit for the driver JVM to exit.
_EXIT_WAIT_S = 60
#: Longest run, in s, of the archive dump (19 s for 13k classes at 4
#: cores: ``-Xshare:dump`` runs without the JIT).
_DUMP_WAIT_S = 180
#: Promoting an archive deletes those of other keys untouched this long.
_STALE_S = 30 * 24 * 3600
#: A caller passing any of these manages class-data sharing itself.
_CDS_OPTIONS = (
    "-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-XX:DumpLoadedClassList", "-Xshare"
)
#: Spark's launcher puts these on the driver classpath: a conf dir there
#: fails the dump, and the key does not cover what they list.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")

#: What the driver JVM this process launched does with an archive:
#: "mapped", "recorded" (it lists its classes for a dump at exit), or
#: "none" (no archive, or no JVM launched here).
DRIVER_ARCHIVE = "none"


def _heap_bytes(size: str) -> int:
    """A Spark memory string ("4g", "512m"; bare numbers are MiB) in bytes."""
    s = size.strip().lower().rstrip("b")
    scale = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s[-1:] in scale:
        return int(float(s[:-1]) * scale[s[-1]])
    return int(float(s)) << 20


def _archive_key(spark_home: str, conf: dict, driver_memory: str) -> str:
    """Hash of what decides whether a recorded archive fits a launch,
    read without starting a JVM (see the module docstring)."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    java = os.path.realpath(java or "java")
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release")) as f:
            release = f.read()
    except OSError:
        release = ""
    jars_dir = os.path.join(spark_home, "jars")
    jars = sorted(
        (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(jars_dir)
    )
    terms = [
        java,
        release,
        jars,
        conf.get("spark.jars", ""),
        conf.get("spark.driver.extraClassPath", ""),
        os.environ.get("PYSPARK_SUBMIT_ARGS", ""),
        _heap_bytes(driver_memory) < 32 << 30,
    ]
    return hashlib.sha256(json.dumps(terms).encode()).hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass  # alive, owned by another user
    return True


def _record_archive(
    proc, classlist: str, final: str, java: str, classpath: str, coops: bool
) -> None:
    """At interpreter exit: end the driver JVM (it exits when its stdin
    closes), dump the classes it listed into ``<key>.<pid>.part`` with a
    separate ``java -Xshare:dump``, and publish that as ``final`` only if
    both exited with 0. A dump killed midway is never renamed, and its
    truncated ``.part`` is deleted. No dump runs when another process
    published ``final`` meanwhile. A context still running is stopped
    first, as the JVM's shutdown hook would stop it, so that its
    accumulator server does not see the JVM vanish while this process
    waits."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if proc.stdin is not None:
        proc.stdin.close()
    part = f"{final[:-4]}.{os.getpid()}.part"
    # the dump's own heap only has to keep the archive's compressed-oops mode
    heap = ["-Xmx1g", "-XX:+UseCompressedOops"] if coops else ["-XX:-UseCompressedOops"]
    try:
        if proc.wait(timeout=_EXIT_WAIT_S) != 0 or os.path.exists(final):
            return
        dump = subprocess.run(
            [java, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
             f"-XX:SharedArchiveFile={part}", *heap, "-XX:-UsePerfData", "-Xlog:all=off",
             "-cp", classpath],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=_DUMP_WAIT_S,
        )
        if dump.returncode != 0:
            return
        os.replace(part, final)
        for other in glob.glob(os.path.join(os.path.dirname(final), "*.jsa")):
            if other != final and os.path.getmtime(other) < time.time() - _STALE_S:
                os.remove(other)
    except (OSError, subprocess.TimeoutExpired):
        pass  # no archive this time; the next session records again
    finally:
        for f in (part, classlist):
            if os.path.exists(f):
                os.remove(f)


def _archive_plan(conf: dict, driver_memory: str):
    """``(option, classlist, final)`` for the driver JVM about to be
    launched: map ``final`` (``classlist`` None), or list its classes
    into ``classlist`` for a dump to ``final`` at exit. None when it gets
    no archive (see the module docstring)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    caller = " ".join(
        conf.get(f"spark.driver.{k}JavaOptions", "") for k in ("default", "extra")
    )
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or any(o in caller for o in _CDS_OPTIONS)
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
    ):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    root = os.path.join(cache, "spark-graft", "jvm")
    empty_conf = os.path.join(root, "conf")
    try:
        if os.path.isdir(conf_dir) and not all(
            n.endswith(".template") for n in os.listdir(conf_dir)
        ):
            return None  # real config; CDS rejects a non-empty classpath dir
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(root, os.W_OK):
            return None
        key = _archive_key(spark_home, conf, driver_memory)
        # <key>.<pid>.part and <key>.<pid>.classlist of a process now gone
        for stray in glob.glob(os.path.join(root, "*.*.*")):
            pid = os.path.basename(stray).split(".")[1]
            if pid.isdigit() and not _pid_alive(int(pid)):
                os.remove(stray)
        final = os.path.join(root, key + ".jsa")
        if os.path.exists(final):
            with suppress(OSError):  # another user's archive maps all the same
                os.utime(final)  # in use: not stale
            return f"-XX:SharedArchiveFile={final}", None, final
    except (OSError, ValueError):
        return None  # an unusable cache or memory string
    classlist = os.path.join(root, f"{key}.{os.getpid()}.classlist")
    return f"-XX:DumpLoadedClassList={classlist}", classlist, final


@contextmanager
def _class_data_sharing(conf: dict, driver_memory: str):
    """Yield the ``spark.driver.defaultJavaOptions`` (the caller's, with
    the CDS options in front) for a driver JVM launched inside the
    block, with ``SPARK_CONF_DIR`` pointed at the cache's empty conf
    dir; or None, changing nothing, when it gets no archive."""
    global DRIVER_ARCHIVE
    from pyspark import SparkContext

    plan = _archive_plan(conf, driver_memory)
    if plan is None:
        yield None
        return
    option, classlist, final = plan
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(final), "conf")
    try:
        caller = conf.get("spark.driver.defaultJavaOptions", "")
        yield f"{option} -Xlog:cds=off {caller}".strip()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    if classlist is None:
        DRIVER_ARCHIVE = "mapped"
        return
    DRIVER_ARCHIVE = "recorded"
    # the dump runs the JVM the driver ran, on the classpath it ran with
    system = SparkContext._jvm.java.lang.System
    java = os.path.join(system.getProperty("java.home"), "bin", "java")
    classpath = system.getProperty("java.class.path")
    coops = _heap_bytes(driver_memory) < 32 << 30
    atexit.register(_record_archive, proc, classlist, final, java, classpath, coops)


def prep_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable determinism/perf conf to an externally
    provided session (the verify driver hands us its own session).

    Only touches conf that is safe to flip at runtime: session timezone
    (UTC, so collected timestamps agree with DuckDB's UTC-naive ones),
    AQE (including coalescing of persisted plans), and Arrow collection.
    """
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE coalesce persisted plans too (see get_spark)
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        # an externally-built session usually still carries the 200
        # default — wrong in both directions (local smoke and huge
        # clusters); AQE coalescing then shrinks as needed
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)
            )
        # keep collect_set/collect_list on the hash-aggregation path
        # (see get_spark): the 128-key default forces a sort fallback
        spark.conf.set(
            "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold",
            "1000000",
        )
    except Exception:
        pass  # a read-only conf should never break a query
    return spark


#: Longest wait, in ms, for the listener bus to deliver an executed
#: action's observed metrics (see :func:`observed_metrics`).
_OBSERVED_DRAIN_MS = 10_000


def observed_metrics(obs) -> dict | None:
    """Read an ``Observation``'s metrics as a dict, or None when its
    CollectMetrics node never produced a row: the observed subtree was
    folded away before execution (an empty input relation), or no
    action ran it. ``Observation.get`` would then block forever in
    PySpark 4.1, so this reads the JVM Observation's ``getRowOrEmpty()``,
    which waits at most 100 ms. The metrics of an executed action reach
    the Observation through a listener on the asynchronous listener bus,
    which may deliver them after the action has returned (3 of 60
    actions on an idle ``local[4]`` session, and later than 100 ms
    when the bus is backed up), so an Observation not yet complete
    first waits for the bus to drain, for at most
    ``_OBSERVED_DRAIN_MS``. Callers fall back to a measurement on None,
    never to a guess."""
    from pyspark import SparkContext
    from pyspark.serializers import CPickleSerializer

    try:
        sc = SparkContext._active_spark_context
        if sc is not None and not obs._jo.future().isCompleted():
            try:
                sc._jsc.sc().listenerBus().waitUntilEmpty(_OBSERVED_DRAIN_MS)
            except Exception:
                pass  # not drained in time: the bounded read below decides
        row = obs._jo.getRowOrEmpty()
        if row.isEmpty():
            return None
        utils = getattr(obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
        return CPickleSerializer().loads(utils.toPyRow(row.get())).asDict()
    except Exception:
        return None


class ResourceScope:
    """The broadcasts, persisted frames and local checkpoints that
    :func:`hold` registered while this scope was the innermost open
    one. A checkpoint is held by its RDD id only, so the garbage
    collector still frees the blocks of a frame nothing references
    (an iterative operator's earlier rounds) before the scope closes."""

    def __init__(self) -> None:
        self.held: list = []

    def release(self) -> bool:
        """Destroy the held broadcasts, unpersist the held frames and
        checkpoint RDDs; True if anything was held. Releasing what is
        already released is a no-op. ``list.pop`` is atomic, so threads
        holding into the root scope while it is released lose nothing."""
        released = False
        while True:
            try:
                x = self.held.pop()
            except IndexError:
                return released
            released = True
            try:
                if isinstance(x, Broadcast):
                    x.destroy()
                elif isinstance(x, DataFrame):
                    x.unpersist()
                else:
                    jsc, rdd_id = x
                    rdd = jsc.getPersistentRDDs().get(rdd_id)
                    if rdd is not None:
                        rdd.unpersist(False)
            except (Py4JError, OSError):
                pass  # destroyed or stopped elsewhere: nothing left to free


#: Holds what is taken while no :func:`resource_scope` is open; the
#: harness releases it after each query's final action.
ROOT_SCOPE = ResourceScope()
_OPEN: ContextVar = ContextVar("resource_scope", default=ROOT_SCOPE)


@contextmanager
def resource_scope():
    """Open a scope: everything :func:`hold` registers inside it, and
    nothing else, is released when the block exits. Re-executing a plan
    that used a released broadcast or checkpoint raises; one that read a
    released persist recomputes it."""
    scope = ResourceScope()
    token = _OPEN.set(scope)
    try:
        yield scope
    finally:
        _OPEN.reset(token)
        scope.release()


def hold(x):
    """Register ``x`` -- a ``Broadcast``, a persisted DataFrame or a
    ``localCheckpoint`` result -- in the innermost open scope, and
    return it."""
    if isinstance(x, DataFrame) and not x.is_cached:
        rdd = x._jdf.queryExecution().analyzed().rdd()
        _OPEN.get().held.append((x.sparkSession.sparkContext._jsc, rdd.id()))
    else:
        _OPEN.get().held.append(x)
    return x
