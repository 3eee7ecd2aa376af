"""SparkSession factory and the lifetime of driver-side resources.

Replaces the reference's config-file/env-var bootstrap (reference
``etl.py:15-33``, ``config.cfg``) with a builder-first factory: AQE on,
UTC session timezone (required for oracle comparison against DuckDB's
UTC-naive timestamps), Arrow enabled for the pandas interchange path,
and shuffle partitions sized to the local core count rather than the
200 default.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
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
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
