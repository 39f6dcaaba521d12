"""SparkSession factory tuned for the graph-ETL workload, and the
checkpoint helpers of the iterative operators.

Single place to encode the scale posture: AQE on (runtime join-strategy
selection + skew-join splitting for the remap joins), modest shuffle
partitioning for local runs (overridable via env for cluster runs),
Arrow enabled for the pandas-UDF extension operators. ``Pins`` is the
one checkpoint scope of an iterative operator call: it pins, runs rounds
through ``observed_checkpoint``, finishes a small residual in one task
and releases what the result does not read. Every eager pin is one
kind: a ``localCheckpoint`` whose row count is observed in its own job
and carried on its leaf as the optimizer's statistics.
"""

from __future__ import annotations

import logging
import os
import time
from functools import lru_cache, partial

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger("graph_etl_spark")

# A fixpoint whose residual (the rows its last round observed) is at
# most this many finishes in one task (``Pins.finish``) instead of
# paying a Spark job per round. Measured with tools/finish_crossover.py
# on a 4-vCPU host, local[4] (BENCH_NOTES.md, "Residual finish
# crossover"): the one task was the faster path at every size from
# 2^14 to 2^20 rows: kcore 2.5-3.5x (7.9 s -> 2.3 s at 2^20 edges),
# SCC's whole call 1.39-1.64x (90.6 s -> 65.1 s at 1.4M residual
# rows), so no crossover was reached. 2^20 is the largest size
# measured; a larger residual keeps the Spark rounds.
LOCAL_FINISH_ROWS = 1 << 20


def get_spark(
    app_name: str = "graph-etl-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster the master/shuffle settings come from spark-submit;
    everything set here is safe to override externally. ``extra_confs``
    lets a caller layer session-construction-time confs (e.g. bench's
    UI hygiene) without duplicating this builder.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime coalescing of shuffle partitions, broadcast-join
        # conversion, and skew-join splitting — critical for the J1/J2
        # remap joins whose mapping side size is data-dependent.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing posture. Local default = Spark default
        # (parallelismFirst=true, advisory 64m): the r17 record proved
        # that forcing size-based coalescing locally (parallelismFirst
        # =false + a 256k advisory) collapses every post-shuffle stage
        # of the ~10 MB inputs to a handful of partitions — the suite
        # went parallelism-flat (8-core total == 32-core total) and
        # 163/235 bench entries regressed >10%. On a real cluster the
        # size-based posture IS right (guide §2.2: 64-256m advisory
        # against multi-GB shuffles avoids the M×R shuffle-block
        # blowup), so both knobs stay env-tunable: set
        # SPARK_GRAFT_COALESCE_PARALLELISM_FIRST=false and
        # SPARK_GRAFT_ADVISORY_PARTITION=256m on a cluster submit.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_COALESCE_PARALLELISM_FIRST", "true"),
        )
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
        # Arrow for pandas_udf / applyInPandas extension operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime bloom-filter join pruning: for selective joins whose
        # small side is too big to broadcast (e.g. a mid-size remap
        # table against the edge corpus), the big side gets a bloom
        # filter pushed into its scan — at 100 TB this skips shuffling
        # rows that would be dropped by the join anyway.
        # (Do NOT also enable runtimeFilter.semiJoinReduction: on this
        # PySpark 4.1 build it hangs session queries outright.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Generated-class cache: the default 100 entries thrashes under
        # this workload's many distinct codegen stages — an evicted
        # class is recompiled by janino inside whatever query touches
        # it next (measured as bimodal 1.4 s vs 17 s timings on an
        # unchanged plan; see BENCH_NOTES round 6). Static conf: only
        # effective when THIS builder creates the session.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Reference semantics rely on permissive casts (polars-style), not
        # ANSI error-on-overflow; Spark 4 defaults ANSI on.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long and convert via ns_to_timestamp()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Cluster-posture advisory partition size: applied ONLY when set,
    # so local runs keep Spark's 64m default (see coalescing note above).
    advisory = os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION")
    if advisory:
        builder = builder.config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory
        )
    # experiment/cluster override hook: SPARK_GRAFT_EXTRA_CONFS holds
    # ';'-separated key=value pairs layered between the defaults above
    # and the caller's extra_confs (the caller still wins) — lets a
    # bench A/B or a cluster submit flip a conf without editing code
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def _persisted_rdds(df, *, nearest: bool) -> dict | None:
    """The persisted RDDs ``df`` reads, ``{rdd id: JVM RDD}``, or None
    if the internal accessors drift. The walk starts at the
    ``LogicalRDD`` (checkpoint) leaves of ``df``'s plan, the rebuilt
    leaf of an eager pin included, and follows RDD dependencies;
    ``nearest`` stops each path at its first persisted RDD, the one
    behind a pin. A materialized checkpoint's lineage is truncated, so
    only a lazy checkpoint leads the full walk further down."""
    try:
        stack = []
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for leaf in (leaves.apply(i) for i in range(leaves.size())):
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                stack.append(leaf.rdd())
        seen: set[int] = set()
        found: dict = {}
        while stack:
            rdd = stack.pop()
            if rdd.id() in seen:
                continue
            seen.add(rdd.id())
            if rdd.getStorageLevel().isValid():
                found[rdd.id()] = rdd
                if nearest:
                    continue
            deps = rdd.dependencies()
            stack.extend(deps.apply(i).rdd() for i in range(deps.size()))
        return found
    except Py4JError as exc:  # pragma: no cover - internal API drift
        logger.debug("plan walk failed (%s)", exc)
        return None


def _unpersist(rdd) -> None:
    """Drop a persisted RDD's blocks without blocking. Through the
    context, not ``RDD.unpersist``, which logs a WARN line for every
    locally checkpointed RDD it frees."""
    rdd.context().unpersistRDD(rdd.id(), False)


@lru_cache(maxsize=2)
def _leaf_rebuild(jvm):
    """``rebuild(jdf, rows)``: the eager checkpoint ``jdf`` over a new
    ``LogicalRDD`` leaf with ``Statistics(sizeInBytes = rows x
    (schema.defaultSize + 8), rowCount = rows)``, partitioning unknown
    and no ordering. The JVM classes are looked up once per gateway.

    py4j hands a Scala ``BigInt`` back as a Python int, so the
    ``Statistics`` is built inside the JVM: its fields are copied from
    the ``computeStats()`` of a ``Range`` node (8 bytes and one row per
    element) and its ``rowCount`` from a second one."""
    logical = jvm.org.apache.spark.sql.catalyst.plans.logical
    LogicalRDD = jvm.org.apache.spark.sql.execution.LogicalRDD
    unknown = jvm.org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    of_rows = jvm.org.apache.spark.sql.classic.Dataset.ofRows
    ArrayList = jvm.java.util.ArrayList
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    option, ids = jvm.scala.Option.apply, logical.Range.getOutputAttrs()
    none, no_order = option(None), getattr(LogicalRDD, "apply$default$4")()
    no_columns = getattr(logical.Statistics, "apply$default$3")()
    new_stats = logical.Statistics.DUMMY().getClass().getConstructors()[0].newInstance

    def stats(n):
        return logical.Range(0, n, 1, none, ids, False).computeStats()

    def rebuild(jdf, rows):
        size = stats(-(-rows * (jdf.schema().defaultSize() + 8) // 8))
        fields = ArrayList(as_java(size.productIterator().toSeq()))
        fields.set(1, stats(rows).rowCount())
        fields.set(2, no_columns)
        leaf, session = jdf.logicalPlan(), jdf.sparkSession()
        rdd = leaf.rdd()
        plan = LogicalRDD(
            leaf.output(), rdd, unknown(rdd.getNumPartitions()), no_order,
            leaf.isStreaming(), leaf.stream(), session,
            option(new_stats(fields.toArray())), none,
        )
        return of_rows(session, plan)

    return rebuild


def _checkpoint(df, probes: dict):
    """The one eager checkpoint: ``localCheckpoint`` of ``df`` and an
    ``observe`` of its row count and of ``probes`` (name to aggregate
    Column) in one Spark job. Returns ``(snap, values)``, the probe
    values by name.

    The snapshot's leaf carries the observed row count
    (``_leaf_rebuild``). ``localCheckpoint`` leaves the origin plan's
    estimate there instead, which compounds round over round in a
    join-iterate loop (pagerank's grew from 23 to 201 digits over 10
    rounds) until later joins plan as shuffles and Catalyst multiplies
    huge BigIntegers; the declared partitioning goes too (keeping it
    cost pagerank 10 more jobs). If the internals drift, the plain
    snapshot is kept and the failure logged at DEBUG."""
    obs = Observation()
    counted = df.observe(
        obs, F.count(F.lit(1)).alias("__rows"), *[c.alias(n) for n, c in probes.items()]
    )
    snap = counted.localCheckpoint(eager=True)
    values = dict(obs.get)
    rows = values.pop("__rows")
    try:
        jdf = _leaf_rebuild(snap.sparkSession._jvm)(snap._jdf, rows)
        return DataFrame(jdf, snap.sparkSession), values
    except Py4JError as exc:
        logger.debug("checkpoint leaf rebuild failed (%s)", exc)
        return snap, values


def observed_checkpoint(df, what: str, probes=None):
    """The eager checkpoint of ``df`` and named aggregate probes over
    its rows, both in ONE Spark job.

    A fixpoint round wants two things from the frame it just built:
    the pinned snapshot (lineage truncated) and a convergence number
    (rows left, labels changed). Asking ``count()``, ``isEmpty()`` or
    ``limit(1).count()`` of the snapshot afterwards is a second job
    over blocks that were just written. Here the probes ride the
    checkpoint job as an ``observe`` metric instead.

    ``probes`` maps a name to an aggregate Column; the default is the
    row count under ``"rows"``. Returns ``(snap, values)`` with
    ``values`` a dict of probe name to value. Each call logs one
    DEBUG line on the ``graph_etl_spark`` logger: ``what`` (the
    caller's name), the values and the round's milliseconds."""
    if probes is None:
        probes = {"rows": F.count(F.lit(1))}
    t0 = time.perf_counter()
    snap, values = _checkpoint(df, probes)
    logger.debug(
        "%s: %s in %.1f ms", what, values, (time.perf_counter() - t0) * 1e3
    )
    return snap, values


def _archive_reuse():
    """A function that a Python task calls first, so that PySpark's
    per-task set-up stops re-reading unchanged archives in this worker.

    Before every task, PySpark's ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and on CPython 3.11 each
    ``zipimporter`` then re-reads its whole archive directory:
    ``pyspark.zip`` (1,328 entries, one importer per imported
    subpackage) and the 5,359-entry ``spark-core`` jar that Spark puts
    on every worker's path. That took 115-290 ms per task on a 4-vCPU
    host (BENCH_NOTES.md, "Python task set-up"). Once per worker
    process, the function swaps in an ``invalidate_caches`` that
    re-reads an archive only when its ``(st_mtime_ns, st_size)``
    changed; a changed or new archive is still read. The keys start
    from the archives' state at the call: this task's own set-up
    re-read every archive just before. The swap is process-wide, so
    every later Python task in the worker gains, whatever its code.
    A closure, so it pickles by value and a worker needs no import of
    this package."""

    def install():
        import os
        import sys
        import zipimport

        reread = zipimport.zipimporter.invalidate_caches
        if getattr(reread, "reads_changed_archives_only", False):
            return

        def stat_key(importer):
            try:
                st = os.stat(importer.archive)
            except OSError:
                return None
            return st.st_mtime_ns, st.st_size

        def invalidate_caches(self):
            key = stat_key(self)
            if key is None or self.__dict__.get("_archive_key") != key:
                reread(self)
                self._archive_key = key

        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, zipimport.zipimporter):
                importer._archive_key = stat_key(importer)
        invalidate_caches.reads_changed_archives_only = True
        zipimport.zipimporter.invalidate_caches = invalidate_caches

    return install


class Pins:
    """The checkpoint scope of one iterative operator call: every frame
    the call pins goes through it, and it frees them.

    - ``pin(df, eager=True)`` checkpoints ``df`` and records the RDD
      behind it. An eager pin is the one eager checkpoint kind
      (``_checkpoint``): its leaf carries the row count observed in
      the checkpoint's own job, so the optimizer sees the frame's
      actual size and no estimate compounds. ``eager=False`` is a
      plain lazy ``localCheckpoint``: nothing is counted before it
      runs.
    - ``advance(prev, plan, probes=None)`` is one round:
      ``observed_checkpoint`` of ``plan`` and its probes in one job,
      then the release of this scope's pins behind ``prev`` (a frame,
      a sequence of frames, or None): the state the snapshot
      supersedes, which nothing may read afterwards.
    - ``finish(frame, fn, schema, rows)`` runs ``fn`` over every row
      of ``frame`` (a pandas frame in, one out with ``schema``) in ONE
      task: ``coalesce(1).mapInPandas``, no shuffle, checkpointed in
      one job. Callers take it once the ``rows`` their last
      ``advance`` observed are at most ``LOCAL_FINISH_ROWS``, so the
      check costs no job. Its task first calls ``_archive_reuse``'s
      installer. It logs one DEBUG line: ``what``, ``rows`` and the
      milliseconds.
    - ``result(df)`` releases every pin ``df`` does not read (all of
      them for None, before a raise) and returns ``df``, so a lazy
      result keeps exactly the pins it needs. It logs one DEBUG line
      on the ``graph_etl_spark`` logger: ``what``, the rounds advanced,
      the last probe values, whether the call finished locally, the
      pins released and kept."""

    def __init__(self, what: str):
        self.what, self._held = what, {}
        self._rounds, self._last, self._released = 0, None, 0
        self._local = None

    def _track(self, snap):
        for rid, rdd in (_persisted_rdds(snap, nearest=True) or {}).items():
            self._held[rid] = partial(_unpersist, rdd)
        return snap

    def _release(self, rid):
        self._held.pop(rid)()
        self._released += 1

    def pin(self, df, *, eager=True):
        if eager:
            return self._track(_checkpoint(df, {})[0])
        return self._track(df.localCheckpoint(eager=False))

    def advance(self, prev, plan, probes=None):
        snap, self._last = observed_checkpoint(plan, self.what, probes)
        self._track(snap)
        self._rounds += 1
        for frame in prev if isinstance(prev, (list, tuple)) else [prev]:
            behind = {} if frame is None else _persisted_rdds(frame, nearest=True)
            for rid in (behind or {}).keys() & self._held.keys():
                self._release(rid)
        return snap, self._last

    def finish(self, frame, fn, schema, rows):
        install = _archive_reuse()

        def run(batches):
            import pandas as pd

            install()
            parts = list(batches)
            if parts:
                yield fn(pd.concat(parts, ignore_index=True))

        t0 = time.perf_counter()
        snap = self.pin(frame.coalesce(1).mapInPandas(run, schema))
        self._local = rows
        logger.debug(
            "%s: local finish of %d rows in %.1f ms",
            self.what, rows, (time.perf_counter() - t0) * 1e3,
        )
        return snap

    def result(self, df):
        reads = {} if df is None else _persisted_rdds(df, nearest=False)
        for rid in self._held.keys() - (self._held if reads is None else reads):
            self._release(rid)
        local = "" if self._local is None else (
            f", finished locally ({self._local} rows)"
        )
        logger.debug(
            "%s pins: %d rounds, last probes %s%s, %d released, %d kept",
            self.what, self._rounds, self._last, local, self._released,
            len(self._held),
        )
        self._held = {}
        return df
