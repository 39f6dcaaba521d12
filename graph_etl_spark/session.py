"""SparkSession factory tuned for the graph-ETL workload.

Single place to encode the scale posture: AQE on (runtime join-strategy
selection + skew-join splitting for the remap joins), modest shuffle
partitioning for local runs (overridable via env for cluster runs),
Arrow enabled for the pandas-UDF extension operators.
"""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import SparkSession

logger = logging.getLogger("graph_etl_spark")


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


def release_checkpoint(df) -> None:
    """Unpersist the RDD blocks behind a ``localCheckpoint``-ed frame.

    A checkpointed Dataset's analyzed plan is a ``LogicalRDD`` whose
    ``rdd`` field IS the persisted RDD, so dropping its blocks is one
    ``unpersist(blocking=false)`` away. Iterative operators that pin a
    frame per round (Louvain's gated movers, labeled-degree joins)
    otherwise accumulate checkpoint blocks linearly with round count
    (ADVICE r17) — call this once the round's consumers have
    materialized.

    The frame must have NO live consumer: the checkpoint truncated its
    lineage, so the dropped blocks cannot be recomputed and any later
    action on ``df`` (or on a frame built from it) fails with a missing
    checkpoint block, far from this call. On any other plan shape, or
    if the internal accessor ever drifts, this is a no-op (logged at
    debug level on the ``graph_etl_spark`` logger): worst case the
    blocks live until the context's usual cleanup, exactly as before."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:
        logger.debug("release_checkpoint: nothing to release (%s)", exc)


def stats_free_checkpoint(df):
    """Eager localCheckpoint that DROPS inherited plan statistics.

    ``Dataset.localCheckpoint`` carries the originating plan's
    estimated statistics onto the checkpointed ``LogicalRDD``
    (``originStats``). In join-iterate loops that estimate compounds
    multiplicatively round over round — the ``sizeInBytes`` digit
    count DOUBLES per round whenever a round's plan references its
    input twice (measured on this build: 75 → 187 → 410 → 857 → 1750
    digits over five fixpoint rounds) — until Catalyst's size
    estimation spends whole seconds multiplying million-digit
    BigIntegers and the driver spins at 100% single-core inside
    ``SizeInBytesOnlyStatsPlanVisitor``. Deep-iterating operators
    (nested fixpoints, 15+ round loops) must checkpoint through THIS
    helper, which rebuilds the frame from the checkpointed RDD via
    ``internalCreateDataFrame`` so the leaf resets to default
    statistics. AQE's runtime statistics still drive join-strategy
    selection, so dropping the compile-time estimate costs nothing at
    execution time (the checkpointed exchange's declared partitioning
    is dropped too — irrelevant in loops that reshuffle on join keys
    every round). Falls back to the plain eager checkpoint if the
    internal JVM constructor is ever unavailable."""
    from pyspark.sql import DataFrame

    snap = df.localCheckpoint(eager=True)
    try:
        spark = snap.sparkSession
        jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
            snap.schema.json()
        )
        jrdd = snap._jdf.queryExecution().toRdd()
        jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jschema, False
        )
        return DataFrame(jdf, spark)
    except Exception:  # pragma: no cover - internal API drift
        return snap


def observed_checkpoint(df, what: str, probes=None, *, fresh_stats: bool = False):
    """Eager localCheckpoint of ``df`` that also computes named
    aggregate probes over its rows, both in ONE Spark job.

    A fixpoint round wants two things from the frame it just built:
    the pinned snapshot (lineage truncated) and a convergence number
    (rows left, labels changed). Asking ``count()``, ``isEmpty()`` or
    ``limit(1).count()`` of the snapshot afterwards is a second job
    over blocks that were just written. Here the probes ride the
    checkpoint job as an ``observe`` metric instead.

    ``probes`` maps a name to an aggregate Column; the default is the
    row count under ``"rows"``. ``fresh_stats`` checkpoints through
    ``stats_free_checkpoint`` (for loops whose size estimate would
    otherwise compound round over round). Returns ``(snap, values)``
    with ``values`` a dict of probe name to value. Each call logs one
    DEBUG line on the ``graph_etl_spark`` logger: ``what`` (the
    caller's name), the values and the round's milliseconds."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if probes is None:
        probes = {"rows": F.count(F.lit(1))}
    obs = Observation()
    t0 = time.perf_counter()
    observed = df.observe(obs, *[c.alias(n) for n, c in probes.items()])
    if fresh_stats:
        snap = stats_free_checkpoint(observed)
    else:
        snap = observed.localCheckpoint(eager=True)
    values = obs.get
    logger.debug(
        "%s: %s in %.1f ms", what, values, (time.perf_counter() - t0) * 1e3
    )
    return snap, values
