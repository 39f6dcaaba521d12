"""Round-18 optimization guards: AQE conf posture, checkpoint
release, stats-free-checkpoint API-drift fallback, and the internals
the optimization round changed (ktruss fixpoint support reuse, HITS
per-round pins, shared IVF assignment helper)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import graph_etl_spark.operators as ops
from graph_etl_spark.session import release_checkpoint, stats_free_checkpoint


# ---------------------------------------------------------------------------
# session posture (VERDICT r17 #1): local default = Spark default
# ---------------------------------------------------------------------------


def test_aqe_coalescing_defaults_are_spark_defaults(spark):
    """The r17 record proved a 256k advisory + parallelismFirst=false
    local default flattens 32-core throughput to 8-core (c8 == c32,
    163/235 entries >10% slower). The local session must keep Spark's
    own coalescing defaults; the cluster posture is env-opt-in."""
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
        == "true"
    )
    # Spark's default advisory is 64m; the session must not have
    # overridden it downward (only SPARK_GRAFT_ADVISORY_PARTITION may)
    if not os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION"):
        advisory = spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        )
        assert advisory in ("64MB", "67108864", "67108864b"), advisory


# ---------------------------------------------------------------------------
# release_checkpoint (ADVICE r17: per-round pin accumulation)
# ---------------------------------------------------------------------------


def _n_persistent(spark) -> int:
    return len(
        [1 for _ in spark.sparkContext._jsc.getPersistentRDDs().values()]
    )


@pytest.mark.parametrize(
    "checkpoint",
    [lambda df: df.localCheckpoint(eager=True), stats_free_checkpoint],
    ids=["local", "stats_free"],
)
def test_release_checkpoint_frees_blocks(spark, checkpoint):
    before = _n_persistent(spark)
    snap = checkpoint(spark.range(100))
    assert snap.count() == 100
    assert _n_persistent(spark) == before + 1
    release_checkpoint(snap)
    assert _n_persistent(spark) == before


def test_release_checkpoint_noop_on_plain_frame(spark):
    df = spark.range(10).select((F.col("id") * 2).alias("v"))
    release_checkpoint(df)  # must not raise on a non-checkpoint plan
    assert df.count() == 10


def test_louvain_communities_releases_round_pins(spark):
    """The Louvain loop pins labeled_deg/gated/applied per round and
    the superseded label frame; after the call only the RETURNED label
    frame (1 checkpoint) may remain pinned."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)],
        "src long, dst long",
    )
    comm = spark.createDataFrame(
        [(i, i) for i in range(1, 7)], "id long, community long"
    )
    before = _n_persistent(spark)
    out = ops.louvain_communities(edges, comm, max_rounds=3)
    out.count()
    leaked = _n_persistent(spark) - before
    assert leaked <= 1, f"{leaked} checkpoints left pinned"
    release_checkpoint(out)


# ---------------------------------------------------------------------------
# stats_free_checkpoint fallback (VERDICT r17 #9: JVM API drift guard)
# ---------------------------------------------------------------------------


def test_stats_free_checkpoint_resets_leaf_statistics(spark):
    """The helper must return a frame whose leaf carries DEFAULT
    statistics (not the origin plan's inherited estimate)."""
    big = spark.range(1000).crossJoin(
        spark.range(50).select(F.col("id").alias("j"))
    )
    plain = big.localCheckpoint(eager=True)
    freed = stats_free_checkpoint(big)
    plain_stats = int(
        plain._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    freed_stats = int(
        freed._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    # the plain checkpoint inherits the origin's (large) estimate; the
    # stats-free one resets to the conf default (much larger sentinel
    # or much smaller leaf default — just NOT the inherited estimate)
    assert freed_stats != plain_stats
    assert freed.count() == plain.count()
    for f in (plain, freed):
        release_checkpoint(f)


def test_stats_free_checkpoint_falls_back_cleanly(spark, monkeypatch):
    """If the internal ``internalCreateDataFrame`` constructor is ever
    unavailable, the helper must degrade to the plain eager checkpoint
    (same rows, no exception) — VERDICT r17 #9."""
    import graph_etl_spark.session as sess

    class _BrokenJvm:
        def __getattr__(self, name):  # any JVM access fails
            raise AttributeError(name)

    df = spark.createDataFrame([(i, i * 2) for i in range(20)], "a long, b long")
    real_jvm = spark._jvm
    monkeypatch.setattr(spark, "_jvm", _BrokenJvm(), raising=False)
    try:
        out = sess.stats_free_checkpoint(df)
        rows = sorted((r.a, r.b) for r in out.collect())
    finally:
        monkeypatch.undo()
    assert rows == [(i, i * 2) for i in range(20)]
    assert real_jvm is spark._jvm
    release_checkpoint(out)


# ---------------------------------------------------------------------------
# ktruss fixpoint support reuse
# ---------------------------------------------------------------------------


def test_ktruss_fixpoint_unchanged(spark):
    """Two triangles sharing an edge: every edge of the K4-minus-one
    subgraph has support >= 2? Construct a known 4-truss and a
    peel-away bridge; the optimized loop (tracked counts + reused
    final support) must return exactly the old fixpoint."""
    # K4 on {1,2,3,4} (every edge closes 2 triangles) + bridge 4-5
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    edges = spark.createDataFrame(k4 + [(4, 5)], "src long, dst long")
    rows = sorted(
        (r.u, r.v, r.support) for r in ops.ktruss(edges, k=4).collect()
    )
    assert rows == [(u, v, 2) for (u, v) in k4]


def test_ktruss_max_iter_exhaustion_keeps_zero_support_rows(spark):
    """With max_iter=1 the prune runs once and the returned support is
    recomputed over the survivors — edges whose support fell to 0 keep
    their row (the left-join contract)."""
    # triangle + pendant chain: one prune drops the chain edges,
    # leaving the pure triangle with support 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    rows = sorted(
        (r.u, r.v, r.support)
        for r in ops.ktruss(edges, k=3, max_iter=1).collect()
    )
    assert rows == [(1, 2, 1), (1, 3, 1), (2, 3, 1)]


# ---------------------------------------------------------------------------
# HITS per-round pins: values bit-identical, pins released
# ---------------------------------------------------------------------------


def test_hits_scores_match_reference_loop(spark):
    """The pinned-round HITS must reproduce the same rounded scores as
    a direct reference implementation of the documented contract
    (decimal(28,9) sums, max-normalization, 9-dp re-rounding)."""
    from decimal import Decimal

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.id: (r.hub, r.authority)
        for r in ops.hits(df, max_iter=3).collect()
    }

    verts = sorted({v for e in edges for v in e})
    hub = {v: 1.0 for v in verts}
    auth = {v: 1.0 for v in verts}
    q = Decimal("0.000000001")

    def _sum_dec(vals):
        return float(sum(Decimal(f"{round(v, 9):.9f}").quantize(q) for v in vals))

    for _ in range(3):
        araw = {
            v: _sum_dec(hub[a] for (a, b) in edges if b == v) for v in verts
        }
        amax = max(araw.values())
        auth = {v: round(araw[v] / amax, 9) for v in verts}
        hraw = {
            v: _sum_dec(auth[b] for (a, b) in edges if a == v) for v in verts
        }
        hmax = max(hraw.values())
        hub = {v: round(hraw[v] / hmax, 9) for v in verts}
    want = {v: (round(hub[v], 6), round(auth[v], 6)) for v in verts}
    assert got == want


def test_hits_releases_round_pins(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    before = _n_persistent(spark)
    out = ops.hits(edges, max_iter=4)
    out.count()
    # e + verts + final scores stay pinned; per-round frames must not
    leaked = _n_persistent(spark) - before
    assert leaked <= 3, f"{leaked} checkpoints left pinned"


# ---------------------------------------------------------------------------
# shared IVF assignment helper (ADVICE r17): sweep == operator
# ---------------------------------------------------------------------------


def test_ivf_prepare_matches_ivf_topk_routing(spark):
    """ivf_topk run with a _prepared pair from _ivf_prepare must be
    row-identical to the self-built path — the sweep can then never
    desynchronize from the operator it measures."""
    import math

    from graph_etl_spark.operators.similarity import _ivf_prepare

    rows = [
        (i, [math.sin(0.31 * i + 0.17 * j) for j in range(8)])
        for i in range(24)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.filter(F.col("vec_id") < 3)
    direct = sorted(
        map(tuple, ops.ivf_topk(e, q, k=4, nlist=4, nprobe=2).collect())
    )
    prepared = _ivf_prepare(e, 4, "vec_id", "embedding")
    via_prepared = sorted(
        map(
            tuple,
            ops.ivf_topk(
                e, q, k=4, nlist=4, nprobe=2, _prepared=prepared
            ).collect(),
        )
    )
    assert direct == via_prepared
