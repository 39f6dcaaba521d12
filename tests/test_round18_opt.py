"""Round-18 optimization guards: AQE conf posture, pin release, the
eager checkpoint's leaf statistics and their API-drift fallback, and
the internals the optimization round changed (ktruss fixpoint support
reuse, HITS per-round pins, shared IVF assignment helper)."""

from __future__ import annotations

import logging
import os

import pytest
from pyspark.sql import functions as F

import graph_etl_spark.operators as ops
from graph_etl_spark.session import Pins


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
# pin release (ADVICE r17: per-round pin accumulation)
# ---------------------------------------------------------------------------


def _n_persistent(spark) -> int:
    return len(
        [1 for _ in spark.sparkContext._jsc.getPersistentRDDs().values()]
    )


@pytest.mark.parametrize("eager", [True, False], ids=["eager", "lazy"])
def test_pins_release_frees_blocks(spark, eager):
    before = _n_persistent(spark)
    pins = Pins("test")
    snap = pins.pin(spark.range(100), eager=eager)
    assert snap.count() == 100
    assert _n_persistent(spark) == before + 1
    pins.result(None)
    assert _n_persistent(spark) == before


def test_pins_release_noop_on_plain_frame(spark):
    df = spark.range(10).select((F.col("id") * 2).alias("v"))
    before = _n_persistent(spark)
    pins = Pins("test")
    # a superseded plain frame releases nothing
    snap, _ = pins.advance(df, df)
    assert snap.count() == 10
    assert _n_persistent(spark) == before + 1
    # a plain result reads no pin, so the scope releases them all
    assert pins.result(df) is df
    assert df.count() == 10
    assert _n_persistent(spark) == before


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


# ---------------------------------------------------------------------------
# the eager checkpoint's leaf statistics (VERDICT r17 #9: JVM API drift guard)
# ---------------------------------------------------------------------------


def _leaf_stats(df):
    return df._jdf.queryExecution().optimizedPlan().stats()


def test_checkpoint_leaf_carries_observed_rows(spark):
    """The leaf carries the observed row count and rows x (row width +
    8) bytes, not the origin plan's inherited estimate."""
    big = spark.range(1000).crossJoin(
        spark.range(50).select(F.col("id").alias("j"))
    )
    pins = Pins("test")
    # a lazy pin keeps the inherited estimate: nothing was counted
    plain = pins.pin(big, eager=False)
    snap, probe = pins.advance(None, big)
    stats = _leaf_stats(snap)
    assert probe == {"rows": 50_000}
    assert stats.rowCount().get() == 50_000
    assert int(stats.sizeInBytes()) == 50_000 * (8 + 8 + 8)
    assert int(_leaf_stats(plain).sizeInBytes()) != int(stats.sizeInBytes())
    assert snap.count() == plain.count()
    pins.result(None)


def test_checkpoint_small_pin_plans_broadcast(spark):
    """A join against a small pinned frame plans as a broadcast: its
    leaf's size is the observed one, not the estimate of the plan it
    came from (a 64 MB cross join filtered down to 20 rows)."""
    pins = Pins("test")
    small = pins.pin(
        spark.range(1000)
        .crossJoin(spark.range(1000).select(F.col("id").alias("j")))
        .filter((F.col("j") == 0) & (F.col("id") < 20))
        .select(F.col("id").alias("k"))
    )
    plan = (
        spark.range(100_000_000)
        .join(small, F.col("id") == F.col("k"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pins.result(None)
    assert "BroadcastHashJoin" in plan


def test_checkpoint_falls_back_when_jvm_breaks(spark, monkeypatch, caplog):
    """If the internal classes of the leaf rebuild are ever unavailable,
    the checkpoint degrades to the plain eager ``localCheckpoint`` (same
    rows, no exception) and says so at DEBUG."""
    from py4j.protocol import Py4JError

    import graph_etl_spark.session as sess

    def broken(jvm):  # a class lookup that fails as a drifted one would
        raise Py4JError("org.apache.spark.sql.execution.LogicalRDD")

    df = spark.createDataFrame([(i, i * 2) for i in range(20)], "a long, b long")
    pins = Pins("test")
    monkeypatch.setattr(sess, "_leaf_rebuild", broken)
    with caplog.at_level(logging.DEBUG, logger="graph_etl_spark"):
        out, probe = pins.advance(None, df)
    monkeypatch.undo()
    assert probe == {"rows": 20}
    assert sorted((r.a, r.b) for r in out.collect()) == [(i, i * 2) for i in range(20)]
    assert any(
        r.getMessage().startswith("checkpoint leaf rebuild failed")
        for r in caplog.records
    )
    # the plain checkpoint's leaf carries no row count
    assert _leaf_stats(out).rowCount().isEmpty()
    pins.result(None)


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
