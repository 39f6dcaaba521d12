"""Fixpoint rounds of the iterative graph operators.

Each round's convergence probe rides the round's eager checkpoint as an
``observe`` metric (``session.observed_checkpoint``), so a round costs
no extra count job. Every checkpoint an operator takes goes through its
``session.Pins`` scope, which releases superseded rounds and, when the
call returns, every pin its result does not read.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from graph_etl_spark import operators as ops
from graph_etl_spark.session import _persisted_rdds, observed_checkpoint

# Spark jobs of kcore(k=2) on _graph (cut at max_iter=3) and on _graph
# closed into a cycle (a fixpoint at round 1), and of
# connected_components on _graph; result collect and AQE's
# shuffle-stage jobs included. They were 28, 12 and 78 while every
# round ran its convergence probe as count() jobs of its own.
KCORE_JOBS = 16
KCORE_FIXPOINT_JOBS = 8
CC_JOBS = 66
# strongly_connected_components on _graph closed into a cycle; 171
# while every emptiness test was an isEmpty() job of its own
SCC_JOBS = 162


def _graph(spark, extra=()):
    """A 51-vertex path with two chords near one end."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(50)] + [(1, 3), (2, 4), *extra],
        "src long, dst long",
    )


def _group_jobs(spark, group, thunk):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "extra, max_iter, rows, budget",
    [((), 3, 46, KCORE_JOBS), (((50, 0),), 20, 51, KCORE_FIXPOINT_JOBS)],
    ids=["cut", "fixpoint"],
)
def test_kcore_job_budget(spark, extra, max_iter, rows, budget):
    e = _graph(spark, extra)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    pinned = len(rdds())
    core, jobs = _group_jobs(
        spark,
        f"kcore-job-budget-{max_iter}",
        lambda: ops.kcore(e, k=2, max_iter=max_iter).collect(),
    )
    assert len(core) == rows
    assert jobs == budget
    # only the frame the lazy result reads stays pinned
    assert len(rdds()) - pinned <= 1


def test_connected_components_job_budget(spark):
    labels, jobs = _group_jobs(
        spark,
        "cc-job-budget",
        lambda: ops.connected_components(_graph(spark)).collect(),
    )
    assert {r["component"] for r in labels} == {0}
    assert jobs == CC_JOBS


def _sources(spark):
    return spark.createDataFrame([(0,)], "id long")


def _singletons(spark):
    return spark.createDataFrame(
        [(i, i) for i in range(51)], "id long, community long"
    )


# operator: (call on _graph, Spark jobs incl. the result collect, pins
# left after the call). The jobs were the same while pins were placed
# by hand, except bellman_ford (65: its convergence probe was a join
# job of its own per round) and strongly_connected_components (171:
# an isEmpty job per emptiness test, and the trim diff checkpointed
# also when empty). The pins left were then 6 (ktruss), 6 (CC), 18
# (SCC), 3 each (pagerank, personalized_pagerank, hits), 5
# (label_propagation), 15 (bfs_distances), 8 (bellman_ford), 13 each
# (betweenness, closeness), 6 each (the walks), 9 (louvain_multilevel)
# and 2 (triangle_count). SCC runs on _graph closed into a cycle: one
# component, one phase.
OPERATOR_BUDGETS = {
    "kcore": (lambda s, e: ops.kcore(e, k=2, max_iter=3), 16, 1),
    "ktruss": (lambda s, e: ops.ktruss(e, k=3), 36, 2),
    "connected_components": (lambda s, e: ops.connected_components(e), 66, 1),
    "strongly_connected_components": (
        lambda s, e: ops.strongly_connected_components(e), SCC_JOBS, 1,
    ),
    "pagerank": (lambda s, e: ops.pagerank(e), 88, 1),
    "personalized_pagerank": (
        lambda s, e: ops.personalized_pagerank(e, _sources(s)), 94, 1,
    ),
    "hits": (lambda s, e: ops.hits(e), 110, 1),
    "label_propagation": (lambda s, e: ops.label_propagation(e), 23, 1),
    "bfs_distances": (lambda s, e: ops.bfs_distances(e, _sources(s)), 54, 1),
    "bellman_ford": (lambda s, e: ops.bellman_ford(e, _sources(s)), 35, 1),
    "betweenness_sample": (
        lambda s, e: ops.betweenness_sample(e, _sources(s)), 84, 5,
    ),
    "closeness_sample": (
        lambda s, e: ops.closeness_sample(e, _sources(s)), 61, 6,
    ),
    "random_walks": (lambda s, e: ops.random_walks(e), 25, 5),
    "node2vec_walks": (lambda s, e: ops.node2vec_walks(e), 26, 4),
    "louvain_communities": (
        lambda s, e: ops.louvain_communities(e, _singletons(s)), 89, 1,
    ),
    "louvain_multilevel": (
        lambda s, e: ops.louvain_multilevel(e, _singletons(s)), 161, 1,
    ),
    "triangle_count": (lambda s, e: ops.triangle_count(e), 13, 1),
}


def _run_counting_pins(spark, call):
    """Run ``call`` and collect its result; return (result, the ids of
    the persisted RDDs the call left behind)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    out = call()
    out.collect()
    return out, set(rdds().keySet()) - before


@pytest.mark.parametrize("name", list(OPERATOR_BUDGETS))
def test_operator_budget(spark, name):
    """Each iterative operator's job count is pinned (the per-round job
    invariant: a change that re-evaluates a round's frames, as unpinned
    HITS aggregates did, adds jobs), and the checkpoints it leaves
    behind are only ones its result reads — the result collects after
    the call released the rest."""
    call, budget, kept = OPERATOR_BUDGETS[name]
    e = _graph(spark, ((50, 0),) if name.startswith("strongly") else ())
    (result, left), jobs = _group_jobs(
        spark,
        f"operator-budget-{name}",
        lambda: _run_counting_pins(spark, lambda: call(spark, e)),
    )
    assert jobs == budget
    assert left <= set(_persisted_rdds(result, nearest=False))
    assert len(left) == kept


@pytest.mark.parametrize(
    "call",
    [
        lambda e, n: ops.connected_components(e, max_iter=20 * n),
        lambda e, n: ops.label_propagation(e, n_iter=3 * n),
    ],
    ids=["connected_components", "label_propagation"],
)
def test_pins_flat_in_rounds(spark, call):
    e = _graph(spark)
    left = [len(_run_counting_pins(spark, lambda: call(e, n))[1]) for n in (1, 2)]
    assert left[1] <= left[0] == 1


def _empty_shapes(spark):
    return {
        "zero_partitions": spark.createDataFrame(
            spark.sparkContext.emptyRDD(), "src long, dst long"
        ),
        "filtered_empty": _graph(spark).filter(F.col("src") < 0),
        "limit_zero": _graph(spark).limit(0),
    }


@pytest.mark.parametrize("ansi", [False, True])
def test_observed_count_equals_count(spark, ansi):
    """On an empty frame, and under the ANSI-on session that
    tools/check_oracle.py's driver_like_spark replicates, the observed
    row count equals count() and the probe returns."""
    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    frames = {**_empty_shapes(s), "graph": _graph(s)}
    for name, df in frames.items():
        snap, probe = observed_checkpoint(
            df,
            "test",
            {"rows": F.count(F.lit(1)), "big": F.count_if(F.col("src") > 10)},
        )
        assert probe["rows"] == df.count() == snap.count(), name
        assert probe["big"] == df.filter(F.col("src") > 10).count(), name
        _, probe = observed_checkpoint(df, "test", fresh_stats=True)
        assert probe == {"rows": df.count()}, name


def test_operators_on_empty_edges(spark):
    no_sources = spark.createDataFrame([], "s long")
    for name, edges in _empty_shapes(spark).items():
        assert ops.kcore(edges, k=2).count() == 0, name
        assert ops.connected_components(edges).count() == 0, name
        assert ops.bfs_distances(edges, no_sources).count() == 0, name


def test_rounds_log_at_debug_only(spark, caplog):
    e = _graph(spark)
    with caplog.at_level(logging.INFO, logger="graph_etl_spark"):
        ops.kcore(e, k=2, max_iter=2)
    assert not [r for r in caplog.records if r.name == "graph_etl_spark"]
    with caplog.at_level(logging.DEBUG, logger="graph_etl_spark"):
        ops.kcore(e, k=2, max_iter=2)
    rounds = [
        r.getMessage()
        for r in caplog.records
        if r.name == "graph_etl_spark" and r.getMessage().startswith("kcore:")
    ]
    # the input checkpoint plus one line per peel round
    assert len(rounds) == 3
    assert "'rows': 52" in rounds[0] and rounds[0].endswith(" ms")
    # and one line when the call's pin scope ends
    [scope] = [
        r.getMessage()
        for r in caplog.records
        if r.name == "graph_etl_spark" and r.getMessage().startswith("kcore pins:")
    ]
    assert scope == (
        "kcore pins: 3 rounds, last probes {'rows': 49}, 2 released, 1 kept"
    )
