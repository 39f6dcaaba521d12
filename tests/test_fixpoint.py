"""Fixpoint rounds of the iterative graph operators.

Each round's convergence probe rides the round's eager checkpoint as an
``observe`` metric (``session.observed_checkpoint``), so a round costs
no extra count job, and ``kcore`` releases every superseded round.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from graph_etl_spark import operators as ops
from graph_etl_spark.session import observed_checkpoint

# Spark jobs of kcore(k=2) on _graph (cut at max_iter=3) and on _graph
# closed into a cycle (a fixpoint at round 1), and of
# connected_components on _graph; result collect and AQE's
# shuffle-stage jobs included. They were 28, 12 and 78 while every
# round ran its convergence probe as count() jobs of its own.
KCORE_JOBS = 16
KCORE_FIXPOINT_JOBS = 8
CC_JOBS = 66


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
