"""Fixpoint rounds of the iterative graph operators.

Each round's convergence probe rides the round's eager checkpoint as an
``observe`` metric (``session.observed_checkpoint``), so a round costs
no extra count job. Every checkpoint an operator takes goes through its
``session.Pins`` scope, which releases superseded rounds and, when the
call returns, every pin its result does not read. kcore and SCC finish
a residual of at most ``session.LOCAL_FINISH_ROWS`` rows in one task;
the tests that guard the Spark rounds set the bound below every row
count (the ``spark_rounds`` fixture), and the local finish must return
what the Spark rounds return.
"""

from __future__ import annotations

import logging
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_etl_spark import operators as ops
from graph_etl_spark import session
from graph_etl_spark.metrics import measure
from graph_etl_spark.session import _persisted_rdds, observed_checkpoint

# Spark jobs of kcore(k=2) on _graph (cut at max_iter=3) and on _graph
# closed into a cycle (a fixpoint at round 1), and of
# connected_components on _graph; result collect and AQE's
# shuffle-stage jobs included. They were 28, 12 and 78 while every
# round ran its convergence probe as count() jobs of its own.
KCORE_JOBS = 13
KCORE_FIXPOINT_JOBS = 7
CC_JOBS = 35
# strongly_connected_components on _graph closed into a cycle; 171
# while every emptiness test was an isEmpty() job of its own
SCC_JOBS = 124
# the same kcore calls when the deduped edge set finishes locally: the
# input checkpoint, the one-task finish and the collect
KCORE_LOCAL_JOBS = 4
# SCC on the open _graph: from the second phase on the residual
# finishes in one job
SCC_LOCAL_JOBS = 155


@pytest.fixture
def spark_rounds(monkeypatch):
    """No residual finishes locally, not even an empty one: the bound
    is below every row count."""
    monkeypatch.setattr(session, "LOCAL_FINISH_ROWS", -1)


def _graph(spark, extra=()):
    """A 51-vertex path with two chords near one end."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(50)] + [(1, 3), (2, 4), *extra],
        "src long, dst long",
    )


@pytest.mark.parametrize(
    "extra, max_iter, rows, budget, local",
    [
        ((), 3, 46, KCORE_JOBS, False),
        (((50, 0),), 20, 51, KCORE_FIXPOINT_JOBS, False),
        ((), 3, 46, KCORE_LOCAL_JOBS, True),
        (((50, 0),), 20, 51, KCORE_LOCAL_JOBS, True),
    ],
    ids=["cut", "fixpoint", "cut-local", "fixpoint-local"],
)
def test_kcore_job_budget(spark, monkeypatch, extra, max_iter, rows, budget, local):
    if not local:
        monkeypatch.setattr(session, "LOCAL_FINISH_ROWS", -1)
    e = _graph(spark, extra)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    pinned = len(rdds())
    core, cost = measure(spark, lambda: ops.kcore(e, k=2, max_iter=max_iter).collect())
    assert len(core) == rows
    assert cost["jobs"] == budget
    # only the frame the lazy result reads stays pinned
    assert len(rdds()) - pinned <= 1


def test_connected_components_job_budget(spark):
    labels, cost = measure(spark, lambda: ops.connected_components(_graph(spark)).collect())
    assert {r["component"] for r in labels} == {0}
    assert cost["jobs"] == CC_JOBS


def test_scc_local_finish_job_budget(spark):
    """The open _graph needs a second phase, which finishes locally."""
    (labels, left), cost = measure(
        spark,
        lambda: _run_counting_pins(
            spark, lambda: ops.strongly_connected_components(_graph(spark))
        ),
    )
    assert labels.count() == 51
    assert cost["jobs"] == SCC_LOCAL_JOBS
    assert left <= set(_persisted_rdds(labels, nearest=False))


def _sources(spark):
    return spark.createDataFrame([(0,)], "id long")


def _singletons(spark):
    return spark.createDataFrame(
        [(i, i) for i in range(51)], "id long, community long"
    )


# operator: (call on _graph, Spark jobs incl. the result collect, pins
# left after the call). SCC runs on _graph closed into a cycle: one
# component, one phase.
OPERATOR_BUDGETS = {
    "kcore": (lambda s, e: ops.kcore(e, k=2, max_iter=3), KCORE_JOBS, 1),
    "ktruss": (lambda s, e: ops.ktruss(e, k=3), 26, 2),
    "connected_components": (lambda s, e: ops.connected_components(e), CC_JOBS, 1),
    "strongly_connected_components": (
        lambda s, e: ops.strongly_connected_components(e), SCC_JOBS, 1,
    ),
    "pagerank": (lambda s, e: ops.pagerank(e), 69, 1),
    "personalized_pagerank": (
        lambda s, e: ops.personalized_pagerank(e, _sources(s)), 72, 1,
    ),
    "hits": (lambda s, e: ops.hits(e), 80, 1),
    "label_propagation": (lambda s, e: ops.label_propagation(e), 17, 1),
    "bfs_distances": (lambda s, e: ops.bfs_distances(e, _sources(s)), 36, 1),
    "bellman_ford": (lambda s, e: ops.bellman_ford(e, _sources(s)), 23, 1),
    "betweenness_sample": (
        lambda s, e: ops.betweenness_sample(e, _sources(s)), 56, 5,
    ),
    "closeness_sample": (
        lambda s, e: ops.closeness_sample(e, _sources(s)), 43, 6,
    ),
    "random_walks": (lambda s, e: ops.random_walks(e), 17, 5),
    "node2vec_walks": (lambda s, e: ops.node2vec_walks(e), 18, 4),
    "louvain_communities": (
        lambda s, e: ops.louvain_communities(e, _singletons(s)), 65, 1,
    ),
    "louvain_multilevel": (
        lambda s, e: ops.louvain_multilevel(e, _singletons(s)), 111, 1,
    ),
    "triangle_count": (lambda s, e: ops.triangle_count(e), 10, 1),
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
def test_operator_budget(spark, spark_rounds, name):
    """Each iterative operator's job count is pinned (the per-round job
    invariant: a change that re-evaluates a round's frames, as unpinned
    HITS aggregates did, adds jobs), and the checkpoints it leaves
    behind are only ones its result reads — the result collects after
    the call released the rest. The budgets are the Spark rounds'."""
    call, budget, kept = OPERATOR_BUDGETS[name]
    e = _graph(spark, ((50, 0),) if name.startswith("strongly") else ())
    (result, left), cost = measure(
        spark, lambda: _run_counting_pins(spark, lambda: call(spark, e))
    )
    assert cost["jobs"] == budget
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
    row count equals count(), the probe returns, and the snapshot's
    leaf carries the observed count."""
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
        stats = snap._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().get() == probe["rows"], name
        _, probe = observed_checkpoint(df, "test")
        assert probe == {"rows": df.count()}, name


def test_operators_on_empty_edges(spark):
    no_sources = spark.createDataFrame([], "s long")
    for name, edges in _empty_shapes(spark).items():
        assert ops.kcore(edges, k=2).count() == 0, name
        assert ops.connected_components(edges).count() == 0, name
        assert ops.bfs_distances(edges, no_sources).count() == 0, name


def _debug_lines(caplog, call, prefix):
    """The graph_etl_spark records of ``call``: none at INFO, and at
    DEBUG the messages that start with ``prefix``."""
    with caplog.at_level(logging.INFO, logger="graph_etl_spark"):
        call()
    assert not [r for r in caplog.records if r.name == "graph_etl_spark"]
    with caplog.at_level(logging.DEBUG, logger="graph_etl_spark"):
        call()
    return [
        r.getMessage()
        for r in caplog.records
        if r.name == "graph_etl_spark" and r.getMessage().startswith(prefix)
    ]


def test_rounds_log_at_debug_only(spark, monkeypatch, caplog):
    e = _graph(spark)
    bound = session.LOCAL_FINISH_ROWS
    monkeypatch.setattr(session, "LOCAL_FINISH_ROWS", -1)
    lines = _debug_lines(caplog, lambda: ops.kcore(e, k=2, max_iter=2), "kcore")
    rounds = [m for m in lines if m.startswith("kcore:")]
    # the input checkpoint plus one line per peel round
    assert len(rounds) == 3
    assert "'rows': 52" in rounds[0] and rounds[0].endswith(" ms")
    # and one line when the call's pin scope ends
    [scope] = [m for m in lines if m.startswith("kcore pins:")]
    assert scope == (
        "kcore pins: 3 rounds, last probes {'rows': 49}, 2 released, 1 kept"
    )
    # the local finish: the input checkpoint, then one line for the
    # finish of its 52 rows
    monkeypatch.setattr(session, "LOCAL_FINISH_ROWS", bound)
    caplog.clear()
    lines = _debug_lines(caplog, lambda: ops.kcore(e, k=2, max_iter=2), "kcore")
    [checkpoint, finish, scope] = lines
    assert "'rows': 52" in checkpoint
    assert finish.startswith("kcore: local finish of 52 rows in ")
    assert finish.endswith(" ms")
    assert scope == (
        "kcore pins: 1 rounds, last probes {'rows': 52}, finished locally "
        "(52 rows), 1 released, 1 kept"
    )


def _power_law(spark, n, m, seed, ids="long"):
    """A seeded directed graph whose sources are Zipf-distributed."""
    rng = np.random.default_rng(seed)
    src = (rng.zipf(2.0, m) - 1) % n
    dst = rng.integers(0, n, m)
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(src, dst)], f"src {ids}, dst {ids}"
    )


def _messy(spark):
    """_graph with duplicate and reversed edges and self-loops."""
    rows = [(i, i + 1) for i in range(50)] + [(1, 3), (2, 4)]
    rows += rows[:10] + [(b, a) for a, b in rows[20:30]] + [(7, 7), (60, 60)]
    return spark.createDataFrame(rows, "src long, dst long")


def _named(spark, ids):
    """_graph with int or string ids."""
    e = _graph(spark)
    return e.select(F.col("src").cast(ids), F.col("dst").cast(ids))


def _nan(spark, extra=((1.0, 3.0),)):
    """_graph with double ids and a NaN vertex: by default on a cycle
    through 1, 2 and 3 (NaN enters from the first id and leaves to the
    last). Spark groups and joins NaN as one ordinary value."""
    nan = float("nan")
    rows = [(float(a), float(b)) for a, b in _graph(spark).collect()]
    for a, b in extra:
        rows += [(nan, a), (b, nan)]
    rows.append((nan, nan))
    return spark.createDataFrame(rows, "src double, dst double")


def _kcore(k=2, max_iter=20):
    return lambda e: ops.kcore(e, k=k, max_iter=max_iter)


def _scc(e):
    return ops.strongly_connected_components(e)


PATH_CASES = {
    **{f"kcore-max_iter{n}": (_graph, _kcore(max_iter=n)) for n in (0, 1, 2, 3, 20)},
    "kcore-cycle": (lambda s: _graph(s, ((50, 0),)), _kcore()),
    "kcore-int": (lambda s: _named(s, "int"), _kcore()),
    "kcore-string": (lambda s: _named(s, "string"), _kcore(max_iter=3)),
    "kcore-messy": (_messy, _kcore(max_iter=4)),
    "kcore-k-above-max-degree": (_graph, _kcore(k=5)),
    "kcore-power-law": (lambda s: _power_law(s, 150, 600, 11), _kcore(k=3)),
    "kcore-nan": (_nan, _kcore()),
    "scc-path": (_graph, _scc),
    "scc-string": (lambda s: _named(s, "string"), _scc),
    "scc-messy": (_messy, _scc),
    "scc-power-law": (lambda s: _power_law(s, 120, 300, 15, "int"), _scc),
    "scc-nan": (_nan, _scc),
    # NaN between 25 and 26: a singleton SCC named by NaN
    "scc-nan-singleton": (lambda s: _nan(s, ((26.0, 25.0),)), _scc),
}


def _finished_locally(caplog):
    return any(": local finish of " in r.getMessage() for r in caplog.records)


@pytest.mark.parametrize("name", list(PATH_CASES))
def test_local_finish_matches_spark_rounds(spark, monkeypatch, caplog, name):
    """The same rows, schema and nullability from the Spark rounds and
    from the local finish (cut runs included: the path needs about 47
    peel rounds). Every SCC case has a second phase to finish."""
    build, call = PATH_CASES[name]
    edges = build(spark)
    out = {}
    for bound in (-1, session.LOCAL_FINISH_ROWS):
        monkeypatch.setattr(session, "LOCAL_FINISH_ROWS", bound)
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="graph_etl_spark"):
            df = call(edges)
        # repr, so NaN ids compare equal
        out[bound] = (sorted(tuple(map(repr, r)) for r in df.collect()), df.schema)
        assert _finished_locally(caplog) == (bound >= 0)
    spark_path, local = out.values()
    assert local == spark_path


@pytest.mark.parametrize("op", ["kcore", "scc"])
def test_local_finish_on_empty_edges(spark, monkeypatch, op):
    call = _kcore() if op == "kcore" else _scc
    for name, edges in _empty_shapes(spark).items():
        out = {}
        for bound in (-1, session.LOCAL_FINISH_ROWS):
            monkeypatch.setattr(session, "LOCAL_FINISH_ROWS", bound)
            df = call(edges)
            out[bound] = (df.collect(), df.schema)
        spark_path, local = out.values()
        assert local == spark_path and not local[0], name


@pytest.mark.parametrize("seed", [21, 24])
def test_scc_tail_matches_networkx(spark, caplog, seed):
    """Seeded random directed graphs whose second phase finishes
    locally give networkx's components, each named by its min id."""
    nx = pytest.importorskip("networkx")
    rnd = random.Random(seed)
    n = 90
    pairs = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(150)]
    with caplog.at_level(logging.DEBUG, logger="graph_etl_spark"):
        rows = ops.strongly_connected_components(
            spark.createDataFrame(pairs, "src long, dst long")
        ).collect()
    assert _finished_locally(caplog)
    g = nx.DiGraph(pairs)
    expected = {v: min(c) for c in nx.strongly_connected_components(g) for v in c}
    assert {r.id: r.scc_id for r in rows} == expected
