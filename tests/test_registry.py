"""The gate on the query registry of ``__spark_entry__``.

Three contract tests: every query has an oracle, the bench's headline
names registered queries, and the first 50 entries keep the order an
outside driver scores.

One sweep over every registered query at sf0.001 checks behaviour. It
builds the query, checks that every window spec is partitioned, and
noop-writes the result. The jobs and stages of build plus write (one
``metrics.measure``) and the physical plan's operator counts must equal
the query's entry in ``tests/registry_counters.json`` (``_TOLERANCE``
names the one exception). A change that
moves a count re-pins that entry to the value the failure message
prints, and says why. The same sweep records every frame a query ranks
through the similarity top-k primitive ``_topk`` and checks that its
plan prunes each map partition to k rows per query before the shuffle.
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from graph_etl_spark.metrics import measure  # noqa: E402
from graph_etl_spark.operators import similarity  # noqa: E402
from graph_etl_spark.plans import plan_string  # noqa: E402

COUNTERS = os.path.join(ROOT, "tests", "registry_counters.json")
OPERATORS = (
    "Exchange", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)
# AQE re-plans each time a shuffle stage finishes. Where two stages run
# at once, their finishing order can change a join's build side and so
# the job count: events_retention broadcasts its distinct base (6 jobs)
# when that stage finishes first, else its per-user minimum (7 jobs).
# Repeated runs in local[4] at sf0.001 moved these four by one:
# events_retention 6 in 16 of 40 runs, dedup_minhash_audit 15 in 3 of
# 4, sim_ivfpq_topk 24 in 4 of 8, q21_waiting_orders' write 9 vs 10
# jobs in two fresh processes. Every other counter is compared with ==.
_TOLERANCE = {
    name: {"jobs": 1, "stages": 1}
    for name in (
        "events_retention", "dedup_minhash_audit", "sim_ivfpq_topk", "q21_waiting_orders",
    )
}


def test_every_query_has_an_oracle():
    qs, osql = entry.queries(), entry.oracle_sql()
    missing = sorted(set(qs) - set(osql))
    assert not missing, f"queries without oracle_sql entries: {missing}"
    orphans = sorted(set(osql) - set(qs))
    assert not orphans, f"oracle_sql entries without queries: {orphans}"


def test_bench_headline_subset_of_registry():
    import bench

    qs = entry.queries()
    missing = [q for q in bench.HEADLINE if q not in qs]
    assert not missing, f"bench HEADLINE references unknown queries: {missing}"


def test_driver_window_order():
    """An outside driver scores the first 50 entries; their order is
    the last window it scored."""
    with open(os.path.join(ROOT, "CORRECTNESS_r18.json")) as f:
        assert list(entry.queries())[:50] == list(json.load(f))


# Bounded-cardinality exceptions to the registry-wide unpartitioned-
# window sweep. Every entry must say WHY the window input is bounded —
# the sweep exists to stop data-sized single-reducer sorts, not k-row
# rank finishes (VERDICT r9 #4: allowlist <= 5, each with a comment).
_UNPARTITIONED_WINDOW_OK = {
    # orderBy().limit(k) compiles to TakeOrderedAndProject; the rank
    # window sees only the k surviving rows (k=10 in the registry)
    "text_bm25_rank",
    # same shape: TakeOrderedAndProject feeds a 15-row rank window
    "topk_orders",
    # two bounded windows: the query-side vector-id assignment ranks
    # tens of rows (one query document), and the final rank sees only
    # the k TakeOrderedAndProject survivors
    "sim_maxsim_topk",
    # the rank window runs AFTER the top-k take: 100 rows
    "text_zipf_fit",
    # the rank window runs AFTER the top-k take: 15 rows
    "text_textrank_keywords",
}


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window specs with no partition: a partitioned spec leads with a
    bare partition column; an unpartitioned one leads either with an
    ORDER BY column carrying an ASC/DESC marker or (order-less global
    frames, e.g. an unbounded count) directly with
    specifiedwindowframe."""
    specs = re.findall(r"windowspecdefinition\(([^,)]+)[,)]", plan)
    return [
        s
        for s in specs
        if "ASC" in s or "DESC" in s or s.strip().startswith("specifiedwindowframe")
    ]


def _python_ranks(plan: str) -> bool:
    """Whether a MapInPandas of ``plan`` can rank a query's scored
    rows: it lies outside the subtree of every Partial
    ``WindowGroupLimit`` on query_id (a node's subtree is the run of
    lines after it that are indented deeper), or it reads a query_id
    column, as a per-partition reducer of scored rows does. The exact
    scans' scorer reads only data rows and emits the pairs."""
    partial = None  # indent of the Partial whose subtree we are in
    for line in plan.splitlines():
        op = line.lstrip(" :+-")
        indent = len(line) - len(op)
        if partial is not None and indent <= partial:
            partial = None
        is_partial = op.startswith("WindowGroupLimit [query_id#") and op.endswith("Partial")
        if partial is None and is_partial:
            partial = indent
        elif op.startswith("MapInPandas") and (
            partial is None or "query_id#" in op.split(")#")[0]
        ):
            return True
    return False


def _unpruned_topk(plan: str) -> str | None:
    """Why a ``_topk`` frame's physical plan lets one reducer rank every
    scored row of a query, or None when it does not.

    A rank window bounded by ``rank <= k`` plans as WindowGroupLimit
    twice: Final above the query_id exchange and Partial below it, so
    each map partition keeps k rows per query before the shuffle. The
    frame's own window is the first one its plan prints. Where its
    input is already partitioned by query_id, Spark drops the exchange
    and the Partial; that input must then be an earlier top-k's
    output, which is itself a recorded frame. A Python stage may only
    score pairs below a Partial limit (the exact scans' numpy scorer);
    one at or above it, or one that reads query_id, ranks them."""
    if _python_ranks(plan):
        return "ranks through a Python stage (MapInPandas)"
    ops = [
        line.lstrip(" :+-")
        for line in plan.splitlines()
        if not line.lstrip(" :+-").startswith("Sort [")
    ]
    limits = [
        i for i, op in enumerate(ops) if op.startswith("WindowGroupLimit [query_id#")
    ]
    if not limits or not ops[limits[0]].endswith("Final"):
        return "no WindowGroupLimit on its rank window"
    top = limits[0]
    if ops[top + 1].startswith("Exchange hashpartitioning(query_id#"):
        if top + 2 in limits and ops[top + 2].endswith("Partial"):
            return None
        return "no partial WindowGroupLimit below its query_id exchange"
    if len(limits) > 1:
        return None
    return "ranks an input no earlier top-k has pruned"


def _release(spark) -> None:
    """Drop what a query left pinned or cached, as bench.py does
    between queries, so the next query starts from a clean session."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


def _query_counters(spark, fn, sf_dir: str) -> tuple[str, dict[str, int]]:
    """Build ``fn(spark, sf_dir)``, noop-write it, and return its
    physical plan and its counters: jobs and stages of build plus
    write, then the plan's operator counts."""

    def build_and_write():
        df = fn(spark, sf_dir)
        plan = plan_string(df)
        df.write.format("noop").mode("overwrite").save()
        return plan

    plan, cost = measure(spark, build_and_write)
    counts = {"jobs": cost["jobs"], "stages": cost["stages"]}
    counts.update({op: plan.count(op) for op in OPERATORS})
    return plan, counts


def test_registry_sweep(spark, sf_dir, monkeypatch):
    """Every registered query: no unpartitioned window (VERDICT r9 #4)
    outside the allowlist, counters equal to the committed ones, and
    every top-k it ranks pruned before its exchange."""
    with open(COUNTERS) as f:
        pinned = json.load(f)
    topk, topk_frames = similarity._topk, []

    def recording_topk(*args, **kwargs):
        topk_frames.append(topk(*args, **kwargs))
        return topk_frames[-1]

    monkeypatch.setattr(similarity, "_topk", recording_topk)
    offenders, moved, unpruned, ranked = {}, [], {}, set()
    _release(spark)
    for name, fn in entry.queries().items():
        topk_frames.clear()
        plan, counts = _query_counters(spark, fn, sf_dir)
        if topk_frames:
            ranked.add(name)
            faults = {_unpruned_topk(plan_string(df)) for df in topk_frames} - {None}
            if faults:
                unpruned[name] = sorted(faults)
        _release(spark)
        bad = _unpartitioned_windows(plan)
        if bad and name not in _UNPARTITIONED_WINDOW_OK:
            offenders[name] = bad[:3]
        old, tol = pinned.get(name, {}), _TOLERANCE.get(name, {})
        diff = [
            f"{k} {old.get(k)} -> {v}"
            for k, v in counts.items()
            if k not in old or abs(old[k] - v) > tol.get(k, 0)
        ]
        if diff:
            moved.append(f"{name}: {', '.join(diff)}; counts {json.dumps(counts)}")
    stale = sorted(set(pinned) - set(entry.queries()))
    assert not offenders, f"unpartitioned windows: {offenders}"
    assert {"sim_cosine_topk", "sim_mmr_rerank"} <= ranked, sorted(ranked)
    assert not unpruned, f"top-k not pruned before its exchange: {unpruned}"
    assert not moved and not stale, (
        "registry counters moved (re-pin in tests/registry_counters.json):\n"
        + "\n".join(moved + [f"{name}: pinned but not registered" for name in stale])
    )
