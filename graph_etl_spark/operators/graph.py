"""Graph algorithms over node/edge DataFrames (GraphX-style surface,
DataFrame-native — no RDDs).

The staged property graph (SURVEY.md §1) is just two DataFrames, so
graph ops compose directly: degrees (one agg), connected components
(iterative small-star label propagation — the Pregel pattern as a
driver loop over joins), PageRank (power iteration).

Scale notes: each CC/PageRank iteration is one shuffle on the vertex
id; iteration counts are O(log n) for CC small-star. Frames are
checkpointed per iteration to truncate lineage (else the plan doubles
every round and the driver OOMs on plan size long before data size
matters).

Every frame an operator pins goes through the call's one
``session.Pins`` scope (private helpers take the caller's). A round is
``pins.advance(prev, plan, probes)``: the eager checkpoint with its
convergence probes in one job, then the release of the superseded
state (a Pregel superstep, Malewicz et al. 2010). The call returns
``pins.result(out)``, so only the pins ``out`` reads outlive it.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .. import session
from ..session import Pins


def degrees(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, in_degree, out_degree, degree) for every endpoint."""
    out_d = edges.groupBy(F.col(src).alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col(dst).alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "id", "full")
        .select(
            "id",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            (F.coalesce("in_degree", F.lit(0)) + F.coalesce("out_degree", F.lit(0))).alias(
                "degree"
            ),
        )
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) in both directions for every edge of the simple
    undirected graph: NULL endpoints and self-loops dropped, duplicates
    collapsed."""
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(
            F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
        )
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) with component = min vertex id reachable
    (undirected). Each round: (1) adopt the min label in the closed
    neighborhood, (2) pointer-jump (component := component's component
    — the Shiloach-Vishkin shortcut), so label distance roughly doubles
    per round and convergence is ~O(log diameter) rounds, not
    O(diameter). Two shuffles per round; the round's eager checkpoint
    also counts the vertices whose label changed (an ``observe`` probe
    riding the same job), and the loop exits when that count is 0.

    Raises RuntimeError if ``max_iter`` rounds pass without reaching
    the fixpoint — a silently-partial labeling would propagate wrong
    cluster assignments into dedup_clusters."""
    # NOTE for callers: both symmetrization legs read the edge plan.
    # A distinct-/exchange-topped pipeline (the banded-LSH generators)
    # is deduplicated by Spark's ReuseExchange and costs nothing extra;
    # a plan whose top is fresh compute (a cell-join cosine generator)
    # executes twice — such callers pin their pair frame first
    # (see semantic_dedup_survivors).
    pins = Pins("connected_components")
    sym = pins.pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct(),
    )
    verts = sym.select(F.col("a").alias(id_col)).distinct()
    if vertices is not None:
        verts = verts.unionByName(vertices.select(id_col)).distinct()
    labels = pins.pin(verts.select(id_col, F.col(id_col).alias("component")))

    converged = False
    for _ in range(max_iter):
        # (1) min label among neighbors; the round's STARTING label
        # rides along as __old so convergence is checkable without a
        # second join against the previous labels frame
        neighbor_min = (
            sym.join(labels, sym.b == labels[id_col])
            .groupBy(F.col("a").alias(id_col))
            .agg(F.min("component").alias("nbr_min"))
        )
        propagated = labels.join(neighbor_min, id_col, "left").select(
            id_col,
            F.col("component").alias("__old"),
            F.least(
                F.col("component"), F.coalesce("nbr_min", F.col("component"))
            ).alias("component"),
        )
        # (2) pointer jump: follow the label one hop (labels are always
        # existing vertex ids, so the self-join resolves); doubles the
        # effective propagation distance each round
        lookup = propagated.select(
            F.col(id_col).alias("__cid"), F.col("component").alias("__cc")
        )
        jumped = propagated.join(
            lookup, propagated["component"] == F.col("__cid"), "left"
        ).select(
            id_col,
            "__old",
            F.least(
                F.col("component"), F.coalesce("__cc", F.col("component"))
            ).alias("component"),
        )
        # ONE job per round: the eager checkpoint truncates lineage
        # and the changed-label count rides it as an observe probe
        snap, probe = pins.advance(
            labels,
            jumped,
            {"changed": F.count_if(F.col("__old") != F.col("component"))},
        )
        labels = snap.select(id_col, "component")
        if probe["changed"] == 0:
            converged = True
            break
    if not converged:
        pins.result(None)
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; labels would be silently wrong — raise max_iter "
            "(rounds needed ≈ log2(graph diameter) + 2)"
        )
    return pins.result(labels)


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate-cluster assignment from a near-dup pair list: connected
    components over the pair graph, singletons keeping their own id —
    the standard 'minhash pairs → dedup groups' final stage.
    Output: (doc_id, cluster_id = min doc_id in component)."""
    cc = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        max_iter=max_iter,
    )
    return (
        all_ids.select(F.col(id_col))
        .join(cc.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """(id, pagerank) by power iteration with uniform teleport over the
    vertex set; dangling mass redistributed uniformly. One shuffle per
    iteration; ranks checkpointed to truncate lineage.

    The dangling-rank sum stays IN the plan: a 1-row global aggregate
    broadcast-joined into the rank update, so each iteration is one
    action (the eager checkpoint) instead of a separate driver
    ``collect()`` job per round. Expression grouping mirrors the
    oracle's ``(1-d)/n + d*dangling/n + d*in_sum`` left-to-right so the
    IEEE-double results stay bit-identical."""
    pins = Pins("pagerank")
    e, out_deg, ew = _out_edges(pins, edges, src, dst)
    # every round joins verts: its pin's observed size keeps the rank
    # joins broadcast
    verts = pins.pin(
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .join(
            out_deg.select("id", F.lit(True).alias("__has_out")), "id", "left"
        ),
    )
    n = verts.count()
    rank_expr = (
        F.lit((1.0 - damping) / n)
        + F.lit(damping) * F.col("__dangling") / F.lit(float(n))
        + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
    )
    ranks = _rank_rounds(
        pins, ew, verts, verts.withColumn("rank", F.lit(1.0 / n)), rank_expr, max_iter
    )
    return pins.result(
        ranks.select("id", F.round("rank", round_to).alias("pagerank"))
    )


def _out_edges(pins: Pins, edges: DataFrame, src: str, dst: str):
    """(e, out_deg, ew) of a power iteration: the pinned non-NULL (a, b)
    edges, their out-degree table, and the edges with out_deg joined
    in. Loop-invariant hoisting (optimization guide §2.4): the edge
    list, the out-degree join, and the dangling-vertex set never change
    across iterations. Pre-joining out_deg ONCE means each round pays a
    single rank join instead of two; the callers mark the dangling
    vertices (no out-edge) with a static flag carried on the rank
    frame, so the per-round anti-join disappears and the dangling sum
    aggregates the SAME rank values, just located by flag."""
    e = pins.pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
        ),
        eager=False,
    )
    out_deg = e.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("out_deg"))
    ew = pins.pin(e.join(out_deg.withColumnRenamed("id", "a"), "a"), eager=False)
    return e, out_deg, ew


def _rank_rounds(pins, ew, verts, ranks, rank_expr, max_iter):
    """``max_iter`` power-iteration rounds over ``ranks`` (``verts``'
    columns plus ``rank``): per round one rank join and one
    aggregate, the dangling-rank sum as an in-plan 1-row broadcast,
    and one eager checkpoint. ``rank_expr`` reads the round's
    ``in_sum`` and ``__dangling``."""
    for i in range(max_iter):
        contrib = (
            ew.join(ranks.select(F.col("id").alias("a"), "rank"), "a")
            .select(F.col("b").alias("id"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("in_sum"))
        )
        dangling = (
            ranks.filter(F.col("__has_out").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling"))
        )
        # the superseded rank frame is released; round 0's ranks is a
        # projection of verts, which every round reads
        ranks, _ = pins.advance(
            ranks if i else None,
            verts.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(*verts.columns, rank_expr.alias("rank")),
        )
    return ranks


def _forward_edges(und: DataFrame) -> DataFrame:
    """Degree-rank FORWARD orientation of a canonical (u < v) simple
    edge frame — the compact-forward preprocessing (Latapy 2008;
    Schank & Wagner 2005 "forward" algorithm): each undirected edge
    points from its LOWER-rank endpoint to its higher-rank endpoint,
    rank = (degree, id) lexicographic (id tie-break keeps the
    orientation deterministic, so an oracle mirrors it exactly).

    Output: (a, b, ad, bd) with rank(a) < rank(b) and ad/bd the
    endpoint degrees — the degree columns ride along so the wedge
    join can compare neighbor ranks without another join.

    Why this matters at 100 TB: wedge candidates are generated per
    FORWARD-adjacency pair, and under degree ordering every vertex's
    forward degree is O(sqrt(m)) — a power-law hub points almost all
    its edges INWARD (its neighbors have lower degree, hence lower
    rank), so the O(deg²) skewed-hub blowup of raw-id orientation
    cannot happen (`tests/test_graph.py` pins this on a star
    fixture)."""
    deg = (
        und.select(F.col("u").alias("__id"))
        .unionAll(und.select(F.col("v").alias("__id")))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    e = (
        und.join(deg.withColumnRenamed("__id", "u"), "u")
        .withColumnRenamed("__deg", "__du")
        .join(deg.withColumnRenamed("__id", "v"), "v")
        .withColumnRenamed("__deg", "__dv")
    )
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("__du")).otherwise(F.col("__dv")).alias("ad"),
        F.when(u_first, F.col("__dv")).otherwise(F.col("__du")).alias("bd"),
    )


def _enumerate_triangles(und: DataFrame, pins: Pins) -> DataFrame:
    """Each triangle of the canonical simple graph exactly once, as
    (x, y, z) in DEGREE-RANK order — the compact-forward enumeration:
    orient edges low-rank→high-rank (``_forward_edges``), wedge-join
    the two forward edges out of the lowest-rank corner (rank-ordered
    so each unordered neighbor pair appears once), close with the
    forward edge between the two higher corners (which IS oriented
    y→z because rank(y) < rank(z)). Both the canonical frame (feeds
    the two degree-union legs plus the edge join) and the oriented
    frame (feeds three join branches) are checkpointed in the caller's
    scope so Catalyst doesn't re-instantiate the dedup subplan per
    branch."""
    und = pins.pin(und)
    fwd = pins.pin(_forward_edges(und))
    e1, e2, e3 = fwd.alias("e1"), fwd.alias("e2"), fwd.alias("e3")
    rank_lt = (F.col("e1.bd") < F.col("e2.bd")) | (
        (F.col("e1.bd") == F.col("e2.bd")) & (F.col("e1.b") < F.col("e2.b"))
    )
    return (
        e1.join(e2, (F.col("e1.a") == F.col("e2.a")) & rank_lt)
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle counts — the clustering-coefficient /
    community-density primitive completing the graph family
    (degrees / components / PageRank / triangles).

    Input edges are treated as UNDIRECTED: canonicalized to
    (u, v) = (min, max), self-loops dropped, duplicates collapsed.
    Output: (id, n_triangles), one row per vertex participating in at
    least one triangle.

    Plan: COMPACT-FORWARD enumeration (``_enumerate_triangles``) —
    edges oriented by degree rank (id tie-break), wedge join out of
    each triangle's lowest-rank corner, closed by the forward edge
    between the other two. Degree orientation bounds every vertex's
    forward adjacency at O(sqrt(m)), so the wedge fan-out survives
    power-law hubs — the raw-id orientation this replaced (r13 weak
    mark) generated O(deg²) candidates off a low-id hub. Triangle
    counts are orientation-invariant, so the output (and the SQL
    oracle) is unchanged."""
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    und = (
        edges.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    pins = Pins("triangle_count")
    tris = _enumerate_triangles(und, pins)
    return pins.result(
        tris.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def link_prediction_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """Missing-link candidate scoring — the classic link-prediction
    triple over an undirected graph: for every NON-edge pair (a, b)
    sharing at least ``min_common`` neighbors,
    common_neighbors = |Γ(a) ∩ Γ(b)|,
    adamic_adar = Σ_z 1/ln(deg(z)) over the shared neighbors z, and
    jaccard = cn / (deg(a) + deg(b) - cn) — the recommendation /
    knowledge-graph-completion primitive on the product side of a
    graph ETL.

    Input edges are canonicalized undirected (self-loops dropped,
    duplicates collapsed). Output: (a, b, common_neighbors,
    adamic_adar, jaccard) with a < b.

    Plan: symmetric adjacency (two map-side selects of the
    checkpointed canonical edge set — it feeds four branches) →
    wedge self-join on the CENTER z (one key shuffle; a < b keeps
    each candidate once) → left-anti against the edge set (existing
    edges out) → per-pair aggregate → degree join for the endpoint
    terms. Wedge fan-out is Σ_z deg(z)², so HUB CENTERS dominate at
    scale: ``max_degree`` drops wedge centers above the cap BEFORE
    the self-join — the standard bound (a z with a million neighbors
    contributes ~nothing to adamic_adar anyway: 1/ln(10^6) per pair,
    and its pairs are the least informative) — making candidate
    growth linear in edges at fixed cap, the ngram-cap argument.

    Cross-engine determinism: each 1/ln(deg) term rounds to 6 dp as
    DECIMAL(18,6) before the exact decimal sum (order-free); jaccard
    rounds at 6 dp; deg(z) >= 2 for any shared neighbor so ln never
    hits zero. The ln itself is the same last-ulp bet as the green
    logprob oracles."""
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    pins = Pins("link_prediction_scores")
    und = pins.pin(
        edges.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("z"), F.col("v").alias("x")).unionByName(
        und.select(F.col("v").alias("z"), F.col("u").alias("x"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    centers = adj.join(deg, "z")
    if max_degree is not None:
        centers = centers.filter(F.col("deg") <= int(max_degree))
    a1 = centers.select("z", F.col("x").alias("a"), F.col("deg"))
    a2 = centers.select("z", F.col("x").alias("b"))
    wedges = a1.join(a2, "z").filter(F.col("a") < F.col("b"))
    cand = wedges.join(
        und,
        (wedges["a"] == und["u"]) & (wedges["b"] == und["v"]),
        "left_anti",
    )
    aa_term = F.round(F.lit(1.0) / F.log(F.col("deg")), 6).cast(
        "decimal(18,6)"
    )
    pair = (
        cand.select("a", "b", aa_term.alias("__t"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("__t").cast("double").alias("adamic_adar"),
        )
        .filter(F.col("common_neighbors") >= int(min_common))
    )
    deg_a = deg.select(F.col("z").alias("a"), F.col("deg").alias("__da"))
    deg_b = deg.select(F.col("z").alias("b"), F.col("deg").alias("__db"))
    return pins.result(
        pair.join(deg_a, "a")
        .join(deg_b, "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            "adamic_adar",
            F.round(
                F.col("common_neighbors")
                / (F.col("__da") + F.col("__db") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(id, degree) for the vertices of the k-CORE: the maximal
    subgraph where every vertex keeps degree >= k after all lower-
    degree vertices (and their edges) are removed — the density
    backbone used for community seeds and influence pruning.

    Algorithm: iterative peeling. Each round computes undirected
    degrees over the surviving edge set and drops vertices under k;
    edges incident to a dropped endpoint go with them. Converges when
    a round removes nothing: each round's eager checkpoint also counts
    the surviving edges (an ``observe`` probe riding the same job), so
    the check costs no job of its own. The result is the classic
    fixpoint, independent of peel order.

    Scale: each round is one map-side edge symmetrization, one degree
    aggregation, and two semi-joins — all shuffling on vertex id; the
    surviving frame is checkpointed per round to truncate lineage
    (the connected_components discipline) and the superseded round's
    blocks are released, so only the edge set the result reads stays
    pinned. Rounds are bounded by ``max(1, max_iter)`` (the peel
    usually stabilizes in a handful of rounds on power-law graphs:
    each round removes the entire current sub-``k`` shell, not one
    vertex); a run cut there returns the partial peel, the vertices of
    degree >= k after its last round.

    Once the deduped edge set has at most ``session.LOCAL_FINISH_ROWS``
    rows (2^20, fixed: the largest size measured, where one task was
    3.4x faster; the input checkpoint's probe already counted them),
    the whole peel runs in numpy in one task instead
    (``Pins.finish``): the same rounds, counted against the same
    ``max(1, max_iter)``, so a cut run returns the same rows on both
    paths. Only larger edge sets take the Spark rounds."""
    # undirected simple graph: canonical-order the endpoints, dedupe,
    # drop self-loops (a self-loop would count itself twice and can
    # never be peeled)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def core(e):
        """(id, degree) of the vertices of degree >= k in ``e``."""
        return (
            e.select(F.col("a").alias("id"))
            .unionAll(e.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
            .filter(F.col("degree") >= int(k))
        )

    pins = Pins("kcore")
    e, probe = pins.advance(None, e)
    n_edges = probe["rows"]
    rounds = max(1, max_iter)
    if n_edges <= session.LOCAL_FINISH_ROWS:
        peel = _peel(int(k), rounds)
        return pins.result(pins.finish(e, peel, core(e).schema, n_edges))
    for _ in range(rounds):
        keep = core(e).select("id")
        # pruned is materialized, so nothing reads e any more
        e, probe = pins.advance(
            e,
            e.join(keep, e.a == keep.id, "left_semi").join(
                keep, e.b == keep.id, "left_semi"
            ),
        )
        if probe["rows"] == n_edges:
            break
        n_edges = probe["rows"]
    return pins.result(core(e))


def _peel(k: int, rounds: int):
    """kcore's peel as a pandas function of an (a, b) edge frame: the
    Spark loop's synchronous rounds in numpy (each drops every vertex
    of degree < k at once, and a round that drops nothing ends the
    peel), at most ``rounds`` of them, then (id, degree) of the
    vertices of degree >= k, ids in first-appearance order. A closure,
    so it pickles by value and a worker needs no import of this
    package."""
    column = _nan_kept()

    def peel(edges: pd.DataFrame) -> pd.DataFrame:
        # NaN is one vertex, as Spark groups and joins it
        codes, ids = pd.factorize(
            pd.concat([edges["a"], edges["b"]], ignore_index=True),
            use_na_sentinel=False,
        )
        a, b = codes[: len(edges)], codes[len(edges):]

        def degree():
            return np.bincount(a, minlength=len(ids)) + np.bincount(
                b, minlength=len(ids)
            )

        for _ in range(rounds):
            keep = degree() >= k
            live = keep[a] & keep[b]
            if live.all():
                break
            a, b = a[live], b[live]
        deg = degree()
        core = (deg >= k) & (deg > 0)
        return pd.DataFrame(
            {"id": column(ids[core]), "degree": deg[core].astype(np.int64)}
        )

    return peel


def _nan_kept():
    """A function that makes an id column of a finish's output keep a
    float NaN as a value: PySpark's Arrow conversion writes NaN in a
    plain float column as null, but not in an Arrow-backed one. Other
    dtypes pass through. Nested, so it pickles by value with its
    caller's closure."""

    def column(values):
        import pyarrow as pa

        values = np.asarray(values)
        if values.dtype.kind != "f":
            return values
        return pd.arrays.ArrowExtensionArray(pa.array(values))

    return column


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA):
    every vertex starts with its own id and each round adopts the most
    frequent label in its CLOSED neighborhood (self + neighbors), ties
    broken toward the smallest label — the cheap community-structure
    primitive between connected components (pure reachability) and
    the density family (triangles / k-core).

    Runs a FIXED ``n_iter`` synchronous rounds rather than to a
    fixpoint: synchronous LPA can oscillate on bipartite-ish regions,
    so the fixed round count plus the deterministic
    (count DESC, label ASC) vote makes the output reproducible on any
    engine/partitioning — exactly what the unrolled SQL oracle mirrors.

    Output: (id, label). Scale: per round one neighbor-join, one
    (id, label) count aggregation, and one per-id argmax window — all
    shuffling on vertex id; labels checkpoint per round (the
    connected_components lineage discipline)."""
    pins = Pins("label_propagation")
    sym = pins.pin(_undirected(edges, src, dst))
    labels = pins.pin(
        sym.select(F.col("a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
    )
    argmax = Window.partitionBy("id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    for _ in range(max(1, int(n_iter))):
        votes = (
            sym.join(labels.withColumnRenamed("id", "b"), "b")
            .select(F.col("a").alias("id"), "label")
            .unionAll(labels)
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        labels, _ = pins.advance(
            labels,
            votes.withColumn("__rn", F.row_number().over(argmax))
            .filter(F.col("__rn") == 1)
            .select("id", "label"),
        )
    return pins.result(labels)


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source BFS hop distance over the undirected graph:
    (id, distance) for every vertex reachable from ANY source within
    ``max_hops`` hops (distance = hops to the NEAREST source) — the
    shortest-path primitive (ego networks, blast-radius, seed
    expansion) completing the traversal side of the graph family.

    Frontier algorithm: each round expands only the rows discovered
    last round (the frontier), anti-joins away already-visited
    vertices, and stops early when the frontier empties — per round
    one join shuffle on vertex id, with visited/frontier frames
    checkpointed to truncate lineage and the superseded ones released.
    At 100 TB the frontier and visited sets are vertex-sized (<< edge
    count) and the single big edge frame is only ever the probe side
    of the expansion join."""
    pins = Pins("bfs_distances")
    sym = pins.pin(_undirected(edges, src, dst))
    [src_col] = sources.columns
    frontier = pins.pin(sources.select(F.col(src_col).alias("id")).distinct())
    visited = pins.pin(frontier.withColumn("distance", F.lit(0)))
    for hop in range(1, max(1, int(max_hops)) + 1):
        frontier, probe = pins.advance(
            frontier,
            sym.join(frontier.withColumnRenamed("id", "a"), "a")
            .select(F.col("b").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti"),
        )
        if probe["rows"] == 0:
            break
        visited, _ = pins.advance(
            visited,
            visited.unionByName(frontier.withColumn("distance", F.lit(hop))),
        )
    return pins.result(visited)


def hits(
    edges: DataFrame,
    max_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """HITS hubs-and-authorities by power iteration over the DIRECTED
    edge set: authority(v) = Σ hub(u) over in-edges, hub(u) = Σ auth(v)
    over out-edges, each re-normalized per round — the query-dependent
    ranking complement to PageRank's global stationary walk.

    Determinism contract: per round, the incoming scores are rounded
    to 9 dp and summed as DECIMAL(28,9) (exact on any partitioning),
    and normalization divides by the round's MAXIMUM score — max is
    order-independent where an L2 norm's sum-of-squares would reopen
    the double-summation hole; the division is one IEEE op. Scores
    re-round to 9 dp before the next round, so both engines iterate
    identical values; final output rounds to ``round_to``.

    Output: (id, hub, authority) over all vertices.

    Scale: per round two edge-join aggregations shuffling on vertex
    id and two 1-row max aggregates that stay IN the plan (broadcast
    crossJoin — no driver collect); scores checkpoint per round (the
    connected_components lineage discipline)."""
    pins = Pins("hits")
    e = pins.pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
        ).distinct()
    )
    verts = pins.pin(
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
    )
    scores = verts.select(
        "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
    )

    def half(scores, frm, to, score, name):
        """(raw, normalized): the edge-keyed sum of ``score`` from the
        ``frm`` endpoint onto the ``to`` endpoint (exact decimals), and
        its max-normalization as ``name``, 9 dp."""
        raw = pins.pin(
            e.join(scores.withColumnRenamed("id", frm), frm)
            .groupBy(F.col(to).alias("id"))
            .agg(
                F.sum(F.round(F.col(score), 9).cast("decimal(28,9)"))
                .cast("double")
                .alias("__raw")
            ),
            eager=False,
        )
        top = raw.agg(F.max("__raw").alias("__max"))
        return raw, verts.join(raw, "id", "left").crossJoin(F.broadcast(top)).select(
            "id",
            F.round(F.coalesce(F.col("__raw"), F.lit(0.0)) / F.col("__max"), 9).alias(
                name
            ),
        )

    for i in range(max(1, int(max_iter))):
        # Pin the edge-shuffle aggregates (guide §2.4): auth_raw is
        # read by its own max-agg, by the normalized auth join, and —
        # through auth — by hub_raw AND the round-end scores join;
        # unpinned, one round evaluated the e⋈scores shuffle up to 4×
        # (the same subtree under different parents defeats exchange
        # reuse). Pinned, each round pays exactly its two edge-keyed
        # aggregations. Lazy pins: the round-end eager checkpoint
        # materializes them, values bit-identical.
        auth_raw, auth = half(scores, "a", "b", "hub", "authority")
        auth = pins.pin(auth, eager=False)
        hub_raw, hub = half(auth, "b", "a", "authority", "hub")
        # round frames are dead once the new scores materialize;
        # round 0's scores is a projection of verts, which every round
        # reads
        scores, _ = pins.advance(
            (auth_raw, auth, hub_raw, scores if i else None),
            hub.join(auth, "id"),
        )
    return pins.result(
        scores.select(
            "id", F.round("hub", round_to).alias("hub"),
            F.round("authority", round_to).alias("authority"),
        )
    )


def bellman_ford(
    edges: DataFrame,
    sources: DataFrame,
    weight: str | None = None,
    max_iter: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Weighted single/multi-source shortest distances by synchronous
    Bellman-Ford relaxation over the undirected graph — the weighted
    upgrade of ``bfs_distances`` (hop counts are the weight-1 special
    case). INTEGER weights only: distances stay exact integers, so
    there is no floating-point tie ambiguity on any engine.

    Runs ``max_iter`` relaxation rounds (shortest paths using at most
    that many edges — pass >= the graph's weighted-path hop bound for
    the exact fixpoint) with an early exit when a round improves
    nothing. Output: (id, distance) for reached vertices.

    Scale: per round, one join of the current distance frame against
    the edge list (shuffling on vertex id) and one min-aggregation;
    the distance frame is vertex-sized and checkpoints per round (the
    connected_components lineage discipline). The round's previous
    distance rides the min-aggregation as ``__old``, so the
    convergence probe (a vertex reached for the first time, or
    brought closer) is an ``observe`` metric on the checkpoint job,
    not a job of its own."""
    w_col = (
        F.col(weight).cast("long")
        if weight
        else F.lit(1).cast("long")
    )
    pins = Pins("bellman_ford")
    sym = pins.pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), w_col.alias("w"))
        .unionByName(
            edges.select(
                F.col(dst).alias("a"), F.col(src).alias("b"), w_col.alias("w")
            )
        )
        .filter(
            F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    [src_col] = sources.columns
    dist = pins.pin(
        sources.select(F.col(src_col).alias("id"))
        .distinct()
        .withColumn("distance", F.lit(0).cast("long"))
    )
    for _ in range(max(1, int(max_iter))):
        relaxed = (
            sym.join(dist.withColumnRenamed("id", "a"), "a")
            .select(
                F.col("b").alias("id"),
                (F.col("distance") + F.col("w")).alias("distance"),
                F.lit(None).cast("long").alias("__old"),
            )
            .unionByName(dist.withColumn("__old", F.col("distance")))
            .groupBy("id")
            .agg(F.min("distance").alias("distance"), F.min("__old").alias("__old"))
        )
        # a round that adds no vertex and lowers no distance is the
        # fixpoint
        snap, probe = pins.advance(
            dist,
            relaxed,
            {
                "changed": F.count_if(
                    F.col("__old").isNull() | (F.col("distance") < F.col("__old"))
                )
            },
        )
        dist = snap.select("id", "distance")
        if probe["changed"] == 0:
            break
    return pins.result(dist)


def neighbor_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-hop neighborhood feature aggregation (the GraphSAGE-mean
    primitive specialized to structural features): per vertex, its own
    degree plus the mean and max degree of its neighbors — the
    assortativity/hub-adjacency signal used as cheap node features for
    downstream rankers.

    Mean neighbor degree is exact (integer degree sum / count, one
    IEEE division rounded to 6 dp).

    Scale: degrees is one aggregation; the neighbor roll-up is one
    join of the symmetrized edges against the vertex-sized degree
    frame plus one aggregation — everything shuffles on vertex id,
    nothing is ever all-pairs."""
    sym = _undirected(edges, src, dst)
    deg = sym.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    nbr = (
        sym.join(deg.withColumnRenamed("id", "b").withColumnRenamed("degree", "nd"), "b")
        .groupBy(F.col("a").alias("id"))
        .agg(
            F.sum("nd").alias("__s"),
            F.count(F.lit(1)).alias("__n"),
            F.max("nd").alias("max_neighbor_degree"),
        )
    )
    return (
        deg.join(nbr, "id")
        .select(
            "id",
            "degree",
            F.round(F.col("__s").cast("double") / F.col("__n"), 6).alias(
                "mean_neighbor_degree"
            ),
            "max_neighbor_degree",
        )
    )


def _walk_starts(sym: DataFrame, walks_per_node: int) -> DataFrame:
    """(walk_id, start_id, node): ``walks_per_node`` walks starting at
    every vertex of the symmetrized edge frame ``sym``."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    verts = sym.select(F.col("a").alias("node")).distinct()
    node_type = sym.schema["a"].dataType
    if isinstance(node_type, (ByteType, ShortType, IntegerType, LongType)):
        walk_id = F.col("node") * int(walks_per_node) + F.col("__w")
    else:
        # string/decimal/etc ids: integer arithmetic would cast to
        # NULL and merge all walks into one window partition — use a
        # unique string key instead
        walk_id = F.concat_ws(
            ":", F.col("node").cast("string"), F.col("__w").cast("string")
        )
    return verts.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(int(walks_per_node) - 1))
        ).alias("__w"),
        "node",
    ).select(
        walk_id.alias("walk_id"),
        F.col("node").alias("start_id"),
        F.col("node"),
    )


def random_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_node: int = 2,
    seed: str = "walk",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DETERMINISTIC pseudo-random walks over the undirected graph —
    the node2vec/DeepWalk corpus generator re-expressed so the same
    graph always yields the same walks (training data must be
    reproducible): at every step the walker moves to the neighbor
    minimizing H56(seed : walk_id : step : neighbor), a fixed
    pseudo-random choice instead of an RNG draw.

    Output: (walk_id, start_id, step, node) — ``walks_per_node``
    walks of ``walk_length`` steps from every vertex (for integral
    vertex ids walk_id = start_id * walks_per_node + walk index; for
    any other id type the arithmetic would cast to NULL and collapse
    every walk into one window partition, so walk_id is the string
    key ``start_id ':' walk_index`` instead — equally unique, and
    the per-walk argmin only needs equality. Walks stop early at
    isolated positions — impossible on a symmetrized simple graph).

    Scale: per step, ONE join of the frontier (|V| x walks rows)
    against the edge list on the current node followed by a per-walk
    argmin — the join shuffles on vertex id, the argmin window on
    walk_id; frontier checkpoints per step (lineage discipline).
    """
    from .text import h56

    if int(walk_length) < 1 or int(walks_per_node) < 1:
        raise ValueError(
            "random_walks: walk_length and walks_per_node must be >= 1 "
            f"(got {walk_length}, {walks_per_node})"
        )
    pins = Pins("random_walks")
    sym = pins.pin(_undirected(edges, src, dst))
    out = pins.pin(_walk_starts(sym, walks_per_node).withColumn("step", F.lit(0)))
    cur = out
    for step in range(1, int(walk_length) + 1):
        cand = cur.join(sym, cur.node == sym.a).select(
            "walk_id",
            "start_id",
            F.col("b").alias("__next"),
            h56(
                F.concat_ws(
                    ":",
                    F.lit(str(seed)),
                    F.col("walk_id").cast("string"),
                    F.lit(str(step)),
                    F.col("b").cast("string"),
                )
            ).alias("__h"),
        )
        pick = Window.partitionBy("walk_id").orderBy("__h", "__next")
        # every step's frame stays pinned: the result unions them all
        cur = pins.pin(
            cand.withColumn("__rn", F.row_number().over(pick))
            .filter(F.col("__rn") == 1)
            .select("walk_id", "start_id", F.col("__next").alias("node"))
        )
        out = out.unionByName(cur.withColumn("step", F.lit(step)))
    return pins.result(out)


def node2vec_walks(
    edges: DataFrame,
    walk_length: int = 3,
    walks_per_node: int = 2,
    p: int = 4,
    q: int = 2,
    seed: str = "n2v",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DETERMINISTIC second-order (node2vec-style) biased walks — the
    p/q upgrade of ``random_walks``: at every step past the first,
    each candidate's 56-bit hash score is multiplied by an INTEGER
    penalty before the per-walk argmin — ``p`` for returning to the
    previous node, 1 for closing a triangle (candidate adjacent to
    the previous node), ``q`` for exploring outward. Larger p
    discourages backtracking (DFS-like), larger q discourages
    exploration (BFS-like) — the node2vec search bias re-expressed
    as a deterministic hash-argmin so the same graph always yields
    the same corpus. Integer penalties keep the score an exact int64
    on every engine (h < 2^56, penalty <= 64 → product < 2^62).

    Output: (walk_id, start_id, step, node) — identical shape to
    ``random_walks``.

    Scale: per step, one vertex-keyed join for candidates, one
    (prev, candidate)-keyed join against the symmetrized edges for
    the triangle test, and one per-walk argmin window — never
    all-pairs; the frontier checkpoints per step."""
    from .text import h56

    if int(walk_length) < 1 or int(walks_per_node) < 1:
        raise ValueError(
            "node2vec_walks: walk_length and walks_per_node must be >= 1 "
            f"(got {walk_length}, {walks_per_node})"
        )
    if not (1 <= int(p) <= 64 and 1 <= int(q) <= 64):
        raise ValueError(
            f"node2vec_walks: p and q must be integers in [1, 64] (got {p}, {q})"
        )
    pins = Pins("node2vec_walks")
    sym = pins.pin(_undirected(edges, src, dst))
    out = pins.pin(_walk_starts(sym, walks_per_node).withColumn("step", F.lit(0)))
    # cur carries (walk_id, start_id, node, prev); prev is NULL at step 0
    cur = pins.pin(
        out.select(
            "walk_id", "start_id", "node", F.lit(None).cast(sym.schema["a"].dataType).alias("prev")
        )
    )
    tri = sym.select(F.col("a").alias("__pa"), F.col("b").alias("__pb"))
    for step in range(1, int(walk_length) + 1):
        cand = cur.join(sym, cur.node == sym.a).select(
            "walk_id",
            "start_id",
            F.col("prev"),
            cur.node.alias("__at"),
            F.col("b").alias("__next"),
            h56(
                F.concat_ws(
                    ":",
                    F.lit(str(seed)),
                    F.col("walk_id").cast("string"),
                    F.lit(str(step)),
                    F.col("b").cast("string"),
                )
            ).alias("__h"),
        )
        scored = (
            cand.join(
                tri,
                (cand.prev == tri.__pa) & (cand.__next == tri.__pb),
                "left",
            )
            .withColumn(
                "__pen",
                F.when(F.col("prev").isNull(), F.lit(1))  # first step: uniform
                .when(F.col("__next") == F.col("prev"), F.lit(int(p)))
                .when(F.col("__pb").isNotNull(), F.lit(1))
                .otherwise(F.lit(int(q)))
                .cast("long"),
            )
            .withColumn("__score", F.col("__h") * F.col("__pen"))
        )
        pick = Window.partitionBy("walk_id").orderBy("__score", "__next")
        # every step's frame stays pinned: the result unions them all
        cur = pins.pin(
            scored.withColumn("__rn", F.row_number().over(pick))
            .filter(F.col("__rn") == 1)
            .select(
                "walk_id",
                "start_id",
                F.col("__next").alias("node"),
                F.col("__at").alias("prev"),
            )
        )
        out = out.unionByName(cur.select("walk_id", "start_id", "node").withColumn("step", F.lit(step)))
    return pins.result(out)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Personalized PageRank: power iteration where BOTH the teleport
    and the dangling-mass redistribution go to the SEED set only
    (uniformly over seeds) instead of all vertices — the
    importance-from-a-viewpoint score behind recommendation
    ("customers like these"), graph-based relevance expansion, and
    GraphSAGE-style neighborhood sampling. Seeds not in the graph
    still receive teleport mass (standard PPR over the closure).

    Same physical shape as ``pagerank``: one edge-keyed shuffle per
    iteration, the dangling sum as an in-plan 1-row broadcast, eager
    checkpoint per round; the rank expression groups
    (1-d)/s + d*dangling/s + d*in_sum left-to-right exactly as the
    unrolled SQL oracle."""
    [seed_col] = seeds.columns
    pins = Pins("personalized_pagerank")
    sdf = pins.pin(
        seeds.select(F.col(seed_col).alias("id"))
        .distinct()
        .withColumn("__seed", F.lit(1)),
    )
    s = sdf.count()
    if s == 0:
        raise ValueError("personalized_pagerank: seeds must be non-empty")
    e, out_deg, ew = _out_edges(pins, edges, src, dst)
    # pinned as in pagerank
    verts = pins.pin(
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .unionByName(sdf.select("id"))
        .distinct()
        .join(F.broadcast(sdf), "id", "left")
        .join(
            out_deg.select("id", F.lit(True).alias("__has_out")), "id", "left"
        ),
    )
    rank_expr = (
        F.when(
            F.col("__seed").isNotNull(),
            F.lit((1.0 - damping) / s)
            + F.lit(damping) * F.col("__dangling") / F.lit(float(s)),
        ).otherwise(F.lit(0.0))
        + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
    )
    ranks = verts.withColumn(
        "rank",
        F.when(F.col("__seed").isNotNull(), F.lit(1.0 / s)).otherwise(F.lit(0.0)),
    )
    ranks = _rank_rounds(pins, ew, verts, ranks, rank_expr, max_iter)
    return pins.result(ranks.select("id", F.round("rank", round_to).alias("ppr")))


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    comm_col: str = "community",
    round_to: int = 6,
) -> DataFrame:
    """Newman MODULARITY of a node partition over an undirected graph
    — the standard "is this grouping real structure?" score: per
    community c, q_c = e_c/m − (d_c/2m)², where m is the edge count,
    e_c the edges with BOTH endpoints in c, and d_c the community's
    degree mass; Q = Σ q_c ∈ [−0.5, 1], ≈0 for a random cut. Works
    with ANY partition source: an attribute (assortativity — do
    same-brand parts co-sell?), LPA labels, or CC clusters. Edges are
    taken as given (one row per undirected edge, canonical orientation
    upstream); endpoints missing from ``communities`` are dropped with
    their incident edge mass intact in m — an honest denominator.
    ``louvain_move`` uses the SAME missing-endpoint convention, so the
    iterate/meter pair agrees on m, degrees, and Σtot on
    partially-labeled graphs.

    Output: one row per community —
    (community, n_nodes, inner_edges, degree_sum, q) sorted by the
    caller; Q = SUM(q) over the rows.

    Determinism: m, e_c, d_c are exact integers; q evaluates as
    e/m − t·t (t = d/(2m)) in one fixed expression order, rounded at
    the end.

    Scale: two endpoint joins against the communities frame (broadcast
    when dimension-sized, shuffled equi-join otherwise — both sides
    keyed on the node id), then one map-side-combined aggregation per
    community. No iteration, no windows."""
    comm = communities.select(
        F.col(id_col).alias("__node"), F.col(comm_col).alias("community")
    )
    e = _label_ends(
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")),
        communities,
        id_col,
        comm_col,
    )
    m_row = e.agg(F.count(F.lit(1)).alias("__m"))
    # degree mass per community: each edge endpoint contributes 1 to
    # its community's d_c (undirected degree)
    deg = (
        e.select(F.col("__cs").alias("community"))
        .unionByName(e.select(F.col("__cd").alias("community")))
        .filter(F.col("community").isNotNull())
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("degree_sum"))
    )
    inner = (
        e.filter(
            F.col("__cs").isNotNull() & (F.col("__cs") == F.col("__cd"))
        )
        .groupBy(F.col("__cs").alias("community"))
        .agg(F.count(F.lit(1)).alias("inner_edges"))
    )
    nodes = (
        edges.select(F.col(src).alias("__node"))
        .unionByName(edges.select(F.col(dst).alias("__node")))
        .distinct()
        .join(comm, "__node")
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    md = F.col("__m").cast("double")
    t = F.col("degree_sum").cast("double") / (F.lit(2.0) * md)
    # m = 0 cannot reach the division: `nodes` is built from the edge
    # endpoints, so an empty edge set yields zero output rows
    q = F.coalesce(F.col("inner_edges"), F.lit(0)).cast("double") / md - t * t
    return (
        nodes.join(deg, "community", "left")
        .join(inner, "community", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("inner_edges"), F.lit(0)).alias("inner_edges"),
            F.coalesce(F.col("degree_sum"), F.lit(0)).alias("degree_sum"),
            F.round(q, round_to).alias("q"),
        )
    )


def _label_ends(e, communities, id_col, comm_col):
    """``e`` (endpoint columns __s, __d) with each endpoint's community
    as __cs / __cd, NULL where ``communities`` has no row for it."""

    def side(end, label):
        return communities.select(F.col(id_col).alias(end), F.col(comm_col).alias(label))

    return e.join(side("__s", "__cs"), "__s", "left").join(
        side("__d", "__cd"), "__d", "left"
    )


def _louvain_edges(
    edges: DataFrame, src: str, dst: str, weight_col: str | None
) -> DataFrame:
    """(__s, __d, __w) projection of the caller's edge frame — the
    label-independent half of ``louvain_move``'s input."""
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    return edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d"), w.alias("__w")
    )


def _louvain_invariants(e_raw: DataFrame) -> tuple[int, DataFrame]:
    """(m, deg) from the projected edge frame: total weight and the
    per-node incident-weight table. Both are LABEL-INDEPENDENT (they
    never read a community column), so loop callers compute them once
    and reuse them across move rounds; both are exact long sums, so
    the values are identical whichever round computes them."""
    m_row = e_raw.agg(F.sum("__w").alias("__m")).collect()[0]
    m = int(m_row["__m"] or 0)
    deg = (
        e_raw.select(F.col("__s").alias("__node"), "__w")
        .unionByName(e_raw.select(F.col("__d").alias("__node"), "__w"))
        .groupBy("__node")
        .agg(F.sum("__w").alias("__k"))
    )
    return m, deg


def louvain_move(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    comm_col: str = "community",
    weight_col: str | None = None,
    _prepared: tuple[DataFrame, int, DataFrame] | None = None,
    _pins: Pins | None = None,
) -> DataFrame:
    """One SYNCHRONIZED round of Louvain local moves (Blondel et al.
    2008, phase-1 step): every node evaluates its neighbors'
    communities against the CURRENT partition and moves to the one
    with the best modularity gain — the refinement step that turns any
    seed partition (an attribute, LPA labels, CC clusters) into a
    higher-Q one; iterate with ``modularity`` as the convergence
    meter. Removal-adjusted standard gain: for node i with degree k_i,
    candidate c scores S(c) = 2m·k_{i,c} − k_i·Σtot'(c) with Σtot'(c)
    excluding i's own degree when c is i's current community — EXACT
    integers (decimal(38,0) products), so the argmax carries no float
    risk; ties prefer staying, then the smaller community label.

    Partially-labeled graphs use the SAME convention as
    ``modularity`` (the meter this op iterates against): edges with an
    endpoint missing from ``communities`` stay in m and in every
    node's degree k_i — an unlabeled neighbor contributes degree mass
    but offers no candidate community — and only labeled nodes are
    scored/moved. The two ops therefore agree on m, k_i, and Σtot on
    any input.

    Output: (id, old_community, new_community, moved) — one row per
    LABELED node with at least one edge.

    Scale: degree/total tables are one aggregation each; k_{i,c} is
    one (node, community)-keyed count off the community-labeled edge
    list; the argmax is a NODE-keyed window over each node's candidate
    communities (bounded by its distinct-neighbor-community count).
    One scalar collect for m. No iteration inside — the caller owns
    the loop.

    ``weight_col`` turns every count into an exact integer-weight sum
    (m = Σw, k_i = Σ incident w, k_{i,c} = Σw into c) — the PHASE-2
    requirement: ``louvain_coarsen``'s contracted multigraph carries
    integer edge multiplicities, and a self-loop (c, c, w) contributes
    2w to c's degree and w to m (both endpoints are c), the standard
    weighted-Louvain accounting. Weights are cast to long — INTEGER
    weights are the contract (exact decimal scores, no float risk).

    ``_prepared`` (private, loop callers only): a
    ``(e_raw, m, deg)`` triple from ``_louvain_invariants`` — the
    projected edge frame, total weight, and degree table are all
    LABEL-INDEPENDENT, so a round loop (``louvain_communities``)
    computes them once instead of re-running the caller's edge plan,
    the m aggregation, and the degree shuffle every round. Values are
    exact integer sums — identical whichever path computes them.

    ``_pins`` (private, loop callers only): the caller's ``Pins``
    scope. The frames this call pins go into it, and the caller ends
    the scope once the round's consumers have materialized —
    otherwise a round loop accumulates checkpoint storage linearly
    with round count (ADVICE r17). A call without it pins in a scope
    of its own and returns through that scope's ``result``."""
    pins = Pins("louvain_move") if _pins is None else _pins
    if _prepared is not None:
        e_raw, m, deg = _prepared
    else:
        e_raw = pins.pin(_louvain_edges(edges, src, dst, weight_col), eager=False)
        m, deg = _louvain_invariants(e_raw)
    if m == 0:
        raise ValueError("louvain_move: edge set is empty")
    comm = communities.select(
        F.col(id_col).alias("__node"), F.col(comm_col).alias("__c")
    )
    # ONE deg⋈comm join shared by tot, the stay-candidate rows, and the
    # argmax attach (previously three separate joins against deg/cur)
    labeled_deg = pins.pin(deg.join(comm, "__node"), eager=False)
    tot = labeled_deg.groupBy("__c").agg(F.sum("__k").alias("__tot"))
    # SELF-LOOPS are excluded from k_{i,c} (but kept in m and deg):
    # a self-loop's mass is community-invariant — it moves WITH the
    # node — so standard Louvain scores only the links to OTHER
    # nodes. Counting it (the pre-r14 bug) inflated the stay score by
    # 2m·2w, making phase 2 refuse modularity-positive merges whenever
    # the coarse graph's super-nodes carried inner-edge self-loops.
    #
    # k_ic via ONE label join: double each non-loop edge into its two
    # (node, neighbor) directions first, then label the NEIGHBOR side
    # only — equivalent to the former two-sided left-label join + union
    # (an unlabeled neighbor contributed no k_ic row there either, via
    # the isNotNull filter; the inner join drops the same rows), at one
    # join and no per-round labeled-edge materialization. The missing-
    # endpoint convention is untouched: m and deg come from e_raw.
    e_link = e_raw.filter(F.col("__s") != F.col("__d"))
    dbl = e_link.select(
        F.col("__s").alias("__node"), F.col("__d").alias("__nbr"), "__w"
    ).unionByName(
        e_link.select(
            F.col("__d").alias("__node"), F.col("__s").alias("__nbr"), "__w"
        )
    )
    k_ic = (
        dbl.join(
            comm.select(
                F.col("__node").alias("__nbr"), F.col("__c")
            ),
            "__nbr",
        )
        .groupBy("__node", "__c")
        .agg(F.sum("__w").alias("__kic"))
    )
    own = labeled_deg.select(
        "__node", "__c", F.lit(0).cast("long").alias("__kic")
    )
    cand = (
        k_ic.unionByName(own)
        .groupBy("__node", "__c")
        .agg(F.max("__kic").alias("__kic"))
    )
    scored = (
        cand.join(
            labeled_deg.select(
                "__node", "__k", F.col("__c").alias("__cur")
            ),
            "__node",
        )
        .join(tot, "__c")
        .withColumn(
            "__tot_adj",
            F.when(
                F.col("__c") == F.col("__cur"),
                F.col("__tot") - F.col("__k"),
            ).otherwise(F.col("__tot")),
        )
        .withColumn(
            "__score",
            F.lit(2 * m).cast("decimal(38,0)") * F.col("__kic")
            - F.col("__k").cast("decimal(38,0)") * F.col("__tot_adj"),
        )
    )
    pick = Window.partitionBy("__node").orderBy(
        F.col("__score").desc(),
        (F.col("__c") == F.col("__cur")).desc(),
        F.col("__c").asc(),
    )
    moves = (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__node").alias("id"),
            F.col("__cur").alias("old_community"),
            F.col("__c").alias("new_community"),
            (F.col("__c") != F.col("__cur")).alias("moved"),
        )
    )
    return moves if _pins is not None else pins.result(moves)


def louvain_communities(
    edges: DataFrame,
    communities: DataFrame,
    max_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    comm_col: str = "community",
    weight_col: str | None = None,
) -> DataFrame:
    """FULL Louvain phase-1 loop — SEMI-SYNCHRONOUS ``louvain_move``
    rounds to a FIXED budget with integer-exact convergence detection.
    This turns the move/meter primitives into the end-to-end
    community-detection capability: seed with ANY partition
    (attribute, LPA, CC) and get the refined labels back.

    Fully-synchronized moves oscillate on symmetric swaps (an
    alternating 2-coloring can flip globally forever — the known
    parallel-Louvain/LPA pathology), so each round only APPLIES the
    moves of the half of the nodes whose deterministic hash parity
    matches the round — (h56(id) + round) % 2 == 0 — the
    semi-synchronous scheme: the global flip symmetry is broken and
    the alternating halves behave like a 2-phase sequential sweep.
    SAME-PARITY adjacent pairs can still swap (both legs of a 2-cycle
    gated in together — two singleton communities each electing the
    other exchange labels forever instead of merging; pre-r14 the
    k_ic self-loop bug masked this on coarse graphs by pinning
    super-nodes in place), so a second deterministic breaker runs on
    the GATED moves at community-pair granularity: when a round
    applies transfers in BOTH directions between communities A and B,
    only the direction into the SMALLER label survives. Both rules
    are pure engine-mirrorable expressions (hash parity; a reversed
    pair anti-condition), so a SQL oracle unrolls the exact same
    rounds.

    Convergence: TWO consecutive rounds applying zero moves is a full
    fixed point (both parity halves declined to move against the same
    labels — every later round reproduces the partition bit-for-bit,
    scores being exact decimal(38,0) integers), so stopping early is
    result-identical to unrolling the whole budget — the
    pagerank/k-means fixed-iteration oracle convention.

    Output: (id, community) — the final label for EVERY node in
    ``communities`` (nodes without edges, or with only unlabeled
    neighbors, keep their seed label; the missing-endpoint convention
    is ``louvain_move``'s).

    Scale: each round is one ``louvain_move`` (bounded aggregations +
    a node-keyed argmax window) plus one label left-join, eagerly
    checkpointed so lineage stays flat across rounds; convergence is
    one integer count per round — no per-node driver traffic."""
    pins = Pins("louvain_communities")
    return pins.result(
        _louvain_rounds(
            pins, edges, communities, max_rounds, src, dst, id_col, comm_col, weight_col
        )
    )


def _louvain_rounds(
    pins, edges, communities, max_rounds, src, dst, id_col, comm_col, weight_col
) -> DataFrame:
    """``louvain_communities``' round loop in the caller's scope: the
    label frames and the loop invariants are pinned in ``pins``, and
    each round's own pins (``louvain_move``'s labeled degrees, the
    gated movers, the applied moves) in a scope of the round, ended
    once the round's labels are materialized. Returns the (id,
    community) label frame, a pin of ``pins``."""
    from .text import h56

    if int(max_rounds) < 1:
        raise ValueError(
            f"louvain_communities: max_rounds must be >= 1 (got {max_rounds})"
        )
    comm = pins.pin(
        communities.select(F.col(id_col).alias("id"), F.col(comm_col).alias("community"))
    )
    # Loop-invariant hoisting (optimization guide §2.4): the projected
    # edge frame, m, and the degree table never change across rounds —
    # materialize the edges ONCE (the caller's plan can be an expensive
    # self-join) and compute m/deg once, instead of per round. deg is
    # lazily checkpointed so round 2+ reuses round 1's shuffle output.
    e_raw = pins.pin(_louvain_edges(edges, src, dst, weight_col), eager=False)
    m, deg = _louvain_invariants(e_raw)
    prepared = (e_raw, m, pins.pin(deg, eager=False))
    zero_streak = 0
    for r in range(int(max_rounds)):
        rnd = Pins(pins.what)
        # with _prepared, louvain_move reads only the label frame
        moves = louvain_move(edges, comm, _prepared=prepared, _pins=rnd)
        gate = (h56(F.col("id").cast("string")) + F.lit(r)) % 2 == 0
        # pin the gated movers: BOTH the reversed-pair frame and the
        # breaker join below read this frame — unpinned, the whole
        # louvain_move scoring pipeline (joins + argmax window) would
        # execute twice per round
        gated = rnd.pin(
            moves.filter(F.col("moved") & gate).select(
                "id",
                F.col("old_community").alias("__old"),
                F.col("new_community").alias("__new"),
            ),
            eager=False,
        )
        # 2-cycle breaker (docstring): if this round also transfers in
        # the REVERSE community direction, keep only the leg moving
        # into the smaller label. The reversed-pair frame is the
        # round's distinct mover pairs — community-pair bounded.
        rev = gated.select(
            F.col("__old").alias("__ro"), F.col("__new").alias("__rn")
        ).distinct()
        applied, probe = rnd.advance(
            None,
            gated.join(
                rev,
                (F.col("__old") == F.col("__rn"))
                & (F.col("__new") == F.col("__ro")),
                "left",
            )
            .filter(F.col("__ro").isNull() | (F.col("__new") < F.col("__old")))
            .select("id", "__new"),
        )
        if probe["rows"]:
            comm, _ = pins.advance(
                comm,
                comm.join(applied, "id", "left").select(
                    "id",
                    F.coalesce(F.col("__new"), F.col("community")).alias(
                        "community"
                    ),
                ),
            )
        # the label frame is materialized: the round's pins are dead
        # weight from here on
        rnd.result(comm)
        zero_streak = 0 if probe["rows"] else zero_streak + 1
        if zero_streak >= 2:
            break
    return comm


def _coarse_rounds(pins: Pins, coarse: DataFrame, rounds: int) -> DataFrame:
    """Phase-1 rounds on a contracted (c_src, c_dst, weight) graph,
    seeded with singleton communities."""
    seed = (
        coarse.select(F.col("c_src").alias("id"))
        .unionByName(coarse.select(F.col("c_dst").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("community"))
    )
    return _louvain_rounds(
        pins, coarse, seed, rounds, "c_src", "c_dst", "id", "community", "weight"
    )


def louvain_coarsen(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    comm_col: str = "community",
    weight_col: str | None = None,
) -> DataFrame:
    """LOUVAIN PHASE 2 — community-graph CONTRACTION (Blondel et al.
    2008): aggregate every community to a super-node and sum parallel
    edge multiplicities, producing the weighted multigraph the next
    level's local moves run on. This is where the big modularity gains
    come from on hierarchical graphs — phase-1 alone refines labels,
    contraction lets whole communities merge in one move.

    Endpoint labeling: an endpoint missing from ``communities`` keeps
    ITS OWN id (cast to the community column's type) as a singleton
    community — the standard Louvain initialization; pass a full
    labeling to avoid the cast. Self-loops are KEPT as (c, c, w) rows:
    they carry the community's inner-edge mass, which weighted
    ``louvain_move`` counts as 2w degree / w in m — drop them and the
    next level's modularity accounting breaks.

    Output: (c_src, c_dst, weight) with canonical undirected
    orientation (c_src <= c_dst) and weight = the exact integer count
    (or Σ ``weight_col``) of original edges between the two
    communities.

    Scale: two label joins into the edge list + ONE community-pair
    aggregation — the output is communities²-bounded in the worst case
    but community-graph-sized in practice (it IS the next level's
    input); nothing is all-pairs and the agg combines map-side."""
    ctype = communities.schema[comm_col].dataType
    e = _label_ends(
        _louvain_edges(edges, src, dst, weight_col), communities, id_col, comm_col
    )
    cs = F.coalesce(F.col("__cs"), F.col("__s").cast(ctype))
    cd = F.coalesce(F.col("__cd"), F.col("__d").cast(ctype))
    return (
        e.select(
            F.least(cs, cd).alias("c_src"),
            F.greatest(cs, cd).alias("c_dst"),
            "__w",
        )
        .groupBy("c_src", "c_dst")
        .agg(F.sum("__w").alias("weight"))
    )


def louvain_two_level(
    edges: DataFrame,
    communities: DataFrame,
    rounds1: int = 2,
    rounds2: int = 2,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    comm_col: str = "community",
) -> DataFrame:
    """FULL two-level Louvain — move → contract → move: phase-1 local
    moves (``louvain_communities``, ``rounds1`` semi-synchronous
    rounds), phase-2 contraction (``louvain_coarsen``), then phase-1
    again on the weighted community graph seeded with singleton
    communities (``rounds2`` rounds), and the coarse labels projected
    back down: a node's final community is the coarse community its
    level-1 community moved to.

    Every stage is deterministic and integer-exact (the move scores
    are decimal(38,0), contraction weights exact longs, the parity
    gate engine-mirrorable), so a SQL oracle unrolls the exact same
    move→contract→move sequence.

    Output: (id, community) for every node in ``communities`` — the
    community type is the seed label type (coarse labels ARE level-1
    labels).

    Scale: phase 1 costs rounds1 louvain_move shuffles on the full
    graph; everything after runs on the CONTRACTED graph (communities
    × communities bounded, typically orders of magnitude smaller) —
    the classic Louvain cost profile."""
    # one materialization of the caller's edge plan (often an expensive
    # self-join) shared by phase 1's rounds AND the phase-2 contraction
    pins = Pins("louvain_two_level")
    edges = pins.pin(edges.select(src, dst), eager=False)
    comm1 = _louvain_rounds(
        pins, edges, communities, rounds1, src, dst, id_col, comm_col, None
    )
    coarse = pins.pin(
        louvain_coarsen(
            edges, comm1, src=src, dst=dst, id_col="id", comm_col="community"
        )
    )
    comm2 = _coarse_rounds(pins, coarse, rounds2)
    up = comm2.select(
        F.col("id").alias("community"), F.col("community").alias("__c2")
    )
    return pins.result(
        comm1.join(up, "community", "left").select(
            "id", F.coalesce(F.col("__c2"), F.col("community")).alias("community")
        )
    )


def louvain_multilevel(
    edges: DataFrame,
    communities: DataFrame,
    rounds_per_level: int = 2,
    max_levels: int = 3,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    comm_col: str = "community",
) -> DataFrame:
    """FULL N-LEVEL Louvain (Blondel et al. 2008, the complete
    recursion ``louvain_two_level`` restricts to depth 2): phase-1
    local moves on the input graph, then repeatedly contract
    (``louvain_coarsen``) and re-run phase-1 on the weighted community
    graph with singleton seeds, projecting coarse labels back down
    through the level stack — until a level applies no move or
    ``max_levels`` is reached. ``max_levels=2`` reproduces
    ``louvain_two_level`` exactly (twin test).

    Early-stop ≡ full unroll (the oracle convention): every level
    past the first is SINGLETON-seeded (community := node id), so a
    level that applies zero moves leaves the identity labeling — its
    contraction maps every canonical edge to itself and the next
    level re-runs the identical semi-synchronous rounds (the parity
    gate restarts at round 0 each level) on the same graph and seed,
    applying zero moves again. A SQL oracle therefore unrolls a fixed
    level budget and the extra levels are bit-for-bit no-ops.

    Output: (id, community) for every node in ``communities`` — a
    node's final community is the top-of-stack community its level-1
    community contracted into, label type = the seed type.

    Scale: level 1 costs ``rounds_per_level`` louvain_move shuffles on
    the full graph; every later level runs on a CONTRACTED graph
    (monotonically shrinking, communities²-bounded); the level loop's
    only driver traffic is one applied-move count per level and the
    label frame is eagerly checkpointed per projection (flat
    lineage)."""
    if int(max_levels) < 1:
        raise ValueError(
            f"louvain_multilevel: max_levels must be >= 1 (got {max_levels})"
        )
    # one materialization of the caller's edge plan shared by level 1's
    # rounds AND the first contraction (deeper levels run on eagerly
    # checkpointed contracted graphs already)
    pins = Pins("louvain_multilevel")
    edges = pins.pin(edges.select(src, dst), eager=False)
    labels = _louvain_rounds(
        pins, edges, communities, rounds_per_level, src, dst, id_col, comm_col, None
    )
    cur = pins.pin(
        louvain_coarsen(
            edges, labels, src=src, dst=dst, id_col="id", comm_col="community"
        )
    )
    for _level in range(1, int(max_levels)):
        comm_l = _coarse_rounds(pins, cur, rounds_per_level)
        comm_l, probe = pins.advance(
            comm_l,
            comm_l,
            {"moved": F.count_if(F.col("community") != F.col("id"))},
        )
        # singleton-seeded level: zero applied moves == identity
        # labeling == every deeper level is a no-op (docstring proof)
        if probe["moved"] == 0:
            break
        up = comm_l.select(
            F.col("id").alias("community"), F.col("community").alias("__up")
        )
        labels, _ = pins.advance(
            labels,
            labels.join(up, "community", "left").select(
                "id",
                F.coalesce(F.col("__up"), F.col("community")).alias(
                    "community"
                ),
            ),
        )
        if _level < int(max_levels) - 1:
            # the level's contraction is materialized: the previous
            # community graph and this level's labels are dead
            cur, _ = pins.advance(
                (cur, comm_l),
                louvain_coarsen(
                    cur,
                    comm_l,
                    src="c_src",
                    dst="c_dst",
                    id_col="id",
                    comm_col="community",
                    weight_col="weight",
                ),
            )
    return pins.result(labels)


def betweenness_sample(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """SAMPLED BETWEENNESS CENTRALITY (Brandes 2001, restricted to a
    seed set — the standard sampling approximation, exact for the
    given sources): for each source s the forward sweep labels every
    vertex within ``max_hops`` with its BFS level and its shortest-
    path count σ_s(v); the backward sweep accumulates the dependency
    δ_s(v) = Σ_{w: succ} σ(v)/σ(w) · (1 + δ(w)) level by level; the
    output sums δ over sources per vertex — the bridging-importance
    score (cut vertices, bottleneck detection) that completes the
    centrality family next to degree/PageRank/HITS.

    All sources advance in ONE synchronized frontier keyed by
    (source, vertex): each forward level is one edge join + one
    (source, vertex) sum-agg; each backward level joins the level's
    rows against the next level's δ through the edge list. Levels ≤
    max_hops bound both loops; every per-level frame is eagerly
    checkpointed (flat lineage). σ is exact integer path counting;
    δ divides and sums doubles, rounded once at the end.

    Determinism contract: this operator is in the DOCUMENTED
    FLOAT-CLASS (like pagerank) — the δ accumulation is plain double
    sums whose order differs between Spark partitions and a SQL
    oracle, so a δ landing exactly on a 6-dp rounding boundary could
    diverge in the last digit. The exact-rational alternative (carry
    σ-ratio sums as big rationals) is disproportionate for a sampled
    approximation; accepted and documented instead.

    Output: (id, betweenness) for every vertex reached by any sweep
    (sources included — their own dependency as intermediate vertices
    on OTHER sources' paths counts, per Brandes).

    Scale: frontier frames are (sources × vertices)-bounded, the edge
    frame is only ever the probe side of the level joins, and the
    backward sweep touches each level's rows once — no all-pairs
    anything; sampling density (|sources|) is the accuracy dial."""
    if int(max_hops) < 1:
        raise ValueError(
            f"betweenness_sample: max_hops must be >= 1 (got {max_hops})"
        )
    pins = Pins("betweenness_sample")
    sym = pins.pin(_undirected(edges, src, dst))
    [src_col] = sources.columns
    seeds = sources.select(F.col(src_col).alias("s")).distinct()
    # forward: levels[l] = (s, id, sigma) — sigma exact integers
    level0 = pins.pin(
        seeds.select(
            "s", F.col("s").alias("id"), F.lit(1).cast("long").alias("sigma")
        )
    )
    levels = [level0]
    visited = pins.pin(level0.select("s", "id"))
    for _ in range(int(max_hops)):
        cur = levels[-1]
        nxt, probe = pins.advance(
            None,
            cur.join(sym, cur["id"] == sym["a"])
            .select("s", F.col("b").alias("id"), "sigma")
            .join(visited, ["s", "id"], "left_anti")
            .groupBy("s", "id")
            .agg(F.sum("sigma").alias("sigma")),
        )
        if probe["rows"] == 0:
            break
        levels.append(nxt)
        visited, _ = pins.advance(
            visited, visited.unionByName(nxt.select("s", "id"))
        )
    # backward: delta over levels L-1 .. 0; sources' own rows at
    # level 0 are excluded from the OUTPUT sum for their own sweep
    # (Brandes accumulates only v != s), handled by dropping (s, s)
    delta_next: DataFrame | None = None  # delta of level l+1
    acc: DataFrame | None = None
    for li in range(len(levels) - 1, -1, -1):
        cur = levels[li]
        if delta_next is None:
            delta = cur.select("s", "id", F.lit(0.0).alias("delta"))
        else:
            nxt_rows = levels[li + 1].join(
                delta_next, ["s", "id"]
            ).select(
                "s",
                F.col("id").alias("w"),
                (F.lit(1.0) + F.col("delta")).alias("__dw"),
                F.col("sigma").alias("__sw"),
            )
            contrib = (
                cur.join(sym, cur["id"] == sym["a"])
                .select("s", "id", "sigma", F.col("b").alias("w"))
                .join(nxt_rows, ["s", "w"])
                .groupBy("s", "id")
                .agg(
                    F.sum(
                        F.col("sigma").cast("double")
                        / F.col("__sw").cast("double")
                        * F.col("__dw")
                    ).alias("delta")
                )
            )
            delta = (
                cur.select("s", "id")
                .join(contrib, ["s", "id"], "left")
                .select(
                    "s", "id", F.coalesce("delta", F.lit(0.0)).alias("delta")
                )
            )
        # level li+1 is read by nothing once level li's delta is
        # materialized; every delta stays pinned for the result's union
        delta, _ = pins.advance(
            None if delta_next is None else levels[li + 1], delta
        )
        part = delta.filter(F.col("id") != F.col("s"))
        acc = part if acc is None else acc.unionByName(part)
        delta_next = delta
    return pins.result(
        acc.groupBy("id")
        .agg(F.round(F.sum("delta"), round_to).alias("betweenness"))
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """DEGREE ASSORTATIVITY coefficient (Newman 2002, the public
    "Assortative mixing in networks" paper): the Pearson correlation
    of endpoint degrees over the symmetrized edge list — positive for
    social-style graphs (hubs befriend hubs), negative for
    hub-and-spoke/web-style graphs; THE one-number complement to
    ``modularity`` (is structure degree-driven?) and
    ``neighbor_stats`` (its per-node view).

    Determinism: degrees are exact integers; every moment (Σx, Σx²,
    Σxy over the M = 2m ordered endpoint pairs — symmetric, so the x
    and y marginals coincide) accumulates as decimal(38,0); r is ONE
    double expression (M·Σxy − Σx·Σy) / (M·Σx² − (Σx)²) in the
    identical operand order both engines evaluate, rounded at the end
    (the symmetric form needs no sqrt — variance(x) = variance(y)).
    A degree-regular graph has zero variance; r is NULL there (the
    documented degenerate case, matching the SQL NULL division).

    Output: one row — (m_edges, n_nodes, r).

    Scale: one degree aggregation + two vertex-keyed joins into the
    edge list + one 1-row moment aggregation; nothing is ever
    all-pairs, and the moments combine map-side."""
    # canonical undirected orientation BEFORE distinct: an input that
    # carries both (a,b) and (b,a) counts that edge's degree mass once
    # (the betweenness_sample convention), not twice.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("k")
    )
    paired = (
        sym.join(deg.select(F.col("id").alias("a"), F.col("k").alias("kx")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("k").alias("ky")), "b")
    )
    kx = F.col("kx").cast("decimal(38,0)")
    ky = F.col("ky").cast("decimal(38,0)")
    mom = paired.agg(
        F.count(F.lit(1)).alias("__M"),
        F.sum(kx).alias("__sx"),
        F.sum(kx * kx).alias("__sxx"),
        F.sum(kx * ky).alias("__sxy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("__n"))
    md = F.col("__M").cast("double")
    sx = F.col("__sx").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    num = md * sxy - sx * sx
    den = md * sxx - sx * sx
    return mom.crossJoin(F.broadcast(n_nodes)).select(
        (F.col("__M") / 2).cast("long").alias("m_edges"),
        F.col("__n").alias("n_nodes"),
        # guard on the DOUBLE denominator (the same num/NULLIF(den,0)
        # the oracle evaluates), not a decimal product that Spark's
        # precision capping could round differently
        F.round(F.when(den != 0.0, num / den), round_to).alias("r"),
    )


def _triangle_edge_support(e: DataFrame, pins: Pins) -> DataFrame:
    """Per-edge triangle support over a canonical (u < v) simple edge
    frame: the compact-forward enumeration (``_enumerate_triangles``,
    each triangle found once in degree-rank order), then each triangle
    credits its THREE sides — re-canonicalized to id order, because
    rank order and id order disagree whenever a lower id has the
    higher degree and the caller's edge frame is id-canonical.
    Output: (u, v, support >= 1) — edges in no triangle have no
    row."""
    tris = _enumerate_triangles(e, pins)
    sides = (
        tris.select(F.col("x").alias("p"), F.col("y").alias("q"))
        .unionAll(tris.select(F.col("y").alias("p"), F.col("z").alias("q")))
        .unionAll(tris.select(F.col("x").alias("p"), F.col("z").alias("q")))
    )
    return (
        sides.select(
            F.least("p", "q").alias("u"), F.greatest("p", "q").alias("v")
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def ktruss(
    edges: DataFrame,
    k: int = 4,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """K-TRUSS decomposition (Cohen 2008, the public "Trusses:
    cohesive subgraphs for social network analysis" NSA tech report):
    the maximal subgraph where EVERY EDGE closes >= k-2 triangles
    inside the subgraph — the edge-strength sibling of ``kcore``
    (vertex degree) and the standard community-backbone filter: a
    4-truss edge is corroborated by two independent common neighbors,
    so bridges and spam links peel away.

    Algorithm: iterative edge peeling to the FIXPOINT — each round
    counts per-edge triangle support over the SURVIVING edges (the
    ``triangle_count`` wedge enumeration, each triangle crediting its
    three edges) and drops edges under k-2; converges when a round
    removes nothing (the kcore convention: the round's eager
    checkpoint also counts the surviving edges as an ``observe``
    probe, so the check costs no extra job; extra rounds past the
    fixpoint are no-ops, so an oracle unrolls a fixed budget). The
    fixpoint is peel-order independent.

    Output: (u, v, support) — the surviving canonical edges with
    their in-truss support (recomputed at the fixpoint).

    Scale: each round is the compact-forward wedge join (degree-rank
    oriented — forward fan-out O(sqrt(m)) per vertex, hub-safe; the
    ``_forward_edges`` note) + one (u, v) aggregation + one semi-join;
    the surviving frame checkpoints per round (flat lineage).
    Rounds remove whole shells, not single edges. If ``max_iter``
    exhausts before the fixpoint, the final support recompute acts as
    ONE extra prune via a left join (support coalesced to 0), so the
    output is always the last surviving edge set with its true
    support — never a silently shrunken inner-join set."""
    if int(k) < 3:
        raise ValueError(f"ktruss: k must be >= 3 (got {k})")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(
            F.col("u").isNotNull()
            & F.col("v").isNotNull()
            & (F.col("u") != F.col("v"))
        )
        .distinct()
    )
    need = int(k) - 2
    # every checkpoint of e also counts its rows (an observe probe on
    # the same job), so the fixpoint test costs no job of its own;
    # sup is pinned per round so that at the fixpoint the final
    # support recompute — the most expensive pass, a full wedge
    # enumeration — reuses the round's already-materialized support
    # (pre-prune e == post-prune e there, so the frames are identical
    # by construction). Guide §2.4: don't recompute what the loop
    # already proved.
    pins = Pins("ktruss")
    e, probe = pins.advance(None, e)
    n_edges = probe["rows"]
    final_sup = None
    for _ in range(max(1, int(max_iter))):
        # the round's triangle frames and support live in a scope of
        # the round
        rnd = Pins("ktruss")
        sup = rnd.pin(_triangle_edge_support(e, rnd), eager=False)
        keep = sup.filter(F.col("support") >= need).select("u", "v")
        # the pruning round's EAGER checkpoint runs the job that also
        # materializes sup's lazy pin (keep reads sup, and a lazy local
        # checkpoint fills its blocks as a side effect of the first job
        # over it). That is what lets the fixpoint reuse sup as
        # final_sup. Keep this checkpoint eager and ahead of it.
        e, probe = pins.advance(e, e.join(keep, ["u", "v"], "left_semi"))
        if probe["rows"] == n_edges:
            final_sup = rnd.result(sup)
            break
        rnd.result(e)
        n_edges = probe["rows"]
    if final_sup is None:
        final_sup = _triangle_edge_support(e, pins)
    # LEFT join + coalesce: at the fixpoint every survivor has
    # support >= k-2 >= 1 so this matches the old inner join; when
    # max_iter exhausts first, survivors whose support dropped to 0
    # keep their row (support 0) instead of silently vanishing into
    # a set that is neither the pre- nor post-prune edge set.
    return pins.result(
        e.join(final_sup, ["u", "v"], "left").select(
            "u",
            "v",
            F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support"),
        )
    )


def closeness_sample(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """SAMPLED HARMONIC CLOSENESS centrality (Marchiori & Latora
    2000; the harmonic variant is the standard fix for disconnected
    graphs — unreachable vertices contribute 0, not a divide-by-
    infinity): for each source s, H(s) = Σ_{v reached, v≠s} 1/d(s,v)
    over BFS hop distances within ``max_hops`` — the "how close to
    everything" complement of ``betweenness_sample``'s "how much in
    between".

    Determinism: distances are exact BFS levels; each level's
    reciprocal 1/d enters as a 6-dp-rounded decimal literal
    multiplied by the level's exact reach count, so the per-source
    sum is order-free exact decimal arithmetic; one cast to double
    at the end.

    Output: (id, n_reached, harmonic_closeness) — one row per source
    (sources reaching nothing score 0).

    Scale: all sources advance in ONE synchronized (source, vertex)
    frontier — per level one edge join + one distinct + one
    anti-join against visited, eagerly checkpointed; level counts
    aggregate map-side. Frontier frames are (sources × vertices)-
    bounded; |sources| is the accuracy/cost dial."""
    if int(max_hops) < 1:
        raise ValueError(
            f"closeness_sample: max_hops must be >= 1 (got {max_hops})"
        )
    pins = Pins("closeness_sample")
    sym = pins.pin(_undirected(edges, src, dst))
    [src_col] = sources.columns
    seeds = sources.select(F.col(src_col).alias("s")).distinct()
    frontier = pins.pin(seeds.select("s", F.col("s").alias("id")))
    visited = frontier
    level_counts = []  # (depth, frame of per-source reach counts)
    for d in range(1, int(max_hops) + 1):
        # every level's frontier stays pinned: the result's reach
        # counts aggregate over them
        nxt, probe = pins.advance(
            None,
            frontier.join(sym, frontier["id"] == sym["a"])
            .select("s", F.col("b").alias("id"))
            .distinct()
            .join(visited, ["s", "id"], "left_anti"),
        )
        if probe["rows"] == 0:
            break
        level_counts.append(
            nxt.groupBy("s").agg(
                F.count(F.lit(1)).cast("decimal(38,0)").alias("__cnt")
            ).select(
                "s",
                (
                    F.col("__cnt")
                    * F.lit(round(1.0 / d, 6)).cast("decimal(18,6)")
                ).alias("__term"),
                F.col("__cnt").cast("long").alias("__reach"),
            )
        )
        visited, _ = pins.advance(visited, visited.unionByName(nxt))
        frontier = nxt
    if not level_counts:
        return pins.result(
            seeds.select(
                F.col("s").alias("id"),
                F.lit(0).cast("long").alias("n_reached"),
                F.lit(0.0).alias("harmonic_closeness"),
            )
        )
    terms = reduce(DataFrame.unionByName, level_counts)
    per_s = terms.groupBy("s").agg(
        F.sum("__reach").cast("long").alias("n_reached"),
        F.sum("__term").alias("__h"),
    )
    return pins.result(
        seeds.join(per_s, "s", "left").select(
            F.col("s").alias("id"),
            F.coalesce("n_reached", F.lit(0).cast("long")).alias("n_reached"),
            F.coalesce(F.col("__h").cast("double"), F.lit(0.0)).alias(
                "harmonic_closeness"
            ),
        )
    )



def _min_label_fixpoint(
    pins: Pins,
    edges: DataFrame,
    verts: DataFrame,
    max_iter: int,
    what: str,
) -> DataFrame:
    """DIRECTED label propagation to fixpoint under a HASHED total
    order, with pointer jumping. Each vertex converges to lbl =
    the order-minimum vertex over {v} ∪ {u : u →* v along ``edges``}
    (labels flow a → b), where the order is (xxhash64(id), id) — any
    total order computes the same REGIONS, and a hashed one is the
    difference between O(log n) and O(n) rounds: under the raw id
    order, a cycle whose ids ascend against the edge direction keeps
    label(v) = v at every propagation step (min(v, v+1) = v), label
    chains never form, and pointer jumping has nothing to jump
    through — measured 1 vertex/round on a reversed 50-cycle. Hashed
    ids decouple the order from the edge direction, so ~half of all
    edges point order-downward, chains form immediately, and the
    label := label-of-label shortcut (sound because reachability
    composes) multiplies effective propagation distance per round.

    Per round: ONE Spark job. The propagate + double-pointer-jump
    plan materializes through the eager checkpoint, and the
    convergence probe rides the same job as an ``observe`` metric
    (no second scan); two jumps per round trade two cheap in-plan
    equi-joins for a shorter round count (distance ~triples per
    round instead of doubling).

    ``edges`` must be two non-null columns (a, b); ``verts`` one
    ``id`` column covering every endpoint. Output: (id, lbl) with
    lbl a struct (h, i); lbl.i is the region-root vertex id.

    Rounds checkpoint in the caller's scope. Each snapshot's leaf
    carries the row count its own job observed, so the size estimate
    stays flat although the round plan references its input several
    times (an inherited estimate would compound round over round until
    Catalyst's stats visitor multiplies million-digit BigIntegers).
    Each round releases the one it supersedes.

    Raises RuntimeError when ``max_iter`` rounds pass without a
    fixpoint — a partial labeling would silently mis-assign
    components downstream; the scope's pins are released first."""
    mk = F.struct(F.xxhash64(F.col("id")).alias("h"), F.col("id").alias("i"))
    labels = verts.select("id", mk.alias("lbl"))

    def jump(frame: DataFrame) -> DataFrame:
        lookup = frame.select(
            F.col("id").alias("__jid"), F.col("lbl").alias("__jl")
        )
        return frame.join(
            lookup, frame["lbl"]["i"] == F.col("__jid"), "left"
        ).select(
            "id",
            "__old",
            F.least(F.col("lbl"), F.coalesce("__jl", F.col("lbl"))).alias(
                "lbl"
            ),
        )

    def step(frame: DataFrame) -> DataFrame:
        # one propagate + double pointer jump, all lazy
        rhs = frame.select(F.col("id").alias("__fid"), "lbl")
        nbr_min = (
            edges.join(rhs, edges["a"] == F.col("__fid"))
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("lbl").alias("__nm"))
        )
        prop = frame.join(nbr_min, "id", "left").select(
            "id",
            "__old",
            F.least(F.col("lbl"), F.coalesce("__nm", F.col("lbl"))).alias(
                "lbl"
            ),
        )
        return jump(jump(prop))

    # ONE materialization per round: Spark re-executes every extra
    # reference to a lazy subframe (no cross-reference CSE), so
    # chaining rounds lazily multiplies execution ~3× per chained
    # round — measured 3× SLOWER overall than materializing each
    # round despite fewer jobs. One round per checkpoint, with the
    # convergence probe riding the same job as an observe metric and
    # the double pointer jump keeping rounds-to-fixpoint ~log3(n).
    for i in range(int(max_iter)):
        seeded = labels.select(
            "id", F.col("lbl").alias("__old"), "lbl"
        )
        # round 0's labels is a projection of verts, which the caller
        # still reads
        snap, probe = pins.advance(
            labels if i else None,
            step(seeded),
            {"changed": F.count_if(F.col("__old") != F.col("lbl"))},
        )
        labels = snap.select("id", "lbl")
        if probe["changed"] == 0:
            return labels
    pins.result(None)
    raise RuntimeError(
        f"{what}: label propagation did not converge within "
        f"max_iter={max_iter} rounds; labels would be silently wrong — "
        "raise max_iter (rounds track log of region depth, but an SCC "
        "pipelining into a deep condensation DAG ADDS the two depths; "
        "17k-vertex sparse graphs measure ~50 rounds)"
    )


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_phases: int = 12,
    max_iter: int = 100,
    trim_rounds: int = 8,
) -> DataFrame:
    """(id, scc_id) with scc_id = the min vertex id in the STRONGLY
    connected component — directed mutual reachability, the gap the
    undirected ``connected_components`` leaves open (u and v share an
    SCC iff u →* v AND v →* u).

    Algorithm: distributed trim + forward–backward coloring (Orzan
    2004; Slota, Rajamanickam & Madduri 2014 — the same family
    GraphX's SCC ships). Per phase:

    1. TRIM — active vertices with no in-edge or no out-edge inside
       the active subgraph are singleton SCCs; peel up to
       ``trim_rounds`` rounds (one degree aggregation per round, the
       settled unions batched once per phase). Trimming is an
       optimization: a partial peel is still correct, so this bound
       needs no convergence guarantee.
    2. COLOR — forward label fixpoint partitions active vertices into
       regions: color(v) = order-min u with u →* v, under the
       fixpoint's hashed total order. If any vertex has color c, then
       color(c) = c (anything reaching c reaches the whole region),
       so every non-empty region contains its root c, which is also
       the region's order-minimum.
    3. SETTLE — backward label fixpoint restricted to same-color
       edges: bmin(v) = order-min vertex v reaches within its region.
       Then SCC(c) = {v : color(v) = c ∧ bmin(v) = c}: a c →* v path
       can only pass through color-c vertices (anything on it is
       reached by c and reaches v, pinning its color to c), so
       restricting to the region loses no SCC-internal path, and
       color + bmin together certify both directions. Every region
       settles its root's SCC in the same phase.

    Settled vertices leave the active set, edges restrict to active
    endpoints, repeat; a final aggregation renames each component to
    its true numeric-min member id (the internal hashed order is an
    algorithmic device only — the output contract stays "scc_id =
    min id in the component"). Each phase settles at least every
    region root's SCC, so the active set strictly shrinks;
    ``max_phases`` guards the pathological chain-of-SCCs case with a
    RuntimeError rather than a silently partial labeling.

    Self-loops are dropped (they never change mutual reachability);
    isolated vertices — and anything extra the caller passes via
    ``vertices`` — settle as singletons in the first trim.

    Scale: every step is a data-sized equi-join or aggregation — no
    cartesian products anywhere; both fixpoints pointer-jump under
    the hashed order (log-like in structure depth: a 2048-deep path
    and a reversed 50-cycle both converge in ≤ 14 rounds; a sparse
    17k-vertex graph whose giant SCC pipelines into a deep
    condensation DAG measured 49 — label waves through an SCC and
    its downstream DAG add, they don't max, hence the 100-round
    default budget); every round checkpoints eagerly (lineage
    truncated, and the leaf sized by the observed row count, so no
    size estimate compounds) with the convergence probe and the
    vertex/edge counts fused into the materialization job as
    ``observe`` metrics. Superseded rounds,
    trim steps and color frames are released as the loop moves on;
    after the call only the settled frames the result unions stay
    pinned. From the second phase on, once the active vertices plus
    active edges (both counted by the last checkpoints' probes) are at
    most ``session.LOCAL_FINISH_ROWS`` (2^20, fixed: the largest size
    measured, where one task still beat the rounds), the residual
    finishes in one task instead (``Pins.finish``, the serial finish
    of Slota et al.): an iterative Tarjan settles all of it, each
    component named by its min member id, ahead of the final rename.
    The first phase always runs distributed, so its ``max_iter`` and
    ``max_phases`` raises are the same on both paths; a residual that
    finishes locally runs no further round, so no later cut applies to
    it. The reference repo has no graph module — semantics follow the
    published FW-BW/coloring papers."""
    named = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    # vertices come from the PRE-self-loop-filter edge set: a vertex
    # appearing only via its self-loop is still a (singleton) vertex
    # of the graph and must keep its output row
    verts = (
        named.select(F.col("a").alias("id"))
        .unionByName(named.select(F.col("b").alias("id")))
        .distinct()
    )
    if vertices is not None:
        verts = verts.unionByName(
            vertices.select(F.col(id_col).alias("id"))
        ).distinct()
    # vertex and edge counts ride every checkpoint job as observe
    # probes, so neither the trim's stability check nor an emptiness
    # test ever needs a job of its own
    pins = Pins("strongly_connected_components")

    def restrict(e, v):
        """The next active edge set: the edges of ``e`` inside ``v``."""
        return pins.advance(
            e,
            e.join(v.select(F.col("id").alias("a")), "a", "left_semi").join(
                v.select(F.col("id").alias("b")), "b", "left_semi"
            ),
        )

    active_v, probe = pins.advance(None, verts)
    n_verts = probe["rows"]
    active_e, probe = pins.advance(
        None, named.filter(F.col("a") != F.col("b")).distinct()
    )
    n_edges = probe["rows"]
    # accumulated (id, comp) frames; comp is the settling phase's root
    # id — renamed to the component's numeric min at the end
    settled_parts: list[DataFrame] = []
    for phase in range(int(max_phases)):
        if n_verts == 0:
            break
        if phase and n_verts + n_edges <= session.LOCAL_FINISH_ROWS:
            # the residual in one task: each active vertex rides as a
            # self-loop row, which no active edge is
            residual = active_v.select(
                F.col("id").alias("a"), F.col("id").alias("b")
            ).unionByName(active_e)
            field = active_v.schema["id"]
            schema = StructType(
                [field, StructField("comp", field.dataType, field.nullable)]
            )
            settled_parts.append(
                pins.finish(residual, _tarjan(), schema, n_verts + n_edges)
            )
            n_verts = 0
            break
        # 1. trim: no-in or no-out vertices are singleton SCCs — one
        # materialized peel round at a time (lazy chaining re-executes
        # shared subframes, see the fixpoint note), and the settled
        # singletons reconstructed ONCE per phase from the before/after
        # vertex sets
        phase_start_v, phase_n = active_v, n_verts
        for _t in range(int(trim_rounds)):
            roles = active_e.select(
                F.col("a").alias("id"),
                F.lit(1).alias("__o"),
                F.lit(0).alias("__i"),
            ).unionByName(
                active_e.select(
                    F.col("b").alias("id"),
                    F.lit(0).alias("__o"),
                    F.lit(1).alias("__i"),
                )
            )
            both = (
                roles.groupBy("id")
                .agg(F.max("__o").alias("__ho"), F.max("__i").alias("__hi"))
                .filter((F.col("__ho") == 1) & (F.col("__hi") == 1))
                .select("id")
            )
            # the phase's starting vertex set stays for the trimmed diff
            av, probe = pins.advance(
                None if active_v is phase_start_v else active_v,
                active_v.join(both, "id", "left_semi"),
            )
            n_verts = probe["rows"]
            active_e, probe = restrict(active_e, av)
            active_v = av
            new_n = probe["rows"]
            stable = new_n == n_edges
            n_edges = new_n
            if stable:
                break
        stale = None if active_v is phase_start_v else phase_start_v
        if n_verts < phase_n:
            trimmed, _ = pins.advance(
                stale,
                phase_start_v.join(active_v, "id", "left_anti"),
            )
            settled_parts.append(
                trimmed.select("id", F.col("id").alias("comp"))
            )
            stale = None
        if n_verts == 0:
            break
        # 2. forward colors over the active subgraph
        colors = _min_label_fixpoint(
            pins, active_e, active_v, max_iter, "strongly_connected_components(forward)"
        )
        # 3. backward labels within color regions: reverse the
        # same-color edges and propagate again
        ca = colors.select(F.col("id").alias("a"), F.col("lbl").alias("__ca"))
        cb = colors.select(F.col("id").alias("b"), F.col("lbl").alias("__cb"))
        same_rev = pins.pin(
            active_e.join(ca, "a")
            .join(cb, "b")
            .filter(F.col("__ca") == F.col("__cb"))
            .select(F.col("b").alias("a"), F.col("a").alias("b")),
        )
        bmin = _min_label_fixpoint(
            pins, same_rev, active_v, max_iter, "strongly_connected_components(backward)"
        )
        members, _ = pins.advance(
            (colors, same_rev, bmin, stale),
            colors.join(bmin.select("id", F.col("lbl").alias("__bl")), "id")
            .filter(F.col("lbl") == F.col("__bl"))
            .select("id", F.col("lbl")["i"].alias("comp")),
        )
        settled_parts.append(members)
        active_v, probe = pins.advance(
            active_v, active_v.join(members, "id", "left_anti")
        )
        n_verts = probe["rows"]
        active_e, probe = restrict(active_e, active_v)
        n_edges = probe["rows"]
    if n_verts:
        pins.result(None)
        raise RuntimeError(
            "strongly_connected_components did not settle every vertex "
            f"within max_phases={max_phases} phases; the labeling would "
            "be silently partial — raise max_phases (phases needed ≈ "
            "the longest chain of SCC condensation layers whose roots "
            "order-descend)"
        )
    if not settled_parts:
        return pins.result(
            verts.select("id", F.col("id").alias("scc_id")).limit(0)
        )
    settled = reduce(DataFrame.unionByName, settled_parts)
    # contract: scc_id = numeric min member id (order-independent),
    # regardless of which root the hashed order elected internally
    mins = settled.groupBy("comp").agg(F.min("id").alias("scc_id"))
    return pins.result(settled.join(mins, "comp").select("id", "scc_id"))


def _tarjan():
    """(id, comp) for every vertex of an (a, b) frame, comp the min
    member id of its strongly connected component, as a pandas
    function: Tarjan (1972) with an explicit stack, over CSR arrays.
    A row with a == b is a vertex (self-loops never change an SCC).
    A closure, so it pickles by value (see ``_peel``)."""
    column = _nan_kept()

    def tarjan(rows: pd.DataFrame) -> pd.DataFrame:
        # NaN is one vertex (see _peel)
        codes, ids = pd.factorize(
            pd.concat([rows["a"], rows["b"]], ignore_index=True),
            use_na_sentinel=False,
        )
        src, dst = codes[: len(rows)], codes[len(rows):]
        arc = src != dst
        src, dst = src[arc], dst[arc]
        n = len(ids)
        order = np.argsort(src, kind="stable")
        heads = dst[order].tolist()
        start = [0, *np.cumsum(np.bincount(src, minlength=n)).tolist()]
        index, low = [-1] * n, [0] * n
        on_stack, comp = [False] * n, [-1] * n
        stack: list[int] = []
        visited = n_comp = 0
        for root in range(n):
            if index[root] >= 0:
                continue
            index[root] = low[root] = visited
            visited += 1
            stack.append(root)
            on_stack[root] = True
            work = [[root, start[root]]]
            while work:
                frame = work[-1]
                v, i = frame
                if i < start[v + 1]:
                    frame[1] = i + 1
                    w = heads[i]
                    if index[w] < 0:
                        index[w] = low[w] = visited
                        visited += 1
                        stack.append(w)
                        on_stack[w] = True
                        work.append([w, start[w]])
                    elif on_stack[w] and index[w] < low[v]:
                        low[v] = index[w]
                    continue
                work.pop()
                if work and low[v] < low[work[-1][0]]:
                    low[work[-1][0]] = low[v]
                if low[v] == index[v]:
                    while True:
                        w = stack.pop()
                        on_stack[w] = False
                        comp[w] = n_comp
                        if w == v:
                            break
                    n_comp += 1
        members = pd.Series(np.asarray(ids))
        mins = members.groupby(comp).transform("min")
        return pd.DataFrame({"id": column(members), "comp": column(mins)})

    return tarjan
