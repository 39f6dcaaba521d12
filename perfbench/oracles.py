"""Result oracles computed outside Spark.

ETL: DuckDB replays the staging, mapping and MATCH-load rules on the
generated inputs and compares node primary keys and edge endpoints
with the sink tables. Graph: networkx for k-core. Vectors: numpy exact top-k.

Each check returns a list of failure messages (empty when the result
is right), so a caller can count failed checks, and how much of the
oracle's answer the result reproduced.
"""

from __future__ import annotations

import os

import numpy as np

STRIP_RE = r"[\r\n\\]"  # the staging chain strips CR, LF and backslash


# -- ETL ------------------------------------------------------------------------

NODE_LABELS = {"Customer": "customer", "Order": "order"}
EDGE_TYPES = ("PLACED",)


def etl_expected(inputs_dir: str) -> dict:
    """Node pk sets and edge endpoint sets the sink must hold after one
    lifecycle over the inputs in ``inputs_dir``. Values are strings."""
    import duckdb

    con = duckdb.connect()
    try:
        def src(name):
            return f"read_parquet('{os.path.join(inputs_dir, name + '.parquet')}')"

        for label, name in NODE_LABELS.items():
            con.execute(f"CREATE TEMP VIEW n_{name} AS SELECT DISTINCT id FROM {src(name)} WHERE id IS NOT NULL")
        con.execute(
            f"""CREATE TEMP VIEW name_map AS
                SELECT DISTINCT id AS new_value,
                       regexp_replace(c_name, '{STRIP_RE}', '', 'g') AS old_value
                FROM {src('customer')} WHERE id IS NOT NULL AND c_name IS NOT NULL"""
        )
        edge_sql = {
            "PLACED": f"""SELECT DISTINCT * FROM (
                    SELECT m.new_value AS s, COALESCE(l.new_value, p."end") AS e
                    FROM {src('placed')} p
                    JOIN name_map m ON regexp_replace(p.start, '{STRIP_RE}', '', 'g') = m.old_value
                    LEFT JOIN {src('order_legacy_map')} l ON p."end" = l.old_value)
                WHERE e IN (SELECT id FROM n_order)""",
        }
        nodes = {
            label: {str(r[0]) for r in con.execute(f"SELECT id FROM n_{name}").fetchall()}
            for label, name in NODE_LABELS.items()
        }
        edges = {
            etype: {(str(a), str(b)) for a, b in con.execute(sql).fetchall()}
            for etype, sql in edge_sql.items()
        }
    finally:
        con.close()
    return {"nodes": nodes, "edges": edges}


def read_sink(graph_dir: str) -> dict:
    """Rows of every SparkNative sink table, as lists (duplicates kept)."""
    import duckdb

    con = duckdb.connect()
    try:
        def rows(kind, name, cols):
            path = os.path.join(graph_dir, kind, name)
            if not os.path.isdir(path):
                return []
            sel = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
            return con.execute(f"SELECT {sel} FROM read_parquet('{path}/*.parquet')").fetchall()

        nodes = {label: [r[0] for r in rows("nodes", label, ["id"])] for label in NODE_LABELS}
        edges = {etype: [tuple(r) for r in rows("edges", etype, ["start", "end"])]
                 for etype in EDGE_TYPES}
    finally:
        con.close()
    return {"nodes": nodes, "edges": edges}


def _compare(what: str, expected: set, actual: list) -> list[str]:
    got = set(actual)
    out = []
    if len(got) != len(actual):
        out.append(f"{what}: {len(actual) - len(got)} duplicate rows")
    if got != expected:
        out.append(f"{what}: {len(expected - got)} missing, {len(got - expected)} unexpected "
                   f"(expected {len(expected)})")
    return out


def check_etl(expected: dict, sink: dict) -> tuple[list[str], float]:
    """Failures, and the share of expected node keys and edge endpoint
    pairs the sink holds."""
    fails = []
    found = wanted = 0
    for kind in ("nodes", "edges"):
        for name, want in expected[kind].items():
            got = sink[kind].get(name, [])
            fails += _compare(f"{kind}/{name}", want, got)
            found += len(want & set(got))
            wanted += len(want)
    return fails, found / wanted


# -- graph ----------------------------------------------------------------------


def graph_expected(edges: np.ndarray, kcore_k: int) -> dict:
    """Per operator, the (id -> value) map its result must equal."""
    import networkx as nx

    u = nx.Graph()
    u.add_edges_from(map(tuple, edges.tolist()))
    core = nx.k_core(u, kcore_k)
    return {"kcore": {v: core.degree(v) for v in core.nodes}}


def check_graph(op: str, rows: list[tuple], expected: dict) -> list[str]:
    """``rows`` are (id, value) pairs; they must match the oracle exactly."""
    got = {r[0]: r[1] for r in rows}
    if len(got) != len(rows):
        return [f"{op}: {len(rows) - len(got)} duplicate ids"]
    want = expected[op]
    if got.keys() != want.keys():
        return [f"{op}: vertex set differs ({len(got)} vs {len(want)})"]
    bad = sum(1 for v, x in want.items() if got[v] != x)
    return [f"{op}: {bad} of {len(want)} vertices differ"] if bad else []


# -- vectors --------------------------------------------------------------------


def vector_scores(corpus: np.ndarray, queries: np.ndarray) -> dict[str, np.ndarray]:
    """queries × corpus score matrices, oriented so larger is better."""
    c, q = corpus.astype(np.float64), queries.astype(np.float64)
    dot = q @ c.T
    return {"cosine": dot / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))}


def recall_at_k(scores: np.ndarray, q_ids: np.ndarray, c_ids: np.ndarray, rows: list[tuple],
                k: int, tol: float) -> tuple[float, list[str]]:
    """Mean recall@k of ``rows`` (query_id, neighbor_id) against exact
    ``scores``. A neighbor counts as correct when its exact score is
    within ``tol`` of the k-th best, so ties and rounding in the
    operator's ranking are not counted against it."""
    col = {int(v): i for i, v in enumerate(c_ids)}
    by_q: dict[int, list[int]] = {}
    for qid, nid in rows:
        by_q.setdefault(int(qid), []).append(int(nid))
    fails = []
    hits = 0
    for qi, qid in enumerate(q_ids):
        got = by_q.get(int(qid), [])
        if len(got) != k or len(set(got)) != k:
            fails.append(f"query {qid}: {len(got)} neighbors, {len(set(got))} distinct")
        kth = np.partition(scores[qi], -k)[-k]
        hits += sum(1 for n in set(got) if n in col and scores[qi, col[n]] >= kth - tol)
    return hits / (k * len(q_ids)), fails[:3]
