"""The oracles accept a right result and catch a deliberately corrupted one.

    python3 -m pytest perfbench/tests
"""

import numpy as np
import pytest

import gen
import oracles


@pytest.fixture(scope="module")
def etl_expected(tmp_path_factory):
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "ETL_SHARE", 0.01)
    try:
        manifest = gen.generate_etl(str(tmp_path_factory.mktemp("etl")), seed=5)
    finally:
        mp.undo()
    return oracles.etl_expected(manifest["dir"])


def as_sink(expected):
    return {"nodes": {k: sorted(v) for k, v in expected["nodes"].items()},
            "edges": {k: sorted(v) for k, v in expected["edges"].items()}}


def test_etl_expected_covers_every_label_and_edge_type(etl_expected):
    assert all(etl_expected["nodes"][label] for label in oracles.NODE_LABELS)
    assert all(etl_expected["edges"][t] for t in oracles.EDGE_TYPES)
    # J2: PLACED starts are customer keys, not names
    assert {s for s, _ in etl_expected["edges"]["PLACED"]} <= etl_expected["nodes"]["Customer"]


def test_etl_right_sink_passes(etl_expected):
    assert oracles.check_etl(etl_expected, as_sink(etl_expected)) == ([], 1.0)


def test_etl_missing_node_is_caught(etl_expected):
    sink = as_sink(etl_expected)
    sink["nodes"]["Order"].pop()
    fails, recall = oracles.check_etl(etl_expected, sink)
    assert fails and recall < 1.0


def test_etl_duplicate_row_is_caught(etl_expected):
    sink = as_sink(etl_expected)
    sink["nodes"]["Customer"].append(sink["nodes"]["Customer"][0])
    fails, recall = oracles.check_etl(etl_expected, sink)
    assert any("duplicate" in f for f in fails) and recall == 1.0


def test_etl_wrong_endpoint_is_caught(etl_expected):
    sink = as_sink(etl_expected)
    start, end = sink["edges"]["PLACED"][0]
    sink["edges"]["PLACED"][0] = (start, str(int(end) + gen.LEGACY_OFFSET))  # an unmapped legacy id
    fails, _ = oracles.check_etl(etl_expected, sink)
    assert fails


@pytest.fixture(scope="module")
def graph():
    rng = np.random.default_rng(3)
    edges = np.unique(rng.integers(0, 60, (300, 2)), axis=0)
    edges = edges[edges[:, 0] != edges[:, 1]]
    return oracles.graph_expected(edges, kcore_k=3)


def test_kcore_oracle_peels_low_degree_vertices():
    # a 4-clique plus a pendant vertex: the 3-core is the clique
    edges = np.array([[1, 2], [1, 3], [1, 4], [2, 3], [2, 4], [3, 4], [4, 5]])
    assert oracles.graph_expected(edges, kcore_k=3)["kcore"] == {1: 3, 2: 3, 3: 3, 4: 3}


def test_graph_right_result_passes(graph):
    assert graph["kcore"]
    assert oracles.check_graph("kcore", list(graph["kcore"].items()), graph) == []


def test_graph_wrong_kcore_degree_is_caught(graph):
    rows = list(graph["kcore"].items())
    rows[0] = (rows[0][0], rows[0][1] + 1)
    assert oracles.check_graph("kcore", rows, graph)


def test_graph_missing_or_duplicate_vertex_is_caught(graph):
    rows = list(graph["kcore"].items())
    assert oracles.check_graph("kcore", rows[1:], graph)
    assert oracles.check_graph("kcore", rows + rows[:1], graph)


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(7)
    corpus = rng.normal(size=(50, 8)).astype(np.float32)
    queries = rng.normal(size=(4, 8)).astype(np.float32)
    c_ids = np.arange(50) + 100
    q_ids = np.arange(4) + 1000
    return c_ids, q_ids, oracles.vector_scores(corpus, queries)


def exact_rows(c_ids, q_ids, scores, k):
    return [(q, int(c_ids[j])) for i, q in enumerate(q_ids) for j in np.argsort(-scores[i], kind="stable")[:k]]


def test_exact_topk_has_full_recall(vectors):
    c_ids, q_ids, scores = vectors
    rows = exact_rows(c_ids, q_ids, scores["cosine"], 5)
    assert oracles.recall_at_k(scores["cosine"], q_ids, c_ids, rows, 5, 0.0) == (1.0, [])


def test_wrong_neighbor_lowers_recall(vectors):
    c_ids, q_ids, scores = vectors
    rows = exact_rows(c_ids, q_ids, scores["cosine"], 5)
    worst = int(c_ids[np.argmin(scores["cosine"][0])])
    rows[0] = (rows[0][0], worst)
    recall, fails = oracles.recall_at_k(scores["cosine"], q_ids, c_ids, rows, 5, 1e-4)
    assert recall == pytest.approx(1 - 1 / 20) and fails == []


def test_short_or_repeated_neighbor_list_is_caught(vectors):
    c_ids, q_ids, scores = vectors
    rows = exact_rows(c_ids, q_ids, scores["cosine"], 5)
    _, fails = oracles.recall_at_k(scores["cosine"], q_ids, c_ids, rows[1:], 5, 0.0)
    assert fails
    rows[1] = rows[0]
    _, fails = oracles.recall_at_k(scores["cosine"], q_ids, c_ids, rows, 5, 0.0)
    assert fails
