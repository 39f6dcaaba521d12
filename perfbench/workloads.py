"""The benchmark's workloads, each a repeatable pass over generated inputs.

A pass drives graph_etl_spark only through its public calls and wraps
each call in a tracer span named after the layer it enters. ``run``
does the timed work and leaves its results on disk under the pass
directory; ``check`` compares them with oracles computed outside Spark
and returns the failed checks and the share of the oracle's answer the
pass reproduced; ``counters`` (traced runs only) reads per-layer counts
from what the pass left behind.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import oracles


def tree_size(path: str, suffix: str = "", skip: str | None = None) -> tuple[int, int]:
    """(files, bytes) under ``path`` whose name ends with ``suffix``,
    not descending into directories whose name ends with ``skip``.
    Spark's hidden and marker files (``.crc``, ``_SUCCESS``) are left out."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        if skip:
            dirs[:] = [d for d in dirs if not d.endswith(skip)]
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def read_pairs(path: str, first: str, second: str) -> list[tuple]:
    """Rows of two columns of the parquet dataset Spark wrote at ``path``."""
    t = pq.read_table(path, columns=[first, second])
    return list(zip(t[first].to_pylist(), t[second].to_pylist()))


class EtlBulk:
    """One full lifecycle: parse (2 node saves, an id remap, 1 edge
    save) → map (J1 legacy-order remap and J2 c_name → pk, both on
    PLACED) → load into the SparkNative sink (MATCH) and the dry-run
    Neo4j CSV handoff."""

    name = "etl_bulk"
    data = "etl"
    public_calls = 8  # init, parse, 3 saves, map_ids, map, 2 loads

    def __init__(self, manifest: dict):
        self.inputs = manifest["dir"]
        self.input_rows = manifest["input_rows"]
        self.input_bytes = manifest["input_bytes"]
        self.manifest = manifest
        self.expected = None

    def prepare_oracle(self) -> None:
        self.expected = oracles.etl_expected(self.inputs)

    def run(self, spark, tr, out_dir: str) -> dict:
        import graph_etl_spark as getl
        from graph_etl_spark.pipeline import _map_property

        def read(name):
            return spark.read.parquet(os.path.join(self.inputs, f"{name}.parquet"))

        with tr.span("catalog.init", spark=False):
            store = getl.init(spark, output_folder=os.path.join(out_dir, "output"))
        if tr.enabled:
            tr.wrap(store, "flush_configs", "catalog.flush", spark=False)
            tr.wrap(store, "ledger_contains", "catalog.ledger", spark=False)
            tr.wrap(store, "ledger_append", "catalog.ledger", spark=False)

        @getl.Parser(source="perfbench")
        def tpch(ctx):
            for label, name in oracles.NODE_LABELS.items():
                with tr.span("context.save_nodes"):
                    ctx.save_nodes(read(name), label)
            with tr.span("context.map_ids"):
                ctx.map_ids(read("order_legacy_map"), "Order:id")
            with tr.span("context.save_edges"):
                ctx.save_edges(read("placed"), "PLACED", "Customer:c_name", "Order:id")

        with tr.span("parser.run"):
            getl.parse(use_mapper=False)
        staged_edge_files = {f for files in store._configs["edges"].values() for f in files}
        with tr.span("pipeline.map"):
            _map_property(store)
            store.flush_configs()
        sink = getl.SparkNativeGraphLoader(spark, graph_dir=os.path.join(out_dir, "graph"))
        neo = getl.Neo4JLoader(spark=spark)
        if tr.enabled:
            for method in ("load_nodes", "load_edges"):
                tr.wrap(sink, method, f"loaders.spark_native.{method}")
                tr.wrap(neo, method, "loaders.neo4j.handoff")
        with tr.span("pipeline.load"):
            totals = getl.load(sink)
        with tr.span("pipeline.load"):
            getl.load(neo)
        return {"store": store, "totals": totals, "neo": neo, "out_dir": out_dir,
                "staged_edge_files": staged_edge_files}

    def check(self, res: dict) -> tuple[list[str], float]:
        fails, recall = oracles.check_etl(self.expected, oracles.read_sink(os.path.join(res["out_dir"], "graph")))
        if not res["neo"].statements:
            fails.append("neo4j handoff issued no statements")
        return fails, recall

    def counters(self, res: dict) -> dict[str, float]:
        store, out_dir = res["store"], res["out_dir"]
        cfg = store._configs
        node_rows = sum(f["count"] for c in cfg["nodes"].values() for f in c["files"].values())
        edge_rows = sum(f["count"] for files in cfg["edges"].values() for f in files.values())
        saved = [n for n in self.manifest["files"] if n != "order_legacy_map"]
        rows_in = sum(self.manifest["files"][n]["rows"] for n in saved)
        staged_files, staged_bytes = tree_size(os.path.join(out_dir, "output"), skip="__csv")
        sink_files, _ = tree_size(os.path.join(out_dir, "graph"), suffix=".parquet")
        edge_files = {f for files in cfg["edges"].values() for f in files}
        return {
            "parser.calls": len(store._all_parsing_functions),
            "context.saves": len(saved),
            "context.rows_in": rows_in,
            "context.rows_staged": node_rows + edge_rows,
            "context.keep_frac": (node_rows + edge_rows) / rows_in,
            "context.staged_files": staged_files,
            "context.staged_bytes": staged_bytes,
            "catalog.json_bytes": os.path.getsize(store.configs_path),
            "pipeline.map_files_rewritten": len(edge_files - res["staged_edge_files"]),
            "loaders.spark_native.rows_loaded": res["totals"]["nodes"] + res["totals"]["edges"],
            "loaders.spark_native.edge_keep_frac": res["totals"]["edges"] / max(1, edge_rows),
            "loaders.spark_native.sink_files": sink_files,
            "loaders.neo4j.statements": len(res["neo"].statements),
        }


GRAPH_OPS = ("kcore",)
GRAPH_VALUE_COL = {"kcore": "degree"}
KCORE_K = 3
SIM_OPS = ("brute_force_topk",)
TOPK = 10
# score each top-k operator ranks by, and the rounding slack its ties
# may use; the operators are exact, so each must reach recall 1
SIM_SPEC = {"brute_force_topk": ("cosine", 1.5e-4)}


class Operators:
    """An iterative graph operator (k-core peeling) over a directed
    graph, then exact cosine top-k (k = 10) over a vector corpus; each
    result is written as parquet."""

    name = "operators"
    data = "operators"
    public_calls = len(GRAPH_OPS) + len(SIM_OPS)

    def __init__(self, manifest: dict):
        self.inputs = manifest["dir"]
        self.input_rows = manifest["input_rows"]
        self.input_bytes = manifest["input_bytes"]
        self.expected = self.truth = None

    def _path(self, name: str) -> str:
        return os.path.join(self.inputs, f"{name}.parquet")

    def prepare_oracle(self) -> None:
        t = pq.read_table(self._path("edges"))
        edges = np.column_stack([t["src"].to_numpy(), t["dst"].to_numpy()])
        self.expected = oracles.graph_expected(edges, KCORE_K)

        def load(name):
            t = pq.read_table(self._path(name))
            return t["vec_id"].to_numpy(), np.array(t["embedding"].to_pylist(), dtype=np.float32)

        c_ids, corpus = load("corpus")
        q_ids, queries = load("queries")
        self.truth = (c_ids, q_ids, oracles.vector_scores(corpus, queries))

    def run(self, spark, tr, out_dir: str) -> dict:
        from graph_etl_spark import operators as ops

        with tr.span("spark.read"):
            edges, data, queries = (spark.read.parquet(self._path(n)) for n in ("edges", "corpus", "queries"))
        calls = {
            "kcore": lambda: ops.kcore(edges, k=KCORE_K),
            "brute_force_topk": lambda: ops.brute_force_topk(data, queries, k=TOPK),
        }
        jsc = spark.sparkContext._jsc
        pinned = {}
        for op in GRAPH_OPS:
            before = jsc.getPersistentRDDs().size() if tr.enabled else 0
            with tr.span(f"operators.graph.{op}"):
                calls[op]().write.parquet(os.path.join(out_dir, op))
            if tr.enabled:
                pinned[op] = jsc.getPersistentRDDs().size() - before
        for op in SIM_OPS:
            with tr.span(f"operators.similarity.{op}"):
                calls[op]().write.parquet(os.path.join(out_dir, op))
        return {"out_dir": out_dir, "pinned": pinned}

    def recalls(self, res: dict) -> dict[str, tuple[float, list[str]]]:
        c_ids, q_ids, scores = self.truth
        out = {}
        for op in SIM_OPS:
            rows = read_pairs(os.path.join(res["out_dir"], op), "query_id", "neighbor_id")
            out[op] = oracles.recall_at_k(scores[SIM_SPEC[op][0]], q_ids, c_ids, rows, TOPK, SIM_SPEC[op][1])
        return out

    def check(self, res: dict) -> tuple[list[str], float]:
        """Failures, and the mean recall@10 of the top-k operators."""
        fails = []
        for op in GRAPH_OPS:
            rows = read_pairs(os.path.join(res["out_dir"], op), "id", GRAPH_VALUE_COL[op])
            fails += oracles.check_graph(op, rows, self.expected)
        recalls = self.recalls(res)
        for op, (recall, shape_fails) in recalls.items():
            fails += [f"{op}: {m}" for m in shape_fails]
            if recall < 1.0:
                fails.append(f"{op}: recall@{TOPK} {recall:.3f}")
        return fails, sum(r for r, _ in recalls.values()) / len(recalls)

    def counters(self, res: dict) -> dict[str, float]:
        out = {f"operators.graph.{op}.pinned_rdds_after": n for op, n in res["pinned"].items()}
        out.update({f"operators.similarity.{op}.recall_at_10": r for op, (r, _) in self.recalls(res).items()})
        return out


WORKLOADS = {w.name: w for w in (EtlBulk, Operators)}
