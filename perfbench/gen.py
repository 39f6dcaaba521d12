"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: it writes its files
with pyarrow into a directory and returns a manifest with the input
row and byte counts, the sizes and the perturbation rates used. The
same seed gives byte-identical files, so a run's inputs are
reproducible from its seed alone. The sizes are module constants;
METRICS.md records why each one is what it is.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ETL perturbations: each rate is the share of rows it touches.
ETL_RATES = {
    "duplicate_key": 0.05,  # extra row reusing a key, other values differ
    "null_key": 0.01,  # primary key or edge endpoint set to null
    "control_char": 0.05,  # CR, LF or backslash inserted into a string
    "legacy_order": 0.25,  # PLACED end given as a legacy order id
    "dangling_endpoint": 0.02,  # endpoint that names no node
}
LEGACY_OFFSET = 1_000_000
CONTROL_CHARS = ("\r", "\n", "\\")


def _write(path: str, table: pa.Table) -> tuple[int, int]:
    pq.write_table(table, path, compression="snappy")
    return table.num_rows, os.path.getsize(path)


def _manifest(out_dir: str, files: dict[str, pa.Table], **extra) -> dict:
    rows = nbytes = 0
    per_file = {}
    for name, table in files.items():
        r, b = _write(os.path.join(out_dir, f"{name}.parquet"), table)
        per_file[name] = {"rows": r, "bytes": b}
        rows += r
        nbytes += b
    return {"dir": out_dir, "files": per_file, "input_rows": rows, "input_bytes": nbytes, **extra}


# -- ETL ----------------------------------------------------------------------


def _names(rng, prefix: str, n: int) -> np.ndarray:
    return np.array([f"{prefix} {w:05d}" for w in rng.integers(0, 99_999, n)], dtype=object)


def _dirty(rng, values: np.ndarray, rate: float) -> np.ndarray:
    """Insert one control character into ``rate`` of the strings."""
    out = values.copy()
    hit = np.flatnonzero(rng.random(len(out)) < rate)
    chars = rng.integers(0, len(CONTROL_CHARS), len(hit))
    for i, c in zip(hit, chars):
        s = out[i]
        cut = len(s) // 2
        out[i] = s[:cut] + CONTROL_CHARS[c] + s[cut:]
    return out


def _with_duplicates(rng, cols: dict[str, np.ndarray], key: str, rate: float, vary: list[str]):
    """Append ``rate`` × n rows that copy an existing key and draw new
    values for the ``vary`` columns, so key dedup has conflicts to settle."""
    n = len(cols[key])
    pick = rng.choice(n, int(n * rate), replace=False)
    out = {}
    for name, col in cols.items():
        extra = col[pick].copy()
        if name in vary:
            extra = col[rng.permutation(n)[: len(pick)]]
        out[name] = np.concatenate([col, extra])
    order = rng.permutation(len(out[key]))
    return {name: col[order] for name, col in out.items()}


def _null_out(rng, values: np.ndarray, rate: float) -> list:
    mask = rng.random(len(values)) < rate
    return [None if m else v.item() if hasattr(v, "item") else v for v, m in zip(values, mask)]


def _lists(rng, prefix: str, n: int, most: int) -> list[list[str]]:
    lens = rng.integers(1, most + 1, n)
    return [[f"{prefix}{v}" for v in rng.integers(0, 50, k)] for k in lens]


# TPC-H row counts at scale factor 0.1, and the share of them the ETL
# workload generates
SF01_ROWS = {"customer": 15_000, "order": 150_000}
ETL_SHARE = 0.05


def generate_etl(out_dir: str, seed: int) -> dict:
    """TPC-H-shaped node and edge inputs for the ETL lifecycle.

    Two node inputs (customer, order), one edge input (placed) and one
    id remap (order_legacy_map). PLACED names its customer by
    ``c_name``, so mapping must resolve it to the primary key (J2), and
    a share of its orders by a legacy id that the remap translates
    (J1)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    r = ETL_RATES
    n = {k: int(v * ETL_SHARE) for k, v in SF01_ROWS.items()}

    cust_id = np.arange(1, n["customer"] + 1, dtype=np.int64)
    cust = {
        "id": cust_id,
        "c_name": np.array([f"Customer#{i:09d}" for i in cust_id], dtype=object),
        "c_address": _names(rng, "Street", len(cust_id)),
        "c_nationkey": rng.integers(0, 25, len(cust_id)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, len(cust_id)), 2),
        "c_mktsegment": rng.choice(np.array(["AUTO", "BUILD", "FURN", "HOUSE", "MACH"], dtype=object), len(cust_id)),
    }
    cust = _with_duplicates(rng, cust, "id", r["duplicate_key"], ["c_address", "c_acctbal", "c_mktsegment"])
    customer = pa.table({
        "id": pa.array(_null_out(rng, cust["id"], r["null_key"]), pa.int64()),
        # a duplicate keeps its name but may carry other control chars:
        # after stripping, every customer id has exactly one name
        "c_name": pa.array(_dirty(rng, cust["c_name"], r["control_char"]), pa.string()),
        "c_address": pa.array(_dirty(rng, cust["c_address"], r["control_char"]), pa.string()),
        "c_nationkey": pa.array(cust["c_nationkey"], pa.int64()),
        "c_acctbal": pa.array(cust["c_acctbal"], pa.float64()),
        "c_mktsegment": pa.array(cust["c_mktsegment"], pa.string()),
        "c_phones": pa.array(_lists(rng, "+1-555-", len(cust["id"]), 3), pa.list_(pa.string())),
    })

    order_id = np.arange(1, n["order"] + 1, dtype=np.int64)
    orders = {
        "id": order_id,
        "o_status": rng.choice(np.array(["F", "O", "P"], dtype=object), len(order_id)),
        "o_totalprice": np.round(rng.uniform(100, 50_000, len(order_id)), 2),
        "o_orderdate": rng.integers(8000, 10_500, len(order_id)),
        "o_comment": _names(rng, "note", len(order_id)),
    }
    orders = _with_duplicates(rng, orders, "id", r["duplicate_key"], ["o_totalprice", "o_comment"])
    order = pa.table({
        "id": pa.array(_null_out(rng, orders["id"], r["null_key"]), pa.int64()),
        "o_status": pa.array(orders["o_status"], pa.string()),
        "o_totalprice": pa.array(orders["o_totalprice"], pa.float64()),
        "o_orderdate": pa.array(orders["o_orderdate"], pa.int32()).cast(pa.date32()),
        "o_comment": pa.array(_dirty(rng, orders["o_comment"], r["control_char"]), pa.string()),
    })

    def endpoints(ids: np.ndarray, k: int) -> np.ndarray:
        """k draws from ``ids``; a share are replaced by ids past the end."""
        out = rng.choice(ids, k)
        bad = rng.random(k) < r["dangling_endpoint"]
        out[bad] = ids.max() + 1 + rng.integers(0, 1000, int(bad.sum()))
        return out

    n_placed = n["order"]
    placed_cust = endpoints(cust_id, n_placed)
    placed_names = np.array([f"Customer#{i:09d}" for i in placed_cust], dtype=object)
    placed_order = endpoints(order_id, n_placed)
    placed_order[rng.random(n_placed) < r["legacy_order"]] += LEGACY_OFFSET
    placed = pa.table({
        "start": pa.array(_null_out(rng, _dirty(rng, placed_names, r["control_char"]), r["null_key"]), pa.string()),
        "end": pa.array(_null_out(rng, placed_order, r["null_key"]), pa.int64()),
        "channel": pa.array(rng.choice(np.array(["web", "store", "phone"], dtype=object), n_placed), pa.string()),
        "tags": pa.array(_lists(rng, "tag", n_placed, 4), pa.list_(pa.string())),
    })
    legacy_map = pa.table({
        "old_value": pa.array(order_id + LEGACY_OFFSET, pa.int64()),
        "new_value": pa.array(order_id, pa.int64()),
    })

    return _manifest(
        out_dir,
        {"customer": customer, "order": order, "placed": placed, "order_legacy_map": legacy_map},
        rates=dict(r),
        sizes=n,
    )


# -- operators ----------------------------------------------------------------

GRAPH_SIZE = {"vertices": 2_000, "edges": 8_000}
VECTOR_SIZE = {"corpus": 2_000, "queries": 40, "dim": 64, "clusters": 16}
VECTOR_NOISE_SD = 0.35
ZIPF_EXPONENT = 0.9
QUERY_ID_OFFSET = 10_000_000


def _graph_edges(rng) -> pa.Table:
    """Directed power-law graph: sources drawn with Zipf-like weights,
    destinations uniformly; unique edges, no self loops."""
    nv, ne = GRAPH_SIZE["vertices"], GRAPH_SIZE["edges"]
    w = 1.0 / np.arange(1, nv + 1) ** ZIPF_EXPONENT
    w /= w.sum()
    label = rng.permutation(nv).astype(np.int64)  # hubs get arbitrary ids
    pairs: set[tuple[int, int]] = set()
    while len(pairs) < ne:
        k = ne - len(pairs)
        src = label[rng.choice(nv, k, p=w)]
        dst = label[rng.integers(0, nv, k)]
        pairs.update((int(a), int(b)) for a, b in zip(src, dst) if a != b)
    edges = np.array(sorted(pairs), dtype=np.int64)[:ne]
    edges = edges[rng.permutation(len(edges))]
    return pa.table({"src": pa.array(edges[:, 0]), "dst": pa.array(edges[:, 1])})


def _vectors(rng) -> dict[str, pa.Table]:
    """Clustered float32 embeddings (Gaussian blobs around random
    centres) and queries drawn near the same centres. Query ids are
    disjoint from corpus ids."""
    n = VECTOR_SIZE
    centres = rng.normal(0, 1, (n["clusters"], n["dim"]))

    def table(ids: np.ndarray) -> pa.Table:
        c = rng.integers(0, n["clusters"], len(ids))
        vecs = (centres[c] + rng.normal(0, VECTOR_NOISE_SD, (len(ids), n["dim"]))).astype(np.float32)
        return pa.table({"vec_id": pa.array(ids, pa.int64()),
                         "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})

    return {"corpus": table(np.arange(n["corpus"], dtype=np.int64)),
            "queries": table(np.arange(n["queries"], dtype=np.int64) + QUERY_ID_OFFSET)}


def generate_operators(out_dir: str, seed: int) -> dict:
    """A directed graph (``edges``) for the graph operators and a vector
    corpus with queries (``corpus``, ``queries``) for the top-k ones."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    return _manifest(
        out_dir,
        {"edges": _graph_edges(rng), **_vectors(rng)},
        rates={"zipf_exponent": ZIPF_EXPONENT, "self_loops": 0.0, "noise_sd": VECTOR_NOISE_SD},
        sizes={"graph": dict(GRAPH_SIZE), "vectors": dict(VECTOR_SIZE)},
    )


GENERATORS = {"etl": generate_etl, "operators": generate_operators}
