"""Where the one-task residual finish stops paying: wall of kcore or
strongly_connected_components with ``session.LOCAL_FINISH_ROWS`` set
below every row count (the Spark rounds) and far above it (the
one-task finish, ``Pins.finish``), on generated graphs of 2^p rows.

kcore (k=3) runs on the operators benchmark's graph shape (Zipf
sources, uniform destinations, 4 edges per vertex) with 2^p edges.
SCC runs on a source 3-cycle with an arc into each of 2^p/3 disjoint
3-cycles: the first phase settles the cycles whose own root wins the
coloring and leaves the rest, about 2^p rows, to the second phase, a
shallow residual that the Spark rounds settle in few rounds.

usage: python tools/finish_crossover.py kcore|scc P... [--reps N]

Prints one line per size: the median wall and job count of each path
over N alternating runs, after one warm-up run of each.
BENCH_NOTES.md ("Residual finish crossover") records a run.
"""

from __future__ import annotations

import argparse
import logging
import os
import statistics
import sys
import tempfile
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_etl_spark import operators as ops  # noqa: E402
from graph_etl_spark import session  # noqa: E402
from graph_etl_spark.metrics import measure  # noqa: E402


def powerlaw(p: int, seed: int = 1):
    rng = np.random.default_rng(seed)
    ne = 1 << p
    nv = ne // 4
    w = 1.0 / np.arange(1, nv + 1) ** 0.9
    w /= w.sum()
    label = rng.permutation(nv).astype(np.int64)
    src = label[rng.choice(nv, 2 * ne, p=w)]
    dst = label[rng.integers(0, nv, 2 * ne)]
    keep = src != dst
    key = np.unique(src[keep] * nv + dst[keep])
    key = key[rng.permutation(len(key))[:ne]]
    return key // nv, key % nv


def broom(p: int, seed: int = 1):
    m = max(1, (1 << p) // 3)
    base = np.arange(m, dtype=np.int64) * 3 + 3
    src = np.concatenate([[0, 1, 2], np.zeros(m, np.int64), base, base + 1, base + 2])
    dst = np.concatenate([[1, 2, 0], base, base + 1, base + 2, base])
    perm = np.random.default_rng(seed).permutation(len(src))
    return src[perm], dst[perm]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("op", choices=["kcore", "scc"])
    ap.add_argument("powers", type=int, nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    finishes = []

    class Grab(logging.Handler):
        def emit(self, rec):
            if ": local finish of " in rec.getMessage():
                finishes.append(rec.getMessage())

    log = logging.getLogger("graph_etl_spark")
    log.setLevel(logging.DEBUG)
    log.addHandler(Grab())
    spark = session.get_spark(
        "finish-crossover",
        extra_confs={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    call = partial(ops.kcore, k=3) if args.op == "kcore" else ops.strongly_connected_components

    def run(df, bound):
        session.LOCAL_FINISH_ROWS = bound
        _, cost = measure(spark, lambda: call(df).write.format("noop").mode("overwrite").save())
        return cost["wall_s"], cost["jobs"]

    paths = {"spark": -1, "local": 1 << 40}
    with tempfile.TemporaryDirectory() as tmp:
        for i, p in enumerate(args.powers):
            src, dst = (powerlaw if args.op == "kcore" else broom)(p)
            path = os.path.join(tmp, f"{p}.parquet")
            pq.write_table(pa.table({"src": src, "dst": dst}), path)
            df = spark.read.parquet(path)
            if i == 0:
                for bound in paths.values():
                    run(df, bound)
            walls, jobs = {"spark": [], "local": []}, {}
            for r in range(args.reps):
                for side in ("spark", "local") if r % 2 == 0 else ("local", "spark"):
                    dt, jobs[side] = run(df, paths[side])
                    walls[side].append(dt)
            ws, wl = (statistics.median(walls[s]) for s in ("spark", "local"))
            print(
                f"{args.op} 2^{p}: {len(src)} input edges, {finishes[-1]}; "
                f"spark rounds {ws:.2f} s / {jobs['spark']} jobs, "
                f"local finish {wl:.2f} s / {jobs['local']} jobs, ratio {ws / wl:.2f}",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
