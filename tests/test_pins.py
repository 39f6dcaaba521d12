"""One eager checkpoint kind across the library.

Every eager checkpoint goes through a ``session.Pins`` scope, whose
eager pins carry their observed row count on the leaf. Outside
``session.py`` no code persists, caches or eagerly checkpoints a frame
by hand, and each non-graph call that pins a frame leaves pinned only
what its result reads.
"""

from __future__ import annotations

import math
import pathlib
import re

import pytest

from graph_etl_spark import operators as ops
from graph_etl_spark.session import _persisted_rdds

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "graph_etl_spark"

FORBIDDEN = re.compile(
    r"\.persist\(|\.cache\(|localCheckpoint\(\)|localCheckpoint\(eager=True\)"
    r"|fresh_stats|stats_free_checkpoint|release_checkpoint"
)


def test_one_eager_checkpoint_kind():
    """Only session.py takes an eager checkpoint, persists or caches."""
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if FORBIDDEN.search(line)
    ]
    assert not hits, "\n".join(hits)


def _vectors(spark, n=24, dim=8):
    rows = [
        (i, [math.cos(0.37 * i + 0.11 * j) for j in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _texts(spark):
    docs = [
        "the cat sat on the mat",
        "the the the the spam spam spam",
        "a low lower lowest newer newest wider",
        "graph data moves through the pipeline",
        "click here click here buy now",
    ]
    return spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")


def _events(spark):
    kinds = ["view", "cart", "buy"]
    rows = [
        (u, t, kinds[(u + t) % 3], u * 100 + t) for u in range(6) for t in range(5)
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts long, event_type string, event_id long"
    )


# function: (call, pins its result reads)
CALLS = {
    "bpe_learn_merges-3": (lambda s: ops.bpe_learn_merges(_texts(s), rounds=3), 0),
    "bpe_learn_merges-6": (lambda s: ops.bpe_learn_merges(_texts(s), rounds=6), 0),
    "kmeans_centroids": (lambda s: ops.kmeans_centroids(_vectors(s)), 1),
    "kmeans_fit": (lambda s: ops.kmeans_fit(_vectors(s)), 0),
    "pq_train": (lambda s: ops.pq_train(_vectors(s), m=2, k_codes=4), 0),
    "semantic_dedup_pairs": (
        lambda s: ops.semantic_dedup_pairs(_vectors(s), k=3, threshold=0.5),
        1,
    ),
    "mmr_rerank": (
        lambda s: ops.mmr_rerank(
            _vectors(s), _vectors(s).limit(2), k=3, pool=6
        ),
        3,
    ),
    "ivf_recall_curve": (
        lambda s: ops.ivf_recall_curve(_vectors(s), _vectors(s).limit(3), nlist=4),
        0,
    ),
    "markov_steady_state": (lambda s: ops.markov_steady_state(_events(s)), 0),
    "quality_classifier_train": (
        lambda s: ops.quality_classifier_train(_texts(s), dim=8), 0,
    ),
}


@pytest.mark.parametrize("name", list(CALLS))
def test_call_keeps_only_pins_its_result_reads(spark, name):
    call, kept = CALLS[name]
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    out = call(spark)
    assert out.collect()
    left = set(rdds().keySet()) - before
    assert left <= set(_persisted_rdds(out, nearest=False))
    assert len(left) == kept
