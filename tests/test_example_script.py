"""Smoke test for the shipped end-to-end example (VERDICT r6 missing
item #1): the flow a new user runs first must keep working."""

from __future__ import annotations

import importlib.util
import os

import pytest


def _load_example(name="imdb_spark.py"):
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
        name,
    )
    spec = importlib.util.spec_from_file_location(name.removesuffix(".py") + "_example", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_example_imdb_spark_end_to_end(spark, tmp_path):
    mod = _load_example()
    totals = mod.main(workdir=str(tmp_path / "example_wd"))
    # 30 movies + 26 people + award categories; ACTED_IN (90) +
    # AWARDED_FOR (15); DIRECTED filtered out by the whitelist
    assert totals["nodes"] == 59
    assert totals["edges"] == 105

    import graph_etl_spark as getl

    acted = getl.get_store()._configs["edges"]["ACTED_IN"]
    # the example's natural-key declaration must have been auto-mapped
    assert all(info["end"] == "Movie:id" for info in acted.values())


def test_example_streaming_ingest_end_to_end(spark, tmp_path):
    mod = _load_example("streaming_ingest.py")
    # 60 docs: every 10th is repetition-spam, every 7th (non-10th) too
    # short — the gate admits the remaining 46; the script itself
    # asserts replay idempotence
    assert mod.main(workdir=str(tmp_path / "stream_wd")) == 46


@pytest.fixture(scope="module")
def curation_out(spark):
    """One run of the corpus-curation demo against the sf0.001 tables,
    shared by the tests that check its report."""
    mod = _load_example("corpus_curation.py")
    return mod.main(spark=spark, sf_dir="/root/testdata/sf0.001")


def test_example_corpus_curation_end_to_end(curation_out):
    """The training-data curation demo must run every stage against
    the real sf0.001 tables and report coherent counts."""
    out = curation_out
    assert out["docs_in"] > 0
    assert 0 < out["survivors"] <= out["after_exact"] <= out["docs_in"]
    # every simulated re-crawl must be caught by the incremental vet
    assert set(out["batch_verdicts"]) <= {
        "exact_index", "exact_batch", "near_index", "kept"
    }
    assert out["pq_vectors"] > 0
    assert out["bpe_merges"] == 3
    # nightly delta: upsert can only grow the corpus (admitted novel
    # ids extend it; re-crawls replace), and the profile gate saw every
    # column of the refreshed (doc_id, text) table
    assert out["refreshed_docs"] >= out["survivors"]
    assert out["profile_columns"] == 2
    # the split is a partition of the refreshed corpus; the BM25 probe
    # must surface at least one hit on the common vocabulary
    assert sum(out["splits"].values()) == out["refreshed_docs"]
    assert out["bm25_hits"] >= 1
    # stage 10: CDC audit sees the nightly delta as adds only (novel
    # re-crawl ids; replaced rows carry identical text so they are
    # 'unchanged' and dropped — empty when nothing was admitted), and
    # the add count must reconcile with the upsert growth; masking
    # preserves source cardinality
    assert set(out["cdc_changes"]) <= {"added", "changed"}
    assert out["cdc_changes"].get("added", 0) == (
        out["refreshed_docs"] - out["survivors"]
    )
    # round-14 stages: line dedup reports a coherent removal count,
    # every language contributes head docs, and soft-dedup mass equals
    # the distinct-content count (<= docs_in, > 0)
    assert out["lines_removed"] >= 0
    assert out["head_docs"] > 0
    assert 0 < out["soft_mass"] <= out["docs_in"]
    assert out["masked_sources"] >= 1


def test_example_curation_round15_stages(curation_out):
    """Round-15 stages report coherent results: semantic survivors are
    a nonempty subset of the vectors; the cluster split partitions the
    corpus; contamination flags are bounded by the eval slice; the
    mixture weights form a simplex."""
    out = curation_out
    assert 0 < out["semantic_kept"]
    assert sum(out["cluster_splits"].values()) == out["docs_in"]
    assert 0 <= out["contaminated_evals"] <= 20
    w = out["mixture_weights"]
    assert w and abs(sum(w.values()) - 1.0) < 1e-4
