"""Staged writes and staged reads of the stage → map → load lifecycle.

A parser's saves overlap their writes and complete at the parser's
end; staged data and the SparkNative sink's own node tables are read
with the schema already known, so a lifecycle starts no schema
inference job.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

import graph_etl_spark as getl
from graph_etl_spark.catalog import STAGING_WRITERS
from graph_etl_spark.loaders.base import read_staged
from graph_etl_spark.metrics import measure
from graph_etl_spark.parser import PARSER_LEDGER

# Spark jobs of _lifecycle, AQE's shuffle-stage jobs included. It was
# 28 while every staged read and sink-table read inferred its schema
# with a job of its own.
LIFECYCLE_JOBS = 18


def _nodes(spark, n=5):
    return spark.range(n).selectExpr("id", "concat('c', cast(id AS string)) AS name")


def _lifecycle(spark, output_dir):
    """init → parse (2 node saves, 1 edge save on a natural key, J2
    remap) → load into the SparkNative sink and the dry-run Neo4j
    handoff. Returns the store and the sink."""
    store = getl.init(spark, output_folder=output_dir)
    customers = [{"id": i, "name": f"c{i}"} for i in range(5)]
    orders = [{"id": 100 + i, "total": float(i)} for i in range(8)]
    placed = [{"start": f"c{i % 5}", "end": 100 + i} for i in range(8)]

    @getl.Parser(source="lifecycle")
    def lifecycle(ctx):
        ctx.save_nodes(customers, "Customer")
        ctx.save_nodes(orders, "Order")
        ctx.save_edges(placed, "PLACED", "Customer:name", "Order:id")

    getl.parse()
    sink = getl.SparkNativeGraphLoader(spark, graph_dir=os.path.join(output_dir, "graph"))
    getl.load(sink)
    getl.load(getl.Neo4JLoader(spark=spark))
    return store, sink


def test_write_failure_surfaces_at_parser_end(spark, output_dir):
    store = getl.init(spark, output_folder=output_dir)
    good = _nodes(spark)
    bad = good.withColumn(
        "name", F.when(F.col("id") >= 0, F.raise_error(F.lit("staged write boom"))).otherwise("x")
    )
    failing = {"on": True}

    @getl.Parser(source="three_saves")
    def three_saves(ctx):
        ctx.save_nodes(good, "First", file_name="FIRST")
        ctx.save_nodes(bad if failing["on"] else good, "Second", file_name="SECOND")
        ctx.save_nodes(good, "Third", file_name="THIRD")

    with pytest.raises(Exception) as err:
        getl.parse(use_mapper=False)
    assert "staged write boom" in str(err.value)
    # what a sequential run leaves: the first save registered, nothing of
    # the failed write or the save after it on disk, the parser not ledgered
    assert list(store._configs["nodes"]) == ["First"]
    assert store._configs["nodes"]["First"]["files"]["FIRST"]["count"] == 5
    assert os.listdir(store.nodes_dir) == ["FIRST"]
    assert not store.ledger_contains(PARSER_LEDGER, "FUNCTION_three_saves")

    failing["on"] = False
    getl.parse(use_mapper=False)
    assert set(store._configs["nodes"]) == {"First", "Second", "Third"}
    assert sorted(os.listdir(store.nodes_dir)) == ["FIRST", "SECOND", "THIRD"]
    assert store.ledger_contains(PARSER_LEDGER, "FUNCTION_three_saves")


def test_with_form_registers_saves_before_an_error(spark, output_dir):
    store = getl.init(spark, output_folder=output_dir)
    with pytest.raises(ValueError, match="primary key"):
        with getl.Parser(source="inline") as ctx:
            ctx.save_nodes(_nodes(spark), "First")
            ctx.save_nodes(_nodes(spark), "Second", primary_key="missing")
    (info,) = store._configs["nodes"]["First"]["files"].values()
    assert info["count"] == 5
    assert "Second" not in store._configs["nodes"]


def test_lifecycle_starts_no_schema_inference_job(spark, output_dir):
    sc = spark.sparkContext
    _, cost = measure(spark, lambda: _lifecycle(spark, output_dir))
    status = sc._jsc.sc().statusStore()
    inference = [
        j
        for j in cost["job_ids"]
        for s in sc.statusTracker().getJobInfo(j).stageIds
        if "DataFrameReader.parquet" in status.lastStageAttempt(s).details()
    ]
    assert inference == [], f"schema inference jobs {inference}"
    assert cost["jobs"] == LIFECYCLE_JOBS


def test_pinned_schemas_equal_inferred(spark, output_dir):
    store, sink = _lifecycle(spark, output_dir)
    cfg = store._configs
    staged = [os.path.join(store.nodes_dir, f) for c in cfg["nodes"].values() for f in c["files"]]
    remapped = [os.path.join(store.edges_dir, f) for files in cfg["edges"].values() for f in files]
    assert all("__m" in os.path.basename(p) for p in remapped)  # J2 rewrote PLACED
    for path in staged + remapped:
        assert store.staged_schema(path) is not None
        assert read_staged(spark, path).schema == spark.read.parquet(path).schema, path
    for label in ("Customer", "Order"):
        path = sink._node_table_path(label)
        assert path in sink._table_schemas
        assert sink._read_table(path).schema == spark.read.parquet(path).schema, label


def test_repeated_parse_adds_no_threads(spark, tmp_path):
    nodes = _nodes(spark)

    def run(i):
        getl.init(spark, output_folder=str(tmp_path / f"output{i}"))

        @getl.Parser(source="threads")
        def three_saves(ctx):
            for label in ("A", "B", "C"):
                ctx.save_nodes(nodes, label)

        getl.parse(use_mapper=False)

    run(0)
    baseline = threading.active_count()
    for i in range(1, 4):
        run(i)
    assert threading.active_count() <= baseline
    writers = [t for t in threading.enumerate() if t.name.startswith("getl-staging")]
    assert 0 < len(writers) <= STAGING_WRITERS
