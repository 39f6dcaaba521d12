"""Loader + callback tests (reference graph_etl/tests/test_loader.py
posture: no live DB required — Neo4j/TigerGraph run dry and we assert
on generated statements; the SparkNative loader is asserted end-to-end).
"""

from __future__ import annotations

import os

import graph_etl_spark as getl
from graph_etl_spark import Neo4JLoader, SparkNativeGraphLoader, TigerGraphLoader
from graph_etl_spark.catalog import get_store


def _stage_small_graph(spark, output_dir):
    getl.init(spark, output_folder=output_dir)
    with getl.Parser(source="test", licence="MIT") as ctx:
        ctx.save_nodes(
            [{"id": 1, "name": "Tom"}, {"id": 2, "name": "Marie"}],
            label="Person",
            indexs=["name"],
        )
        ctx.save_edges(
            [{"start": 1, "end": 2, "since": 2020}, {"start": 1, "end": 99, "since": 2021}],
            edge_type="KNOWS",
            start_id="Person:id",
            end_id="Person:id",
        )


def test_spark_native_match(spark, output_dir):
    _stage_small_graph(spark, output_dir)
    loader = SparkNativeGraphLoader(
        spark, graph_dir=f"{output_dir}/graph", node_finding_strategy="match"
    )
    totals = getl.load(loader)
    assert totals["nodes"] == 2
    # edge to missing node 99 dropped by MATCH semantics (J3 semi-join)
    assert totals["edges"] == 1
    edges = loader.edges("KNOWS").collect()
    assert len(edges) == 1 and edges[0]["end"] == 2
    # metadata attached as_property
    nodes = {r["id"]: r.asDict() for r in loader.nodes("Person").collect()}
    assert nodes[1]["meta_source"] == "test"
    assert nodes[1]["meta_licence"] == "MIT"


def test_spark_native_create_blank_nodes(spark, output_dir):
    _stage_small_graph(spark, output_dir)
    loader = SparkNativeGraphLoader(
        spark, graph_dir=f"{output_dir}/graph", node_finding_strategy="create"
    )
    totals = getl.load(loader)
    assert totals["edges"] == 2  # missing endpoint synthesized (J4)
    nodes = loader.nodes("Person")
    assert nodes.count() == 3
    blanks = [r for r in nodes.collect() if r.asDict().get("__blank_node")]
    assert len(blanks) == 1 and blanks[0]["id"] == 99


def test_spark_native_zero_row_append_leaves_table_unchanged(spark, output_dir):
    _stage_small_graph(spark, output_dir)
    loader = SparkNativeGraphLoader(spark, graph_dir=f"{output_dir}/graph")
    getl.load(loader)
    table = f"{output_dir}/graph/nodes/Person"
    before = sorted(os.listdir(table))
    store = get_store()
    cfg = store._configs["nodes"]["Person"]
    (file_name,) = cfg["files"]
    # the same staged file again: the upsert anti-join keeps no row
    n = loader.load_nodes(
        file_path=f"{store.nodes_dir}/{file_name}",
        label="Person",
        primary_key="id",
        metadatas={},
        properties_type=cfg["properties_type"],
        constraints=[],
        indexs=[],
    )
    assert n == 0
    assert sorted(os.listdir(table)) == before


def test_neo4j_dry_run_statements(spark, output_dir):
    _stage_small_graph(spark, output_dir)
    loader = Neo4JLoader(spark=spark)
    getl.load(loader)
    stmts = "\n".join(loader.statements)
    assert "CREATE CONSTRAINT" in stmts and "IS UNIQUE" in stmts
    assert "CREATE RANGE INDEX" in stmts
    assert "apoc.periodic.iterate" in stmts
    assert "batchSize: 50000" in stmts  # node MERGE batch (neo4j_loader.py:165)
    assert "batchSize: 20000" in stmts  # edge CREATE batch (neo4j_loader.py:286)
    assert "MERGE (n:`Person`" in stmts
    assert "toInteger(row.id)" in stmts  # dtype-driven cast (F7)
    assert "row.start <> '' AND row.end <> ''" in stmts  # P6


def test_tigergraph_dry_run_statements(spark, output_dir):
    _stage_small_graph(spark, output_dir)
    loader = TigerGraphLoader(spark=spark)
    getl.load(loader)
    stmts = "\n".join(loader.statements)
    assert "ADD VERTEX Person (PRIMARY_ID id INT" in stmts
    assert "ADD UNDIRECTED EDGE KNOWS" in stmts
    assert 'SEPARATOR=";"' in stmts
    assert "LOADING JOB" in stmts


def test_callbacks_owl_shacl(spark, output_dir, tmp_path):
    owl = getl.CallbackOWL(path=str(tmp_path / "o.owl"))
    shacl = getl.CallbackSHACL(path=str(tmp_path / "s.ttl"))
    getl.init(spark, callbacks=[owl, shacl], output_folder=output_dir)
    with getl.Parser(source="test") as ctx:
        ctx.save_nodes([{"id": 1, "name": "Tom"}], label="Person")
        ctx.save_edges(
            [{"start": 1, "end": 1}], edge_type="KNOWS",
            start_id="Person:id", end_id="Person:id",
        )
    owl_text = open(owl.export()).read()
    assert "Declaration(Class(:Person))" in owl_text
    assert "DataPropertyRange(:Person_name xsd:string)" in owl_text
    assert "ObjectProperty(:KNOWS)" in owl_text
    ttl = open(shacl.export()).read()
    assert ":PersonShape a sh:NodeShape ;" in ttl
    assert "sh:datatype xsd:integer" in ttl
    assert "sh:path :KNOWS" in ttl


def test_loader_ledger_idempotence(spark, output_dir):
    _stage_small_graph(spark, output_dir)
    loader = SparkNativeGraphLoader(
        spark, graph_dir=f"{output_dir}/graph", node_finding_strategy="match"
    )
    getl.load(loader)
    store = get_store()
    # ledgers are deleted after a completed load (pipeline.py:193-199)
    import os

    assert not os.path.isfile(os.path.join(store.output_folder, "log_loader.txt"))
