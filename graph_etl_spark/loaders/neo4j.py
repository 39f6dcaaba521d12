"""Neo4JLoader — Cypher/APOC bulk-load statement generator
(reference graph_etl/neo4j_loader.py).

Generates the same statement shapes as the reference: per-label unique
constraints / range indexes, ``apoc.periodic.iterate`` over
``apoc.load.csv`` with MERGE (nodes, batch 50 000, parallel:false) and
CREATE (edges, batch 20 000), the two endpoint strategies
('match'/'create' — neo4j_loader.py:265-276), and both metadata
strategies (neo4j_loader.py:157-175).

The ``neo4j`` driver is optional (import-try): without it the loader
runs in dry-run mode, collecting statements in ``self.statements`` —
which is also what the tests assert on (the reference's own
integration test early-returns without a live DB, test_loader.py:10-13).

Staged parquet is converted to the ';'-CSV handoff files APOC expects.
"""

from __future__ import annotations

import os
from typing import Any

from .base import Loader, staged_csv_files

# reference type_mapping (neo4j_loader.py:14-33): dtype-string substring →
# (cypher converter, csv header type)
_CONVERTERS: list[tuple[str, str]] = [
    ("List", "split(row.{col}, '|')"),
    ("Utf8", "row.{col}"),
    ("Int", "toInteger(row.{col})"),
    ("Float", "toFloat(row.{col})"),
    ("Boolean", "toBoolean(row.{col})"),
    ("Datetime", "datetime(replace(row.{col}, ' ', 'T'))"),
    ("Date", "date(row.{col})"),
]

NODE_BATCH = 50_000  # neo4j_loader.py:165
EDGE_BATCH = 20_000  # neo4j_loader.py:286


def _convert(col: str, dtype: str) -> str:
    for key, tpl in _CONVERTERS:
        if key in dtype:
            return tpl.format(col=col)
    return f"row.{col}"  # degrade to string (neo4j_loader.py:27)


class Neo4JLoader(Loader):
    def __init__(
        self,
        uri: str = "bolt://localhost:7687",
        user: str = "neo4j",
        password: str = "password",
        node_finding_strategy: str = "match",  # 'match' | 'create'
        metadata_strategy: str = "as_property",  # 'as_property' | 'as_edge' | None
        spark=None,
    ):
        self.node_finding_strategy = node_finding_strategy
        self.metadata_strategy = metadata_strategy
        self.statements: list[str] = []
        self.spark = spark
        self._driver = None
        try:  # optional dependency — dry-run without it
            import neo4j  # noqa: F401

            self._driver = neo4j.GraphDatabase.driver(uri, auth=(user, password))
        except Exception:
            self._driver = None

    # -- execution ---------------------------------------------------------------

    def _run(self, stmt: str) -> int:
        self.statements.append(stmt)
        if self._driver is None:
            return 0
        with self._driver.session() as session:
            result = session.run(stmt)
            summary = result.consume()
            c = summary.counters
            return (c.nodes_created or 0) + (c.relationships_created or 0)

    # -- metadata clause (D3, neo4j_loader.py:157-175) ------------------------------

    def _metadata_clause(self, metadatas: dict[str, Any]) -> str:
        if not metadatas or not self.metadata_strategy:
            return ""
        props = ", ".join(f"`{k}`: {v!r}" for k, v in metadatas.items())
        if self.metadata_strategy == "as_property":
            return f" SET n += {{{props}}}"
        return f" MERGE (m:Metadata {{{props}}}) MERGE (n)-[:HAS_METADATA]->(m)"

    # -- Loader interface --------------------------------------------------------------

    def load_nodes(
        self,
        file_path: str,
        label: str,
        primary_key: str,
        metadatas: dict[str, Any],
        properties_type: dict[str, str],
        constraints: list[str],
        indexs: list[str],
    ) -> int:
        # constraints / indexes (neo4j_loader.py:180-192)
        for c in constraints:
            self._run(
                f"CREATE CONSTRAINT `{label}_{c}_unique` IF NOT EXISTS "
                f"FOR (n:`{label}`) REQUIRE n.`{c}` IS UNIQUE"
            )
        for i in indexs:
            self._run(
                f"CREATE RANGE INDEX `{label}_{i}_index` IF NOT EXISTS "
                f"FOR (n:`{label}`) ON (n.`{i}`)"
            )
        sets = ", ".join(
            f"n.`{col}` = {_convert(col, dt)}"
            for col, dt in properties_type.items()
            if col != primary_key
        )
        set_clause = f" SET {sets}" if sets else ""
        total = 0
        for f in staged_csv_files(self.spark, file_path):
            stmt = (
                f"CALL apoc.periodic.iterate("
                f"\"CALL apoc.load.csv('file://{os.path.abspath(f)}', "
                f"{{sep: ';'}}) YIELD map AS row "
                f"WHERE row.{primary_key} IS NOT NULL RETURN row\", "
                f"\"MERGE (n:`{label}` {{`{primary_key}`: "
                f"{_convert(primary_key, properties_type.get(primary_key, 'Utf8'))}}})"
                f"{set_clause}{self._metadata_clause(metadatas)}\", "
                f"{{batchSize: {NODE_BATCH}, parallel: false}})"
            )
            total += self._run(stmt)
        return total

    def load_edges(
        self,
        file_path: str,
        edge_type: str,
        start: str,
        end: str,
        metadatas: dict[str, Any],
        properties_type: dict[str, str],
    ) -> int:
        start_label, _, start_prop = start.partition(":")
        end_label, _, end_prop = end.partition(":")
        start_prop, end_prop = start_prop or "id", end_prop or "id"
        # endpoint match/create strategy (neo4j_loader.py:265-276)
        if self.node_finding_strategy == "create":
            find = (
                f"MERGE (s:`{start_label}` {{`{start_prop}`: {_convert('start', properties_type.get('start', 'Utf8'))}}}) "
                f"ON CREATE SET s:BlankNode "
                f"MERGE (e:`{end_label}` {{`{end_prop}`: {_convert('end', properties_type.get('end', 'Utf8'))}}}) "
                f"ON CREATE SET e:BlankNode "
            )
        else:
            find = (
                f"MATCH (s:`{start_label}` {{`{start_prop}`: {_convert('start', properties_type.get('start', 'Utf8'))}}}) "
                f"MATCH (e:`{end_label}` {{`{end_prop}`: {_convert('end', properties_type.get('end', 'Utf8'))}}}) "
            )
        props = ", ".join(
            f"`{col}`: {_convert(col, dt)}"
            for col, dt in properties_type.items()
            if col not in ("start", "end", "mapped_from")
        )
        total = 0
        for f in staged_csv_files(self.spark, file_path):
            stmt = (
                f"CALL apoc.periodic.iterate("
                f"\"CALL apoc.load.csv('file://{os.path.abspath(f)}', "
                f"{{sep: ';'}}) YIELD map AS row "
                f"WHERE row.start <> '' AND row.end <> '' RETURN row\", "
                f'"{find}CREATE (s)-[:`{edge_type}` {{{props}}}]->(e)", '
                f"{{batchSize: {EDGE_BATCH}, parallel: false}})"
            )
            total += self._run(stmt)
        return total
