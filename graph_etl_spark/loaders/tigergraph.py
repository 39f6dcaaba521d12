"""TigerGraphLoader — GSQL schema-change + loading-job generator
(reference graph_etl/tigergraph_loader.py).

Generates the reference's statement shapes: a SCHEMA_CHANGE JOB adding
VERTEX/EDGE types derived from the catalog dtypes
(tigergraph_loader.py:86-165), then a LOADING JOB per staged file
(tigergraph_loader.py:167-267). ``pyTigerGraph`` is optional
(import-try); without it statements are collected in
``self.statements`` (dry-run), mirroring the reference's
server-optional testing posture.

Reference constraints preserved: edges are UNDIRECTED; non-'id'
endpoint declarations are rejected (tigergraph_loader.py:215-216).
"""

from __future__ import annotations

import os
from typing import Any

from .base import Loader, staged_csv_files

# dtype-string substring → GSQL type (tigergraph_loader.py:14-31)
_GSQL_TYPES: list[tuple[str, str]] = [
    ("List", "LIST<STRING>"),
    ("Utf8", "STRING"),
    ("Int", "INT"),
    ("Float", "FLOAT"),
    ("Boolean", "BOOL"),
    ("Datetime", "DATETIME"),
    ("Date", "DATETIME"),
]


def _gsql_type(dtype: str) -> str:
    for key, t in _GSQL_TYPES:
        if key in dtype:
            return t
    return "STRING"


class TigerGraphLoader(Loader):
    def __init__(
        self,
        host: str = "http://127.0.0.1",
        graph_name: str = "MyGraph",
        username: str = "tigergraph",
        password: str = "tigergraph",
        spark=None,
    ):
        self.graph_name = graph_name
        self.statements: list[str] = []
        self.spark = spark
        self._conn = None
        try:  # optional dependency — dry-run without it
            import pyTigerGraph

            self._conn = pyTigerGraph.TigerGraphConnection(
                host=host, graphname=graph_name, username=username, password=password
            )
        except Exception:
            self._conn = None

    def _run(self, stmt: str) -> int:
        self.statements.append(stmt)
        if self._conn is None:
            return 0
        self._conn.gsql(stmt)
        return 0

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
        attrs = ", ".join(
            f"{col} {_gsql_type(dt)}"
            for col, dt in properties_type.items()
            if col != primary_key
        )
        schema_job = (
            f"CREATE SCHEMA_CHANGE JOB add_vertex_{label} FOR GRAPH {self.graph_name} {{ "
            f"ADD VERTEX {label} (PRIMARY_ID {primary_key} "
            f"{_gsql_type(properties_type.get(primary_key, 'Utf8'))}"
            f"{', ' + attrs if attrs else ''}) "
            f'WITH primary_id_as_attribute="true"; }}\n'
            f"RUN SCHEMA_CHANGE JOB add_vertex_{label}"
        )
        self._run(schema_job)

        cols = ", ".join(f"${c}" for c in properties_type)
        total = 0
        for f in staged_csv_files(self.spark, file_path):
            job = (
                f"CREATE LOADING JOB load_{label} FOR GRAPH {self.graph_name} {{ "
                f'DEFINE FILENAME f = "{os.path.abspath(f)}"; '
                f"LOAD f TO VERTEX {label} VALUES ({cols}) "
                f'USING SEPARATOR=";", HEADER="true", EOL="\\n"; }}\n'
                f"RUN LOADING JOB load_{label}"
            )
            total += self._run(job)
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
        # reference rejects natural-key endpoints (tigergraph_loader.py:215-216)
        if (start_prop or "id") != "id" or (end_prop or "id") != "id":
            raise ValueError(
                "TigerGraphLoader requires ':id' endpoints — run the mapping "
                "engine first (reference tigergraph_loader.py:215-216)"
            )
        attrs = ", ".join(
            f"{col} {_gsql_type(dt)}"
            for col, dt in properties_type.items()
            if col not in ("start", "end", "mapped_from")
        )
        schema_job = (
            f"CREATE SCHEMA_CHANGE JOB add_edge_{edge_type} FOR GRAPH {self.graph_name} {{ "
            f"ADD UNDIRECTED EDGE {edge_type} (FROM {start_label}, TO {end_label}"
            f"{', ' + attrs if attrs else ''}); }}\n"
            f"RUN SCHEMA_CHANGE JOB add_edge_{edge_type}"
        )
        self._run(schema_job)

        prop_cols = [c for c in properties_type if c not in ("mapped_from",)]
        cols = ", ".join(f"${c}" for c in prop_cols)
        total = 0
        for f in staged_csv_files(self.spark, file_path):
            job = (
                f"CREATE LOADING JOB load_{edge_type} FOR GRAPH {self.graph_name} {{ "
                f'DEFINE FILENAME f = "{os.path.abspath(f)}"; '
                f"LOAD f TO EDGE {edge_type} VALUES ({cols}) "
                f'USING SEPARATOR=";", HEADER="true", EOL="\\n"; }}\n'
                f"RUN LOADING JOB load_{edge_type}"
            )
            total += self._run(job)
        return total
