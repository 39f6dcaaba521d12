"""SparkNativeGraphLoader — materialize the property graph as Parquet
node/edge tables (the in-engine sink; SURVEY.md §7.2 step 5).

Implements the reference's DB-side endpoint strategies relationally:
  * ``node_finding_strategy='match'`` (J3, neo4j_loader.py:272-276):
    edge kept only if both endpoints exist → two left-semi joins.
  * ``node_finding_strategy='create'`` (J4, neo4j_loader.py:265-271):
    missing endpoints synthesized as blank nodes → left-anti join +
    unionByName into the node table.
  * metadata strategies (D3, neo4j_loader.py:157-175):
    ``as_property`` → literal columns; ``as_edge`` → Metadata dim table
    + HAS_METADATA edge table.

Scale notes: node tables are written partitioned-by-label directory
layout; the semi/anti joins broadcast the smaller side under AQE. The
P6 non-empty-endpoint predicate is applied before the join so nulls
from J1's full-outer remap don't reach the sink tables.

Staged inputs are read with their catalog schema, and the loader's own
node tables with the schema it wrote them with, so no load re-infers a
schema from parquet footers (one Spark job per inference).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import non_empty_endpoints
from .base import Loader, read_staged


class SparkNativeGraphLoader(Loader):
    def __init__(
        self,
        spark: SparkSession,
        graph_dir: str = "./output/graph",
        node_finding_strategy: str = "match",  # 'match' (J3) | 'create' (J4)
        metadata_strategy: str = "as_property",  # 'as_property' | 'as_edge' | None
    ):
        self.spark = spark
        self.graph_dir = graph_dir
        self.node_finding_strategy = node_finding_strategy
        self.metadata_strategy = metadata_strategy
        self._node_keys: dict[str, str] = {}  # label -> primary_key
        self._metadata_rows: list[dict[str, Any]] = []
        self._table_schemas: dict[str, StructType] = {}  # node table path -> schema

    # -- helpers -----------------------------------------------------------------

    def _read_table(self, path: str) -> DataFrame:
        """A node table of this sink, read with the schema this loader
        wrote it with; a table that existed before is inferred once."""
        schema = self._table_schemas.get(path)
        if schema is None:
            df = self.spark.read.parquet(path)
            self._table_schemas[path] = df.schema
            return df
        return self.spark.read.schema(schema).parquet(path)

    def _wrote_table(self, path: str, schema: StructType, existed: bool) -> None:
        """Record the schema of rows just appended to the node table at
        ``path``. An append whose columns differ from the recorded ones
        drops the record, so the next read infers the mixed table."""
        known = self._table_schemas.get(path)
        if not existed:
            self._table_schemas[path] = schema
        elif known is not None and known.simpleString() != schema.simpleString():
            del self._table_schemas[path]

    def _node_table_path(self, label: str) -> str:
        return f"{self.graph_dir}/nodes/{label}"

    def _edge_table_path(self, edge_type: str) -> str:
        return f"{self.graph_dir}/edges/{edge_type}"

    def _append(self, df: DataFrame, path: str) -> None:
        df.write.mode("append").parquet(path)

    def _append_counted(self, df: DataFrame, path: str) -> int:
        """Append + row count in ONE action: the count rides the write
        via ``df.observe`` (guide §1 — the old count-then-write pair
        executed the whole semi/anti-join pipeline twice per file).
        Behavior parity with the old ``if count: append`` gate: a
        zero-row append leaves the table as it was. A path this call
        CREATED is removed again (``os.path.isdir`` gates MATCH/upsert
        semantics); in an existing table the files it added are."""
        before = set(os.listdir(path)) if os.path.isdir(path) else None
        obs = Observation(f"loader_rows_{uuid.uuid4().hex}")
        self._append(df.observe(obs, F.count(F.lit(1)).alias("rows")), path)
        count = int(obs.get["rows"])
        if count == 0:
            if before is None:
                shutil.rmtree(path, ignore_errors=True)
            else:
                for name in set(os.listdir(path)) - before:
                    os.remove(os.path.join(path, name))
        return count

    # -- Loader interface -----------------------------------------------------------

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
        df = read_staged(self.spark, file_path)
        if self.metadata_strategy == "as_property":
            for k, v in (metadatas or {}).items():
                df = df.withColumn(f"meta_{k}", F.lit(v))
        elif self.metadata_strategy == "as_edge" and metadatas:
            meta_id = f"{label}:{file_path.rsplit('/', 1)[-1]}"
            self._metadata_rows.append({"meta_id": meta_id, **{k: str(v) for k, v in metadatas.items()}})
            df = df.withColumn("__meta_ref", F.lit(meta_id))

        path = self._node_table_path(label)
        # D1 upsert semantics: MERGE on pk ≙ anti-join existing table then append
        existed = os.path.isdir(path)
        if existed:
            existing = self._read_table(path).select(primary_key)
            df = df.join(existing, on=primary_key, how="left_anti")
        count = self._append_counted(df, path)
        if count:
            self._wrote_table(path, df.schema, existed)
        self._node_keys[label] = primary_key
        return count

    def load_edges(
        self,
        file_path: str,
        edge_type: str,
        start: str,
        end: str,
        metadatas: dict[str, Any],
        properties_type: dict[str, str],
    ) -> int:
        df = read_staged(self.spark, file_path)
        df = non_empty_endpoints(df)  # P6
        start_label, _, start_prop = start.partition(":")
        end_label, _, end_prop = end.partition(":")

        for side, label, prop in (("start", start_label, start_prop or "id"),
                                  ("end", end_label, end_prop or "id")):
            npath = self._node_table_path(label)
            nodes_exist = os.path.isdir(npath)
            if self.node_finding_strategy == "match":
                if not nodes_exist:
                    return 0  # no endpoint nodes loaded → no edges (MATCH semantics)
                nodes = self._read_table(npath).select(F.col(prop).alias(side))
                df = df.join(nodes, on=side, how="left_semi")  # J3
            else:  # 'create' (J4): synthesize blank endpoint nodes
                if nodes_exist:
                    nodes = self._read_table(npath).select(F.col(prop).alias(side))
                    missing = df.join(nodes, on=side, how="left_anti")
                else:
                    missing = df
                blanks = (
                    missing.select(F.col(side).alias(prop))
                    .distinct()
                    .withColumn("__blank_node", F.lit(True))
                )
                if blanks.limit(1).count():
                    if nodes_exist:
                        existing_df = self._read_table(npath)
                        merged = existing_df.unionByName(blanks, allowMissingColumns=True)
                        tmp = npath + "__tmp"
                        merged.write.mode("overwrite").parquet(tmp)
                        shutil.rmtree(npath)
                        os.rename(tmp, npath)
                    else:
                        blanks.write.mode("overwrite").parquet(npath)
                    self._table_schemas.pop(npath, None)  # rewritten table

        df = df.withColumn("__edge_type", F.lit(edge_type))
        if self.metadata_strategy == "as_property":
            for k, v in (metadatas or {}).items():
                df = df.withColumn(f"meta_{k}", F.lit(v))
        return self._append_counted(
            df.drop("__edge_type"), self._edge_table_path(edge_type)
        )

    # -- finalize metadata dim (as_edge strategy) ------------------------------------

    def finalize(self) -> None:
        if self.metadata_strategy == "as_edge" and self._metadata_rows:
            import pandas as pd

            meta_df = self.spark.createDataFrame(pd.DataFrame(self._metadata_rows))
            meta_df.write.mode("overwrite").parquet(f"{self.graph_dir}/nodes/Metadata")

    # -- read-back API ------------------------------------------------------------------

    def nodes(self, label: str) -> DataFrame:
        return self.spark.read.parquet(self._node_table_path(label))

    def edges(self, edge_type: str) -> DataFrame:
        return self.spark.read.parquet(self._edge_table_path(edge_type))
