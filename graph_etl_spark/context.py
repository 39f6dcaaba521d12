"""Context — the data-plane save operators (reference graph_etl/context.py).

``save_nodes`` / ``save_edges`` run the normalization chain
(callbacks → F1 array-flatten → F2 control-char strip → A1 dedup →
P4 null-drop → staged write + catalog update); ``map_ids`` registers a
remap table applied later by the mapping engine (pipeline.py).

Inside a parser the staged writes of its saves overlap: a save returns
once its plan is built, its write runs on the catalog's staging pool,
and the catalog entry is made when the parser ends, in call order. A
write error surfaces there, at the parser's end (``CatalogStore.stage``).

Spark-first deltas from the reference (SURVEY.md §1.4, §7.4):
  * staging is Parquet (canonical) or ';'-CSV (DB-handoff parity),
    chunked via the writer's ``maxRecordsPerFile`` instead of a global
    row-number window — no single-partition shuffle at scale;
  * one staged *dataset directory* per save (Spark writes part files);
    the catalog "file" entry is the directory name;
  * dedup is deterministic by default (SURVEY.md §7.4.1).
"""

from __future__ import annotations

import logging
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .catalog import CatalogStore, schema_to_ref_types
from .functions import dedup_by_key, flatten_string_arrays, strip_control_chars
from .loaders.base import read_staged

logger = logging.getLogger("graph_etl_spark")

NODE_CHUNK_ROWS = 200_000  # reference graph_etl/context.py:127
EDGE_CHUNK_ROWS = 500_000  # reference graph_etl/context.py:231


class Context:
    """Handed to user parser functions; holds the store + per-parser
    metadata (reference graph_etl/context.py:8-16)."""

    def __init__(self, store: CatalogStore | None, metadatas: dict[str, Any] | None):
        self.store = store
        self.metadatas = metadatas or {}

    # -- ingest normalization (S1/S2) -----------------------------------------

    def _to_spark(self, data: Any, sample_hint: int | None = None) -> DataFrame:
        """Accept Spark DataFrame / pandas (or any __dataframe__ object) /
        list-of-dicts, normalized to a Spark DataFrame
        (reference context.py:105-110)."""
        spark = self.store.spark
        if isinstance(data, DataFrame):
            return data
        if hasattr(data, "__dataframe__"):  # pandas & friends
            import pandas as pd

            pdf = data if isinstance(data, pd.DataFrame) else pd.api.interchange.from_dataframe(data)
            return spark.createDataFrame(pdf)
        if isinstance(data, list):
            import pandas as pd

            # Route dict rows through pandas: one inference pass, Arrow
            # transfer, and polars-like treatment of missing keys as nulls.
            return spark.createDataFrame(pd.DataFrame(data))
        raise TypeError(f"unsupported input type for save: {type(data)!r}")

    # -- node save (reference context.py:103-155) -----------------------------

    def save_nodes(
        self,
        nodes: Any,
        label: str,
        primary_key: str = "id",
        constraints: list[str] | None = None,
        indexs: list[str] | None = None,
        file_name: str | None = None,
    ) -> None:
        """Normalize ``nodes`` and stage them as one dataset of ``label``.

        Validation, callbacks and the plan run now. Inside a parser the
        write completes, and the catalog entry is made, when the parser
        ends; a write error is raised there. Outside a parser the write
        runs before this returns."""
        if not self.store:
            return  # dummy context (filtered-out parser), context.py:103
        constraints = list(constraints or [])
        indexs = list(indexs or [])
        df = self._to_spark(nodes)
        if primary_key not in df.columns:
            raise ValueError(f"primary key {primary_key!r} not in columns {df.columns}")

        for cb in self.store._callbacks:
            cb.save_nodes(label, df.schema, self.metadatas, primary_key=primary_key)

        # catalog dtypes are captured PRE-flatten (reference context.py:112):
        # List[Utf8] stays declared so loaders re-split the '|' join
        ref_types = schema_to_ref_types(df.schema)
        df = flatten_string_arrays(df)
        df = strip_control_chars(df)
        df = dedup_by_key(df, [primary_key], deterministic=self.store.deterministic)
        df = df.na.drop(subset=[primary_key])
        schema_json = df.schema.json()

        # pk is always a unique constraint (reference context.py:131-134)
        if primary_key not in constraints:
            constraints.append(primary_key)

        # Callers needing replay-idempotence (the streaming sink) pass a
        # DETERMINISTIC file_name derived from their retry key: the
        # overwrite-mode write and the dict-keyed catalog entry then make
        # a re-delivered save a true overwrite, not a second copy.
        file_name = file_name or f"FILE_{uuid.uuid4().hex}_{label}"
        store = self.store

        def register(count: int) -> None:
            prev_count = (
                store._configs["nodes"]
                .get(label, {})
                .get("files", {})
                .get(file_name, {})
                .get("count", 0)
            )
            store.register_node_file(
                label=label,
                file_name=file_name,
                primary_key=primary_key,
                properties_type=ref_types,
                constraints=constraints,
                indexs=indexs,
                metadatas=self.metadatas,
                count=count,
                schema_json=schema_json,
            )
            store._stats["nodes"] += count - prev_count
            logger.info("saved %d %s nodes -> %s", count, label, file_name)

        path = f"{store.nodes_dir}/{file_name}"
        store.stage(path, self._staged_write(df, path, NODE_CHUNK_ROWS), register)

    # -- edge save (reference context.py:200-250) ------------------------------

    def save_edges(
        self,
        edges: Any,
        edge_type: str,
        start_id: str,
        end_id: str,
        ignore_mapping: bool = False,
    ) -> None:
        """Normalize ``edges`` and stage them as one dataset of
        ``edge_type``; when the write completes is as for ``save_nodes``."""
        if not self.store:
            return
        df = self._to_spark(edges, sample_hint=10_000)
        for col in ("start", "end"):
            if col not in df.columns:
                raise ValueError(f"edge DataFrame must contain {col!r} column")
        start_label, _, _ = start_id.partition(":")
        end_label, _, _ = end_id.partition(":")

        for cb in self.store._callbacks:
            cb.save_edges(edge_type, df.schema, self.metadatas, start=start_id, end=end_id)

        ref_types = schema_to_ref_types(df.schema)  # pre-flatten (context.py:222)
        df = flatten_string_arrays(df)
        df = strip_control_chars(df)
        df = dedup_by_key(df, ["start", "end"], deterministic=self.store.deterministic)
        df = df.na.drop(subset=["start", "end"])
        schema_json = df.schema.json()

        file_name = f"FILE_{uuid.uuid4().hex}_{start_label}{edge_type}{end_label}"
        store = self.store

        def register(count: int) -> None:
            store.register_edge_file(
                edge_type=edge_type,
                file_name=file_name,
                start=start_id if ":" in start_id else f"{start_id}:id",
                end=end_id if ":" in end_id else f"{end_id}:id",
                properties_type=ref_types,
                ignore_mapping=ignore_mapping,
                metadatas=self.metadatas,
                count=count,
                schema_json=schema_json,
            )
            store._stats["edges"] += count
            logger.info("saved %d %s edges -> %s", count, edge_type, file_name)

        path = f"{store.edges_dir}/{file_name}"
        store.stage(path, self._staged_write(df, path, EDGE_CHUNK_ROWS), register)

    # -- id mapping registration (reference context.py:50-59) ------------------

    def map_ids(self, mapping: Any, target: str) -> None:
        """Register an (old_value, new_value) remap for ``"Label:prop"``.

        Applied lazily by the mapping engine; the DataFrame is kept as an
        unevaluated plan (null-dropped on both columns, P4 parity
        reference context.py:56-58).
        """
        if not self.store:
            return
        df = self._to_spark(mapping, sample_hint=10_000)
        for col in ("old_value", "new_value"):
            if col not in df.columns:
                raise ValueError(f"mapping must contain {col!r} column")
        df = df.na.drop(subset=["old_value", "new_value"])
        self.store._ids_to_map[target] = df

    # -- staged write ----------------------------------------------------------

    def _staged_write(self, df: DataFrame, path: str, chunk_rows: int) -> Callable[[], int]:
        """Plan one staged write; return its action, which writes the
        dataset and returns its row count.

        Chunking by ``maxRecordsPerFile`` (no global row_number shuffle —
        SURVEY.md §2.5 W1 note). The catalog row count rides the write
        itself via ``df.observe`` — ONE Spark action per save, no
        persist/count double-pass and no cache memory pressure at scale.
        """
        self.store.ensure_dirs()
        observation = Observation(f"staged_rows_{path.rsplit('/', 1)[-1]}")
        df = df.observe(observation, F.count(F.lit(1)).alias("rows"))
        writer = df.write.mode("overwrite").option("maxRecordsPerFile", chunk_rows)
        if self.store.staging_format == "csv":
            writer = writer.format("csv").option("sep", ";").option("header", True)
        else:
            writer = writer.format("parquet")

        def write() -> int:
            writer.save(path)
            return observation.get["rows"]

        return write

    # -- staged read -----------------------------------------------------------

    def read_staged(self, kind: str, file_name: str) -> DataFrame:
        """Re-read a staged dataset with its exact recorded schema — no
        inference drift (SURVEY.md §7.4.3) and no inference job. Pending
        staged writes complete first."""
        self.store.barrier()
        base = self.store.nodes_dir if kind == "nodes" else self.store.edges_dir
        return read_staged(self.store.spark, f"{base}/{file_name}")
