"""Catalog, type bridge, and run ledgers.

Parity target: the reference's ``StoreInfo`` singleton + ``configs.json``
shape (reference ``graph_etl/utils.py:44-119``) and its stringly-typed
dtype vocabulary (``graph_etl/neo4j_loader.py:14-33``). We persist the
same nested-dict catalog, but dtypes are derived from Spark
``StructType`` and bridged to the reference's polars-style strings so
the DB loaders' substring matching keeps working.

Everything here is driver-side plain Python — no Spark jobs. The one
exception is the staged-write pool: a parser's saves hand their write
to ``CatalogStore.stage``, which overlaps them on a shared thread pool
and registers them, in call order, at the next barrier.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark import inheritable_thread_target
from pyspark.sql import types as T

logger = logging.getLogger("graph_etl_spark")

# ---------------------------------------------------------------------------
# Type bridge: Spark DataType <-> reference dtype strings
# (reference vocabulary: Utf8, Int*, Float*, Boolean, Date, Datetime,
#  List[Utf8] — graph_etl/neo4j_loader.py:14-33)
# ---------------------------------------------------------------------------

_SPARK_TO_REF: list[tuple[type, str]] = [
    (T.StringType, "Utf8"),
    (T.BooleanType, "Boolean"),
    (T.ByteType, "Int8"),
    (T.ShortType, "Int16"),
    (T.IntegerType, "Int32"),
    (T.LongType, "Int64"),
    (T.FloatType, "Float32"),
    (T.DoubleType, "Float64"),
    (T.DateType, "Date"),
    (T.TimestampType, "Datetime"),
]


def spark_dtype_to_ref(dt: T.DataType) -> str:
    """Spark DataType -> reference dtype string (degrade-to-Utf8 like
    neo4j_loader.py:27 does for unknown types)."""
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StringType):
        return "List[Utf8]"
    if isinstance(dt, T.ArrayType):
        # reference only understands List[Utf8]; other lists degrade
        return "List[Utf8]"
    if isinstance(dt, T.DecimalType):
        return "Float64"
    for cls, name in _SPARK_TO_REF:
        if isinstance(dt, cls):
            return name
    return "Utf8"


def ref_dtype_to_spark(name: str) -> T.DataType:
    """Reference dtype string -> Spark DataType (substring semantics,
    mirroring the loaders' matching order)."""
    if "List" in name:
        return T.ArrayType(T.StringType())
    if "Utf8" in name or "String" in name:
        return T.StringType()
    if "Int" in name:
        return T.LongType()
    if "Float" in name:
        return T.DoubleType()
    if "Boolean" in name or "Bool" in name:
        return T.BooleanType()
    if "Datetime" in name:
        return T.TimestampType()
    if "Date" in name:
        return T.DateType()
    return T.StringType()


def schema_to_ref_types(schema: T.StructType) -> dict[str, str]:
    return {f.name: spark_dtype_to_ref(f.dataType) for f in schema.fields}


# ---------------------------------------------------------------------------
# Staged-write pool. One per process, so re-running init()/parse() never
# adds threads. Each staged write is one Spark job that may use every
# core on its own; a few writers in flight are enough to hide the
# per-job driver latency that dominates small saves.
# ---------------------------------------------------------------------------

STAGING_WRITERS = 4
_POOL: ThreadPoolExecutor | None = None
_POOL_LOCK = threading.Lock()


def _staging_pool() -> ThreadPoolExecutor:
    global _POOL
    with _POOL_LOCK:
        if _POOL is None:
            _POOL = ThreadPoolExecutor(STAGING_WRITERS, thread_name_prefix="getl-staging")
        return _POOL


# ---------------------------------------------------------------------------
# Catalog store (same nested-dict shape as reference configs.json:
#   {nodes: {label: {primary_key, constraints, indexs, properties_type,
#                    files: {file: {metadatas, count}}}},
#    edges: {type: {file: {start, end, properties_type, ignore_mapping,
#                          metadatas, count}}}}
# ---------------------------------------------------------------------------


class CatalogStore:
    """Driver-side catalog + ledgers (reference StoreInfo,
    graph_etl/utils.py:44-119). One instance per pipeline run; a module
    singleton mirrors the reference's ``INFOS_SINGLETON``.
    """

    def __init__(self, output_folder: str = "./output"):
        self.output_folder = output_folder
        self.configs_path = os.path.join(output_folder, "configs", "configs.json")
        self.nodes_dir = os.path.join(output_folder, "nodes")
        self.edges_dir = os.path.join(output_folder, "edges")
        self._configs: dict[str, Any] = {"nodes": {}, "edges": {}}
        # StructType JSON per label/edge-file, alongside the reference's
        # string dtypes (exact re-read schema, no inference drift).
        self._spark_schemas: dict[str, str] = {}
        self._ids_to_map: dict[str, Any] = {}  # "Label:prop" -> mapping DataFrame
        self._all_parsing_functions: dict[str, Any] = {}
        self._filters: list[Any] = []
        self._callbacks: list[Any] = []
        self._stats: dict[str, Any] = {"nodes": 0, "edges": 0, "start_time": time.time()}
        self.spark = None  # set by init()
        self.staging_format = "parquet"  # "parquet" (canonical) | "csv" (DB handoff)
        self.deterministic = True  # deterministic dedup survivor (SURVEY.md §7.4.1)
        # staged writes in flight: (future, dataset path, register(count))
        self._pending: list[tuple[Future, str, Callable[[int], None]]] = []
        self._write_scopes = 0  # open overlapped_writes() scopes

    # -- filesystem layout ---------------------------------------------------

    def ensure_dirs(self) -> None:
        os.makedirs(os.path.dirname(self.configs_path), exist_ok=True)
        os.makedirs(self.nodes_dir, exist_ok=True)
        os.makedirs(self.edges_dir, exist_ok=True)

    def clear(self) -> None:
        """Remove the whole output folder (reference ``clear()``)."""
        self.barrier()
        if os.path.isdir(self.output_folder):
            shutil.rmtree(self.output_folder)

    # -- catalog persistence ---------------------------------------------------

    def load_configs(self) -> None:
        if os.path.isfile(self.configs_path):
            with open(self.configs_path) as f:
                data = json.load(f)
            self._configs = {"nodes": data.get("nodes", {}), "edges": data.get("edges", {})}
            self._spark_schemas = data.get("_spark_schemas", {})

    def flush_configs(self) -> None:
        self.barrier()
        self.ensure_dirs()
        payload = dict(self._configs)
        payload["_spark_schemas"] = self._spark_schemas
        with open(self.configs_path, "w") as f:
            json.dump(payload, f, indent=4, default=str)

    # -- overlapped staged writes ------------------------------------------------

    @contextmanager
    def overlapped_writes(self) -> Iterator[None]:
        """Scope (one parser run) whose staged writes overlap. Its exit is
        a barrier: every write completes and is registered there, and the
        first write failure is raised there, also when the body raised."""
        self._write_scopes += 1
        try:
            yield
        finally:
            self._write_scopes -= 1
            self.barrier()

    def stage(self, path: str, write: Callable[[], int], register: Callable[[int], None]) -> None:
        """Run ``write`` — the one Spark action of a save, writing the
        dataset at ``path`` and returning its row count — and pass the
        count to ``register``. Inside ``overlapped_writes`` the write goes
        to the shared pool, carrying the caller's job group and other
        Spark local properties, and ``register`` waits for the next
        barrier; outside it both run now."""
        if not self._write_scopes:
            register(write())
            return
        if any(p == path for _, p, _ in self._pending):
            self.barrier()  # a rewrite of one dataset must follow its first write
        future = _staging_pool().submit(inheritable_thread_target(self.spark)(write))
        self._pending.append((future, path, register))

    def barrier(self) -> None:
        """Wait for every pending staged write, then register them in
        call order on this thread. If one failed, raise the first
        failure and leave what a sequential run would have left: the
        saves before it stay registered, and it and every later save
        are removed from disk and not registered."""
        pending, self._pending = self._pending, []
        wait([future for future, _, _ in pending])
        for i, (future, _, register) in enumerate(pending):
            error = future.exception()
            if error is not None:
                for _, path, _ in pending[i:]:
                    shutil.rmtree(path, ignore_errors=True)
                raise error
            register(future.result())

    def staged_schema(self, path: str) -> T.StructType | None:
        """The schema recorded for the staged dataset at ``path``, or
        None when this catalog staged no dataset there."""
        parent, name = os.path.split(os.path.abspath(path))
        kind = {
            os.path.abspath(self.nodes_dir): "nodes",
            os.path.abspath(self.edges_dir): "edges",
        }.get(parent)
        schema_json = self._spark_schemas.get(f"{kind}/{name}") if kind else None
        return T.StructType.fromJson(json.loads(schema_json)) if schema_json else None

    # -- node/edge registration ------------------------------------------------

    def register_node_file(
        self,
        label: str,
        file_name: str,
        primary_key: str,
        properties_type: dict[str, str],
        constraints: list[str],
        indexs: list[str],
        metadatas: dict[str, Any],
        count: int,
        schema_json: str,
    ) -> None:
        node = self._configs["nodes"].setdefault(
            label,
            {
                "primary_key": primary_key,
                "constraints": [],
                "indexs": [],
                "properties_type": {},
                "files": {},
            },
        )
        node["primary_key"] = primary_key
        for c in constraints:
            if c not in node["constraints"]:
                node["constraints"].append(c)
        for i in indexs:
            if i not in node["indexs"]:
                node["indexs"].append(i)
        node["properties_type"].update(properties_type)
        node["files"][file_name] = {"metadatas": metadatas, "count": count}
        self._spark_schemas[f"nodes/{file_name}"] = schema_json

    def register_edge_file(
        self,
        edge_type: str,
        file_name: str,
        start: str,
        end: str,
        properties_type: dict[str, str],
        ignore_mapping: bool,
        metadatas: dict[str, Any],
        count: int,
        schema_json: str,
    ) -> None:
        edge = self._configs["edges"].setdefault(edge_type, {})
        edge[file_name] = {
            "start": start,
            "end": end,
            "properties_type": properties_type,
            "ignore_mapping": ignore_mapping,
            "metadatas": metadatas,
            "count": count,
        }
        self._spark_schemas[f"edges/{file_name}"] = schema_json

    # -- ledgers (idempotent re-runs; reference utils.py:21-42) ----------------

    def _ledger_path(self, name: str) -> str:
        return os.path.join(self.output_folder, name)

    def ledger_contains(self, name: str, entry: str) -> bool:
        path = self._ledger_path(name)
        if not os.path.isfile(path):
            return False
        with open(path) as f:
            return entry in {line.strip() for line in f}

    def ledger_append(self, name: str, entry: str) -> None:
        self.ensure_dirs()
        with open(self._ledger_path(name), "a") as f:
            f.write(entry + "\n")

    def ledger_delete_all(self) -> None:
        names = ["log_parser.txt", "log_loader.txt", "log_mapper.txt"]
        # log_stream.txt guards a LIVE streaming query's micro-batch
        # replay, unlike the batch ledgers which guard completed
        # pipeline steps — clearing it while a query is active would
        # let a re-delivered micro-batch re-stage. Only clear it when
        # no streaming query is running on this session.
        if self.spark is None or not self.spark.streams.active:
            names.append("log_stream.txt")
        for name in names:
            path = self._ledger_path(name)
            if os.path.isfile(path):
                os.remove(path)


# Module-level singleton, mirroring the reference's INFOS_SINGLETON
# (graph_etl/utils.py:121-127). Rebindable via init() for test isolation.
_STORE: CatalogStore | None = None


def get_store() -> CatalogStore:
    global _STORE
    if _STORE is None:
        _STORE = CatalogStore()
    return _STORE


def set_store(store: CatalogStore | None) -> None:
    global _STORE
    _STORE = store
