"""Pipeline phases: init / parse / map / load
(reference graph_etl/pipeline.py + utils.py entry points).

The mapping engine (`_map_property`) is the semantic heart: it rewrites
edge endpoints via join-based ID mapping (J1 explicit remap, J2
natural-key auto-map — reference pipeline.py:48-114). Spark delta: the
reference rewrites edge CSVs in place; Spark cannot overwrite an input
it reads, so we write-new-then-swap and update the catalog
(SURVEY.md §7.4.5).
"""

from __future__ import annotations

import logging
import shutil
import uuid
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .catalog import CatalogStore, get_store, schema_to_ref_types, set_store
from .context import EDGE_CHUNK_ROWS, Context
from .functions import dedup_by_key

logger = logging.getLogger("graph_etl_spark")

LOADER_LEDGER = "log_loader.txt"


# ---------------------------------------------------------------------------
# init / clear (reference utils.py:129-133, pipeline.py:20-29)
# ---------------------------------------------------------------------------


def init(
    spark: SparkSession,
    filters: list | None = None,
    callbacks: list | None = None,
    output_folder: str = "./output",
    staging_format: str = "parquet",
    deterministic: bool = True,
) -> CatalogStore:
    """Configure the pipeline singleton: session, filters, callbacks,
    output layout. Returns the store (also reachable via get_store())."""
    store = CatalogStore(output_folder=output_folder)
    store.spark = spark
    store._filters = list(filters or [])
    store._callbacks = list(callbacks or [])
    store.staging_format = staging_format
    store.deterministic = deterministic
    store.ensure_dirs()
    store.load_configs()
    set_store(store)
    return store


def clear() -> None:
    """Delete all staged output + catalog + ledgers (reference clear())."""
    store = get_store()
    store.clear()
    store._configs = {"nodes": {}, "edges": {}}
    store._spark_schemas = {}
    store._ids_to_map = {}


# ---------------------------------------------------------------------------
# parse (reference utils.py:135-153 → pipeline.py:32-46)
# ---------------------------------------------------------------------------


def parse(use_mapper: bool = True) -> None:
    """Run every registered parser (skips handled inside the wrapper),
    then the mapping engine."""
    store = get_store()
    for fn_id, (wrapper, metadatas) in list(store._all_parsing_functions.items()):
        skipped = any(f.skip_parse(metadatas) for f in store._filters)
        if skipped:
            logger.info("parse: filter skipped %s", fn_id)
            continue
        wrapper()
    if use_mapper:
        _map_property(store)
    store.flush_configs()


# ---------------------------------------------------------------------------
# mapping engine (reference pipeline.py:48-114)
# ---------------------------------------------------------------------------


def _swap_staged_edge(
    store: CatalogStore, ctx: Context, edge_type: str, old_file: str, df
) -> str:
    """Write the remapped edge frame to a new staged dataset, swap the
    catalog entry, and delete the old dataset (in-place-rewrite parity,
    SURVEY.md §7.4.5). Returns the new file name."""
    new_file = f"{old_file}__m{uuid.uuid4().hex[:8]}"
    path = f"{store.edges_dir}/{new_file}"
    writer = df.write.mode("overwrite").option("maxRecordsPerFile", EDGE_CHUNK_ROWS)
    if store.staging_format == "csv":
        writer.option("sep", ";").option("header", True).csv(path)
    else:
        writer.parquet(path)

    entry = store._configs["edges"][edge_type].pop(old_file)
    store._configs["edges"][edge_type][new_file] = entry
    store._spark_schemas.pop(f"edges/{old_file}", None)
    store._spark_schemas[f"edges/{new_file}"] = df.schema.json()
    shutil.rmtree(f"{store.edges_dir}/{old_file}", ignore_errors=True)
    return new_file


def _build_automap(store, ctx: Context, label: str, prop: str):
    """J2 mapping: union every staged node dataset of ``label``, project
    (primary_key, prop), null-drop (reference pipeline.py:85-96).

    Scale note: this is a partitioned parquet read + projection — the
    column pruning reaches the scan; the result is small (2 columns)
    and AQE broadcast-joins it against the edges.
    """
    node_cfg = store._configs["nodes"].get(label)
    if not node_cfg or prop not in node_cfg.get("properties_type", {}):
        return None, None
    pk = node_cfg.get("primary_key", "id")
    dfs = [
        ctx.read_staged("nodes", f).select(F.col(pk).alias("new_value"), F.col(prop).alias("old_value"))
        for f in node_cfg["files"]
    ]
    if not dfs:
        return None, None
    from functools import reduce

    mapping = reduce(lambda a, b: a.unionByName(b), dfs).na.drop()
    return mapping, pk


def _map_property(store) -> None:
    """Rewrite edge endpoints: J1 explicit remaps from ``map_ids``
    registrations, then J2 natural-key auto-maps."""
    from .functions import coalesce_remap

    store.barrier()
    ctx = Context(store, {})
    for edge_type, files in list(store._configs["edges"].items()):
        for file_name, info in list(files.items()):
            if info.get("ignore_mapping"):
                continue
            df = None
            current_file = file_name
            changed = False

            for endpoint_col, decl_key in (("start", "start"), ("end", "end")):
                decl = info[decl_key]  # "Label:prop"
                label, _, prop = decl.partition(":")
                prop = prop or "id"

                # J1: explicit registered mapping for this declaration
                if decl in store._ids_to_map:
                    if df is None:
                        df = ctx.read_staged("edges", current_file)
                    # audit column per endpoint once one exists — both
                    # endpoints of one file can carry J1 maps (the
                    # reference's fixed polars rename collides there)
                    mf_col = (
                        "mapped_from"
                        if "mapped_from" not in df.columns
                        else f"mapped_from_{endpoint_col}"
                    )
                    df = coalesce_remap(
                        df,
                        store._ids_to_map[decl],
                        endpoint_col,
                        keep_mapped_from=True,
                        mapped_from_col=mf_col,
                    )
                    changed = True

                # J2: natural-key endpoint → resolve to the label's
                # primary key. NOT an elif — the reference applies its
                # J1 and J2 blocks sequentially (pipeline.py:52-114), so
                # a J1-remapped endpoint whose declared prop is still a
                # natural key gets resolved to the pk and the catalog
                # decl rewritten; otherwise DB loaders would MATCH on
                # the wrong property. The reference compares prop to the
                # literal "id" (pipeline.py:93) and would crash on a
                # label whose pk isn't named id (its own example does
                # this); we implement the intent: skip when the
                # declared prop already IS that label's primary key.
                if prop != store._configs["nodes"].get(label, {}).get("primary_key", "id"):
                    mapping, pk = _build_automap(store, ctx, label, prop)
                    if mapping is None:
                        continue
                    if df is None:
                        df = ctx.read_staged("edges", current_file)
                    # auto-map drops the old value (no mapped_from) —
                    # reference pipeline.py:106
                    df = coalesce_remap(df, mapping, endpoint_col, keep_mapped_from=False)
                    info[decl_key] = f"{label}:{pk}"  # catalog decl update (pipeline.py:111)
                    changed = True

            if changed:
                df = dedup_by_key(df, ["start", "end"], deterministic=store.deterministic)
                info["properties_type"] = schema_to_ref_types(df.schema)
                current_file = _swap_staged_edge(store, ctx, edge_type, current_file, df)
                logger.info("remapped %s/%s", edge_type, current_file)

    # consumed mappings stay registered (reference keeps them for later files)
    store.flush_configs()


# ---------------------------------------------------------------------------
# load (reference utils.py:156-175 → pipeline.py:125-199)
# ---------------------------------------------------------------------------


def load(loader, clear_source: bool = False) -> dict[str, int]:
    """Materialize staged graph into a sink. Nodes first, then edges
    (ordering is load-bearing for the 'match' endpoint strategy)."""
    store = get_store()
    store.barrier()
    totals = {"nodes": 0, "edges": 0}

    for label, cfg in store._configs["nodes"].items():
        for file_name, finfo in cfg["files"].items():
            if any(f.skip_load_node(label, finfo["metadatas"]) for f in store._filters):
                continue
            if store.ledger_contains(LOADER_LEDGER, file_name):
                continue
            n = loader.load_nodes(
                file_path=f"{store.nodes_dir}/{file_name}",
                label=label,
                primary_key=cfg["primary_key"],
                metadatas=finfo["metadatas"],
                properties_type=cfg["properties_type"],
                constraints=cfg["constraints"],
                indexs=cfg["indexs"],
            )
            totals["nodes"] += n or 0
            store.ledger_append(LOADER_LEDGER, file_name)

    for edge_type, files in store._configs["edges"].items():
        for file_name, info in files.items():
            if any(f.skip_load_edge(edge_type, info["metadatas"]) for f in store._filters):
                continue
            if store.ledger_contains(LOADER_LEDGER, file_name):
                continue
            n = loader.load_edges(
                file_path=f"{store.edges_dir}/{file_name}",
                edge_type=edge_type,
                start=info["start"],
                end=info["end"],
                metadatas=info["metadatas"],
                properties_type=info["properties_type"],
            )
            totals["edges"] += n or 0
            store.ledger_append(LOADER_LEDGER, file_name)

    # completed run: drop ledgers (reference pipeline.py:193-199)
    store.ledger_delete_all()
    if clear_source:
        clear()
    return totals


def cascade_delete(
    seed_keys,
    levels: list[tuple[str, Any, str, str | None]],
):
    """GDPR-style erasure propagation: delete the seed keys from the
    first table, follow each level's primary key into the next
    table's foreign key, and return the purged survivor frame per
    table — right-to-be-forgotten over a staged star/snowflake chain
    (customer -> orders -> lineitem), the deletion complement of the
    SCD-1/SCD-2 refresh primitives in ``functions``.

    ``levels`` is the chain root-first: (name, df, fk_col, pk_col)
    where ``fk_col`` matches the PREVIOUS level's emitted keys (the
    seed frame's single column for the root) and ``pk_col`` is the
    column whose deleted values seed the NEXT level (None on the
    leaf). Returns ``{name: purged DataFrame}`` preserving each
    table's full schema.

    Scale: per level, one broadcast semi-join (the doomed rows, to
    emit the next level's keys) and one broadcast anti-join (the
    survivors) against a DISTINCT key frame — deletion sets are
    dim-sized while the chained fact tables are the 100-TB side, so
    the fact tables never shuffle; key frames stay un-collected
    (no driver round-trip, the chain is one lazy plan)."""
    [seed_col] = seed_keys.columns
    keys = seed_keys.select(F.col(seed_col).alias("__k")).distinct()
    purged: dict[str, Any] = {}
    for name, df, fk_col, pk_col in levels:
        doomed_keys = F.broadcast(keys.withColumnRenamed("__k", fk_col))
        purged[name] = df.join(doomed_keys, fk_col, "left_anti")
        if pk_col is not None:
            keys = (
                df.join(doomed_keys, fk_col, "left_semi")
                .select(F.col(pk_col).alias("__k"))
                .distinct()
            )
    return purged
