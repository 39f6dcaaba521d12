"""Loader ABC — sink plug-in interface (reference graph_etl/loader.py:5-37).

Same signatures as the reference so user loaders port unchanged;
``file_path`` is a staged dataset directory (parquet or ';'-CSV parts)
instead of a single CSV file. ``read_staged`` and ``staged_csv_files``
are the loaders' shared ways to read one.
"""

from __future__ import annotations

import glob
import os
from abc import ABC, abstractmethod
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..catalog import get_store


def read_staged(spark: SparkSession, file_path: str) -> DataFrame:
    """Read the staged dataset at ``file_path`` with the schema the
    catalog recorded for it, so no Spark job re-infers it from the files
    (a file source forces a given schema nullable, so the result equals
    the inferred one). Inference stays for a dataset with no recorded
    schema."""
    schema = get_store().staged_schema(file_path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    if any(f.endswith(".csv") for f in os.listdir(file_path)):
        reader = reader.option("sep", ";").option("header", True)
        if schema is None:
            reader = reader.option("inferSchema", True)
        return reader.csv(file_path)
    return reader.parquet(file_path)


def staged_csv_files(spark: SparkSession | None, file_path: str) -> list[str]:
    """Staged dataset dir → the ';'-CSV files a database bulk load reads.
    Parquet staging is converted once into a ``__csv`` handoff directory
    beside it."""
    csvs = sorted(glob.glob(f"{file_path}/*.csv"))
    if csvs:
        return csvs
    if spark is not None and os.path.isdir(file_path):
        handoff = file_path + "__csv"
        if not os.path.isdir(handoff):
            (
                read_staged(spark, file_path)
                .write.mode("overwrite")
                .option("sep", ";")
                .option("header", True)
                .csv(handoff)
            )
        return sorted(glob.glob(f"{handoff}/*.csv"))
    return [file_path]


class Loader(ABC):
    @abstractmethod
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
        """Load one staged node dataset; return created/loaded count."""

    @abstractmethod
    def load_edges(
        self,
        file_path: str,
        edge_type: str,
        start: str,
        end: str,
        metadatas: dict[str, Any],
        properties_type: dict[str, str],
    ) -> int:
        """Load one staged edge dataset; return created/loaded count."""
