from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")
    # Keep every stage in the status store: past 1,000 stages Spark
    # evicts skipped stages first, and tests that read their jobs'
    # stages (metrics.measure, test_staging) would find them gone.
    s = get_spark("graph-etl-spark-tests", extra_confs={"spark.ui.retainedStages": "100000"})
    yield s


@pytest.fixture()
def output_dir(tmp_path):
    d = str(tmp_path / "output")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def sf_dir():
    return SF_DIR


@pytest.fixture()
def nan_null_vectors(spark):
    """Six 2-d vectors, one with a NaN component (id 4) and one NULL
    embedding (id 5), plus the query frame (id 0). Scores against ids
    4 and 5 are NaN or NULL; every similarity top-k must drop them,
    whichever strategy ranks."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
        (4, [float("nan"), 1.0]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, df.filter("vec_id = 0")
