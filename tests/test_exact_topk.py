"""The exact top-k scans (``brute_force_topk``, ``mips_topk``,
``l2_topk``) against the per-pair ``zip_with`` kernels they replaced.

``_reference`` keeps that form: a broadcast cross join, the kernel
folded by Spark's ``aggregate``, rounded, and ranked by ``_topk``.
The numpy block scorer must return the same rows in every case below,
and its raw scores must be bit-equal to the kernels'.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_etl_spark import operators as ops
from graph_etl_spark.operators import similarity as sim
from graph_etl_spark.sources import fan_out

SCANS = {"cos": ops.brute_force_topk, "dot": ops.mips_topk, "l2": ops.l2_topk}


def _kernel(metric: str):
    q, d = F.col("__qvec"), F.col("__dvec")
    if metric == "cos":
        return sim.dot(q, d) / (sim.norm(q) * sim.norm(d))
    if metric == "dot":
        return sim.dot(q, d)
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                q, d,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _pairs(data, queries):
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec"))
    d = fan_out(data).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__dvec")
    )
    return d.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))


def _reference(data, queries, k, metric, round_to=4):
    name, larger_first = sim._EXACT[metric]
    scored = _pairs(data, queries).withColumn(name, F.round(_kernel(metric), round_to))
    return sim._topk(scored, k, name, asc=not larger_first).select(
        "query_id", "neighbor_id", name, "rank"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_same(data, queries, k, metrics=SCANS):
    for metric in metrics:
        got = _rows(SCANS[metric](data, queries, k=k))
        assert got == _rows(_reference(data, queries, k, metric)), metric


def _vectors(spark, rows, vec_type="array<double>", partitions=None):
    df = spark.createDataFrame(rows, f"vec_id long, embedding {vec_type}")
    return df if partitions is None else df.repartition(partitions, "vec_id")


def test_rounded_ties_at_kth_place_across_partitions(spark):
    """Eight rows whose scores differ in raw value but round alike, the
    worst raw scores on the smallest ids: the tie order (id ascending)
    must pick rows a raw-score cut of each partition would drop."""
    rows = [(0, [1.0, 0.0])] + [
        (i, [0.5 + i * 2e-6, 0.5 - i * 2e-6]) for i in range(1, 9)
    ] + [(i, [-float(i), 1.0]) for i in range(9, 17)]
    data = _vectors(spark, rows, partitions=4)
    spread = data.filter("vec_id between 1 and 8").select(F.spark_partition_id()).distinct()
    assert spread.count() > 1
    queries = data.filter("vec_id = 0")
    for k in (3, 10):
        _assert_same(data, queries, k)
    for fn in SCANS.values():
        got = fn(data, queries, k=3).orderBy("rank").collect()
        assert [r["neighbor_id"] for r in got] == [1, 2, 3]
        assert len({r[2] for r in got}) == 1


def test_k_at_least_corpus_and_zero_rows(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    small = e.filter(F.col("vec_id") < 6)
    _assert_same(small, small.filter("vec_id < 2"), k=10)
    _assert_same(e.limit(0), small, k=5)
    _assert_same(small, e.limit(0), k=5)
    for fn in SCANS.values():
        assert fn(e.limit(0), small, k=5).count() == 0
        assert fn(small, e.limit(0), k=5).count() == 0


def test_all_null_embedding_column(spark):
    data = _vectors(spark, [(i, None) for i in range(5)])
    _assert_same(data, data.filter("vec_id < 2"), k=3)
    for fn in SCANS.values():
        assert fn(data, data.filter("vec_id < 2"), k=3).count() == 0


def test_mixed_lengths_on_either_side(spark):
    """``zip_with`` pads the shorter vector with NULL, so a pair of
    unequal length scores NULL and never ranks; equal-length pairs of
    each length still do."""
    rows = [
        (0, [1.0, 0.5]),
        (1, [1.0, 0.5, 2.0]),
        (2, [0.3, 0.4]),
        (3, [0.3, 0.4, 0.1]),
        (4, [2.0, -1.0]),
        (5, [-1.0, 2.0, 0.5]),
        (6, []),
        (7, []),
    ]
    data = _vectors(spark, rows)
    _assert_same(data, data.filter("vec_id in (0, 1, 6)"), k=5)
    _assert_same(data.filter("vec_id in (0, 2, 4)"), data.filter("vec_id in (1, 3)"), k=5)
    got = ops.mips_topk(data, data.filter("vec_id = 1"), k=5).collect()
    assert {r["neighbor_id"] for r in got} == {3, 5}


@pytest.mark.parametrize("vec_type", ["array<float>", "array<double>"])
def test_float_and_double_arrays(spark, sf_dir, vec_type):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast(vec_type).alias("embedding")
    )
    _assert_same(e, e.filter(F.col("vec_id") < 12), k=7)


def test_nan_null_vectors(spark, nan_null_vectors):
    df, q = nan_null_vectors
    _assert_same(df, q, k=5)
    _assert_same(df, df, k=5)


def test_ansi_session_drops_undefined_pairs(spark):
    """With ANSI on, a zero-norm vector used to raise DIVIDE_BY_ZERO in
    the cosine scan. Zero-norm, short and NULL-element vectors now
    drop their pairs in every scan, as with ANSI off."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 0.0]),
        (2, [0.6, 0.8]),
        (3, [1.0]),
        (4, [None, 1.0]),
        (5, [-1.0, 0.5]),
    ]
    schema = "vec_id long, embedding array<double>"
    off = spark.createDataFrame(rows, schema)
    expected = {m: _rows(_reference(off, off, 3, m)) for m in SCANS}
    ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    data = ansi.createDataFrame(rows, schema)
    for metric, fn in SCANS.items():
        got = _rows(fn(data, data, k=3))
        assert got == expected[metric], metric
        assert not {3, 4} & {i for r in got for i in r[:2]}, metric
    assert {i for r in expected["cos"] for i in r[:2]} == {0, 2, 5}
    assert 1 in {r[0] for r in expected["dot"]}


@pytest.mark.parametrize("vec_type", ["array<float>", "array<double>"])
def test_raw_scores_bit_equal_to_kernels(spark, sf_dir, vec_type):
    """Unpruned (k above the corpus size), the scorer's raw float64
    scores equal Spark's folds bit for bit, for every pair. Products of
    float components are exact in float64, so only the double case,
    with full 53-bit components, tells the fold's order from a BLAS
    product's (whose fused multiply-adds round once per term)."""
    if vec_type == "array<float>":
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 64)
    else:
        rng = np.random.default_rng(7)
        e = _vectors(spark, [(i, rng.normal(size=48).tolist()) for i in range(64)])
    q = e.filter(F.col("vec_id") < 8)
    batch = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__dvec")
    ).toPandas()
    qrows = q.collect()
    for metric in SCANS:
        want = {
            (r[0], r[1]): r[2]
            for r in _pairs(e, q).select("query_id", "neighbor_id", _kernel(metric)).collect()
        }
        score = sim._block_scorer(
            [r["vec_id"] for r in qrows], [r["embedding"] for r in qrows],
            10_000, metric, 2e-4, lambda: None,
        )
        got = {
            (int(a), int(b)): float(c)
            for part in score(iter([batch]))
            for a, b, c in part[["query_id", "neighbor_id", "__raw"]].itertuples(index=False)
        }
        assert len(want) == 8 * 63 and got == want, metric
