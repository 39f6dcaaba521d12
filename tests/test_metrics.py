"""``metrics.measure``: what it counts, and that it leaves the caller's
job group as it found it."""

from __future__ import annotations

import threading

import pytest

import graph_etl_spark as getl
from graph_etl_spark.metrics import measure

GROUP_PROPERTIES = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _group_of(spark, job_id):
    return spark.sparkContext._jsc.sc().statusStore().job(job_id).jobGroup().get()


def test_counts_the_jobs_stages_and_shuffle_of_an_exchange(spark):
    df = spark.range(10_000).selectExpr("id % 7 AS k", "id").groupBy("k").count()
    rows, cost = measure(spark, df.collect)
    assert len(rows) == 7
    # every job Spark's status store files under measure's group
    (group,) = {_group_of(spark, j) for j in cost["job_ids"]}
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    in_group = [
        job.jobId()
        for job in map(jobs.apply, range(jobs.size()))
        if job.jobGroup().isDefined() and job.jobGroup().get() == group
    ]
    assert sorted(in_group) == cost["job_ids"]
    assert cost["jobs"] == len(in_group) > 0
    assert cost["stages"] >= cost["jobs"]
    assert cost["tasks"] >= cost["stages"]
    assert cost["shuffle_write_bytes"] > 0
    assert cost["shuffle_read_bytes"] > 0
    assert cost["wall_s"] > 0


def test_counts_a_parsers_staging_pool_writes(spark, output_dir):
    getl.init(spark, output_folder=output_dir)
    nodes = spark.range(5).selectExpr("id", "concat('c', cast(id AS string)) AS name")

    @getl.Parser(source="measured")
    def three_saves(ctx):
        for label in ("A", "B", "C"):
            ctx.save_nodes(nodes, label)

    _, cost = measure(spark, lambda: getl.parse(use_mapper=False))
    assert any(t.name.startswith("getl-staging") for t in threading.enumerate())
    # one job per staged write, each run on a staging-pool thread
    assert cost["jobs"] == 3


def test_restores_the_callers_job_group(spark):
    sc = spark.sparkContext
    caller = {"spark.jobGroup.id": "caller", "spark.job.description": "the caller's work",
              "spark.job.interruptOnCancel": "true"}
    try:
        for key, value in caller.items():
            sc.setLocalProperty(key, value)
        measure(spark, spark.range(3).collect)
        assert {k: sc.getLocalProperty(k) for k in GROUP_PROPERTIES} == caller

        def boom():
            spark.range(3).collect()
            raise RuntimeError("thunk failed")

        with pytest.raises(RuntimeError, match="thunk failed"):
            measure(spark, boom)
        assert {k: sc.getLocalProperty(k) for k in GROUP_PROPERTIES} == caller
    finally:
        for key in GROUP_PROPERTIES:
            sc.setLocalProperty(key, None)
    measure(spark, spark.range(3).collect)
    assert [sc.getLocalProperty(k) for k in GROUP_PROPERTIES] == [None] * 3


def test_nested_measure_counts_toward_the_enclosing_one(spark):
    df = spark.range(100)

    def outer():
        df.collect()
        return measure(spark, df.collect)[1]

    inner, cost = measure(spark, outer)
    assert inner["jobs"] >= 1
    assert set(inner["job_ids"]) < set(cost["job_ids"])
