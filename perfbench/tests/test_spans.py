"""Event-log parser and span recorder, on a tiny hand-written event log.

    python3 -m pytest perfbench/tests
"""

import os

import pytest

import spans

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def elog():
    return spans.read_event_log(FIXTURE)


def test_reads_jobs_stages_and_tasks(elog):
    assert sorted(elog.jobs) == [0, 1, 2]
    assert elog.jobs[0].group == "g1" and elog.jobs[1].group == "g2" and elog.jobs[2].group is None
    assert (elog.jobs[0].submit_ms, elog.jobs[0].end_ms) == (1000, 1500)
    assert elog.stage_job == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}
    assert elog.completed_stages == {0, 1, 2}
    assert len(elog.tasks) == 5


def test_totals_over_both_groups(elog):
    t = spans.spark_totals(elog, {"g1", "g2"})
    assert t["spark.jobs"] == 2
    assert t["spark.stages"] == 3  # stage 3 never completed
    assert t["spark.tasks"] == 4
    assert t["spark.job_busy_s"] == pytest.approx(1.0)  # [1000, 1500] ∪ [1400, 2000]
    assert t["spark.executor_run_s"] == pytest.approx(0.9)
    assert t["spark.executor_cpu_s"] == pytest.approx(0.65)
    assert t["spark.gc_s"] == pytest.approx(0.04)
    assert t["spark.scheduler_delay_s"] == pytest.approx(0.09)  # 25 + 25 + 40 + 0 ms
    assert t["spark.shuffle_read_bytes"] == 300
    assert t["spark.shuffle_write_bytes"] == 300
    assert t["spark.spill_bytes"] == 96
    assert t["spark.input_bytes"] == 3700
    assert t["spark.output_bytes"] == 500
    assert t["spark.peak_exec_mem_bytes"] == 8192
    assert t["spark.task_skew"] == pytest.approx(1.25)  # stage 0: max 250 / median 200


def test_totals_of_one_group(elog):
    t = spans.spark_totals(elog, {"g1"})
    assert (t["spark.jobs"], t["spark.stages"], t["spark.tasks"]) == (1, 2, 3)
    assert t["spark.job_busy_s"] == pytest.approx(0.5)
    assert t["spark.executor_run_s"] == pytest.approx(0.5)
    assert spans.spark_totals(elog, set())["spark.jobs"] == 0


def test_self_times_and_cover():
    tr = spans.Tracer("t")
    with tr.span("outer", spark=False):
        with tr.span("inner", spark=False):
            pass
        with tr.span("inner", spark=False):
            pass
    outer, a, b = tr.spans
    assert a.parent == outer.sid and b.parent == outer.sid
    selfs = spans.self_times(tr.spans)
    assert selfs[outer.sid] == pytest.approx(outer.duration - a.duration - b.duration)
    assert spans.self_cover(tr.spans, outer.duration) == pytest.approx(1.0)
    assert spans.self_cover(tr.spans, 2 * outer.duration) == pytest.approx(0.5)
    agg = spans.per_name(tr.spans, None)
    assert agg["inner"]["calls"] == 2 and agg["outer"]["calls"] == 1


def test_jobs_per_span_include_children(elog):
    tr = spans.Tracer("t")
    with tr.span("outer", spark=False) as outer:
        with tr.span("inner", spark=False) as inner:
            pass
    outer.group, inner.group = "g2", "g1"
    agg = spans.per_name(tr.spans, elog)
    assert agg["inner"]["jobs"] == 1
    assert agg["outer"]["jobs"] == 2


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer("t", enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []
