"""Span recorder and Spark event-log reader for the traced run.

A ``Tracer`` keeps spans in memory: name, start, end, parent, pass and
run id. A span that may run Spark jobs gets its own job group, so the
event log ties every job, stage and task back to the innermost span
that was open when the job started. ``read_event_log`` parses the
uncompressed JSON-lines event log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    pass_no: int
    start: float
    end: float = 0.0
    group: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise every call is a no-op.

    ``sc`` is the SparkContext whose job group each Spark span sets."""

    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_no = 0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, spark: bool = True):
        """Time the body as span ``name``. With ``spark`` the span's
        jobs run in their own job group; plain driver work (file I/O,
        catalog writes) passes ``spark=False`` and skips the two JVM
        round trips a job group costs."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self.pass_no, 0.0)
        if spark and self.sc is not None:
            s.group = f"pb-{self.run_id}-{s.sid}"
            self.sc.setJobGroup(s.group, name)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.group is not None:
                self._restore_group()

    def _restore_group(self) -> None:
        for p in reversed(self._stack):
            if p.group is not None:
                self.sc.setJobGroup(p.group, p.name)
                return
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, obj, method: str, name: str, spark: bool = True) -> None:
        """Replace ``obj.method`` on this instance by a spanned call."""
        inner = getattr(obj, method)

        def spanned(*args, **kwargs):
            with self.span(name, spark=spark):
                return inner(*args, **kwargs)

        setattr(obj, method, spanned)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover.
    Children of one span never overlap: the benchmark is one thread."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + s.duration
    return {s.sid: max(0.0, s.duration - child_time.get(s.sid, 0.0)) for s in spans}


def self_cover(spans: list[Span], wall: float) -> float:
    """Share of ``wall`` the spans' self times account for: the time the
    top-level spans cover, as self times partition each span tree."""
    return sum(self_times(spans).values()) / wall


def interval_union(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_job: dict[int, int]  # stage id -> first job that listed it
    completed_stages: set[int]
    tasks: list[dict]  # one record per finished task, see _task_record


def _task_record(ev: dict) -> dict:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics", {})
    shuffle_write = m.get("Shuffle Write Metrics", {})
    run_ms = m.get("Executor Run Time", 0)
    duration = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
    return {
        "stage": ev.get("Stage ID"),
        "run_ms": run_ms,
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "scheduler_delay_ms": max(
            0,
            duration
            - run_ms
            - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0),
        ),
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": shuffle_write.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "peak_mem_bytes": m.get("Peak Execution Memory", 0),
    }


def read_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    completed: set[int] = set()
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev.get("Submission Time", 0),
                          stage_ids=list(ev.get("Stage IDs", [])))
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task_record(ev))
    return EventLog(jobs, stage_job, completed, tasks)


SPARK_SUMS = ("run_ms", "cpu_ns", "gc_ms", "scheduler_delay_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")


def spark_totals(log: EventLog, groups: set[str]) -> dict[str, float]:
    """Engine totals over the jobs whose job group is in ``groups``."""
    jobs = [j for j in log.jobs.values() if j.group in groups]
    job_ids = {j.job_id for j in jobs}
    stages = {s for s, j in log.stage_job.items() if j in job_ids and s in log.completed_stages}
    tasks = [t for t in log.tasks if t["stage"] in stages]
    sums = {k: sum(t[k] for t in tasks) for k in SPARK_SUMS}
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skews = [max(v) / statistics.median(v) for v in by_stage.values()
             if len(v) > 1 and statistics.median(v) > 0]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.job_busy_s": interval_union([(j.submit_ms, j.end_ms) for j in jobs if j.end_ms]) / 1e3,
        "spark.executor_run_s": sums["run_ms"] / 1e3,
        "spark.executor_cpu_s": sums["cpu_ns"] / 1e9,
        "spark.gc_s": sums["gc_ms"] / 1e3,
        "spark.scheduler_delay_s": sums["scheduler_delay_ms"] / 1e3,
        "spark.shuffle_read_bytes": sums["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": sums["shuffle_write_bytes"],
        "spark.spill_bytes": sums["spill_bytes"],
        "spark.input_bytes": sums["input_bytes"],
        "spark.output_bytes": sums["output_bytes"],
        "spark.peak_exec_mem_bytes": max((t["peak_mem_bytes"] for t in tasks), default=0),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }


def jobs_per_group(log: EventLog) -> dict[str, int]:
    out: dict[str, int] = {}
    for j in log.jobs.values():
        if j.group is not None:
            out[j.group] = out.get(j.group, 0) + 1
    return out


def span_table(spans: list[Span], log: EventLog | None) -> list[dict]:
    """One record per span with self time, its own jobs and the task
    totals of those jobs: what the traced run writes out."""
    selfs = self_times(spans)
    per_group = jobs_per_group(log) if log else {}
    rows = []
    for s in spans:
        row = {"sid": s.sid, "name": s.name, "parent": s.parent, "pass": s.pass_no,
               "start": s.start, "end": s.end, "self_s": selfs[s.sid],
               "jobs": per_group.get(s.group, 0)}
        if log is not None and s.group is not None:
            t = spark_totals(log, {s.group})
            row.update({k: t[k] for k in ("spark.tasks", "spark.executor_run_s",
                                          "spark.executor_cpu_s", "spark.gc_s",
                                          "spark.shuffle_read_bytes", "spark.shuffle_write_bytes")})
        rows.append(row)
    return rows


def per_name(spans: list[Span], log: EventLog | None) -> dict[str, dict[str, float]]:
    """Span name -> {"s": total duration, "self_s": total self time,
    "jobs": jobs started inside (children included), "calls": count}."""
    selfs = self_times(spans)
    own = jobs_per_group(log) if log else {}
    inclusive = {s.sid: own.get(s.group, 0) for s in spans}
    for s in sorted(spans, key=lambda s: -s.sid):  # children have larger ids
        if s.parent is not None:
            inclusive[s.parent] += inclusive[s.sid]
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s.name, {"s": 0.0, "self_s": 0.0, "jobs": 0, "calls": 0})
        agg["s"] += s.duration
        agg["self_s"] += selfs[s.sid]
        agg["jobs"] += inclusive[s.sid]
        agg["calls"] += 1
    return out
