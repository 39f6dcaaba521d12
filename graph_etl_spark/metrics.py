"""One measurement of a piece of Spark work.

``measure(spark, thunk)`` runs ``thunk`` under a job group of its own
and returns ``(value, record)``: the thunk's value and what it cost.
The record holds the wall time, the Spark jobs the thunk started (ids
and count) and, over the stages those jobs ran (skipped stages are not
counted), the tasks, executor run / CPU / GC time and shuffle and
spill bytes. The stage figures come from Spark's application status
store, which is kept with the web UI off and without an event log.

Work the thunk hands to other threads is counted when those threads
inherit the caller's local properties, as the staging pool's writes do
(``inheritable_thread_target``). A ``measure`` inside the thunk counts
its jobs toward the enclosing one too.

Catalyst's planning phases are not in the record: a ``df.write`` plans
a QueryExecution of its own, and the frame's ``tracker()`` only holds
its analysis phase; reaching the execution that ran needs a JVM-side
listener.

Not imported by the package root, so ``import graph_etl_spark`` costs
what it did.
"""

from __future__ import annotations

import threading
import time
import uuid

from py4j.protocol import Py4JJavaError

# what SparkContext.setJobGroup sets, restored to the caller's values
_GROUP_PROPERTIES = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_open = threading.local()  # job-id lists of this thread's enclosing measures


def measure(spark, thunk):
    """Run ``thunk()`` and return ``(its value, its metrics record)``.

    The caller's job group is restored afterwards, also when the thunk
    raises."""
    sc = spark.sparkContext
    group = f"getl-measure-{uuid.uuid4().hex}"
    saved = {key: sc.getLocalProperty(key) for key in _GROUP_PROPERTIES}
    stack = _open.__dict__.setdefault("stack", [])
    inner: list[int] = []
    stack.append(inner)
    sc.setJobGroup(group, group, False)
    t0 = time.perf_counter()
    try:
        value = thunk()
    finally:
        wall_s = time.perf_counter() - t0
        for key, old in saved.items():
            sc.setLocalProperty(key, old)
        stack.pop()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = sorted([*sc.statusTracker().getJobIdsForGroup(group), *inner])
        if stack:
            stack[-1].extend(job_ids)
    return value, _record(sc, wall_s, job_ids)


def _record(sc, wall_s: float, job_ids: list[int]) -> dict:
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stage_ids = {s for j in job_ids if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    stages = []
    for s in sorted(stage_ids):
        try:
            stage = store.lastStageAttempt(s)
        except Py4JJavaError:  # evicted from the status store
            continue
        if stage.status().toString() != "SKIPPED":
            stages.append(stage)
    return {
        "wall_s": round(wall_s, 3),
        "job_ids": job_ids,
        "jobs": len(job_ids),
        "stages": len(stages),
        "tasks": sum(st.numTasks() for st in stages),
        "executor_run_s": sum(st.executorRunTime() for st in stages) / 1e3,
        "executor_cpu_s": round(sum(st.executorCpuTime() for st in stages) / 1e9, 3),
        "gc_s": sum(st.jvmGcTime() for st in stages) / 1e3,
        "shuffle_read_bytes": sum(st.shuffleReadBytes() for st in stages),
        "shuffle_write_bytes": sum(st.shuffleWriteBytes() for st in stages),
        "spill_bytes": sum(st.memoryBytesSpilled() + st.diskBytesSpilled() for st in stages),
    }
