"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates its inputs from
the seed under ``.perfbench_run/`` (removed at exit), then sets up once:
it starts a fresh JVM and a local Spark session on every core of the
host, and runs ``WARMUP_PASSES`` untimed warm-up passes. It then repeats the
workload's pass until ``--seconds`` have gone by, and at least three
times, reports the fastest pass, and checks every pass against oracles
computed outside Spark.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones
of BENCHMARK.json; with ``--trace 1`` they are the per-layer ones,
taken from spans around every public call and from the Spark event
log. The traced run alternates traced and untraced passes, at least
one of each, so that it can report its own tracing overhead, and
writes its spans to ``.perfbench_out/``. A line before the last one
records the host.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEMORY = "3g"
# untimed passes after session start: the first pass after a cold start
# runs 2-3x slow (class loading, JIT, codegen)
WARMUP_PASSES = 1
# the top-level spans of a traced pass must cover at least this share
# of its wall time, or the pass counts as a failed check
TRACE_COVER_MIN = 0.95
CLEANER_WAIT_S = 0.5


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_record() -> dict:
    import pyspark

    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.isfile(ref_path):
                with open(ref_path) as f:
                    commit = f.read().strip()
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_start": os.getloadavg(),
            "spark_version": pyspark.__version__, "git_commit": commit}


class Session:
    """The Spark session of one run, and the JVM behind it."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.spark = None

    def start(self):
        import graph_etl_spark as getl

        confs = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "events"), exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = getl.get_spark("perfbench", extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm(self):
        return self.spark.sparkContext._jvm

    def retained_heap_mb(self) -> float:
        """Live driver heap after forced full GCs; caches and pins stay.
        Spark's ContextCleaner frees the blocks of collected broadcasts
        and shuffles on its own thread after a GC (a reading right after
        one GC was up to 80 MiB high), so it gets ``CLEANER_WAIT_S``
        after each of two collections before the last one is read."""
        bean = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        for _ in range(2):
            bean.gc()
            time.sleep(CLEANER_WAIT_S)
        bean.gc()
        return bean.getHeapMemoryUsage().getUsed() / 2**20

    def jvm_peak_rss_mb(self) -> float:
        pid = self.jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def median(values):
    return statistics.median(values) if values else 0.0


def per_layer_pass(tracer, log_, pass_no: int, wall: float, counters: dict) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    ps = [s for s in tracer.spans if s.pass_no == pass_no]
    out: dict[str, float] = {}
    for name, agg in spans.per_name(ps, log_).items():
        out[f"{name}_s"] = agg["s"]
        out[f"{name}.self_s"] = agg["self_s"]
        out[f"{name}.jobs"] = agg["jobs"]
        out[f"{name}.calls"] = agg["calls"]
    out["catalog.flushes"] = out.get("catalog.flush.calls", 0)
    out.update(spans.spark_totals(log_, {s.group for s in ps if s.group}))
    out["driver.gap_s"] = wall - out["spark.job_busy_s"]
    out["trace.self_cover"] = spans.self_cover(ps, wall)
    out.update(counters)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "graph_etl_spark")):
        log("graph_etl_spark is not beside perfbench/: run from a checkout of the repository")
        return 2

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "passes"):
        os.makedirs(os.path.join(work, d))
    # every temp file of this process, the JVM and Spark stays in the run dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)

    session = Session(work, bool(args.trace))
    try:
        return run(args, spec, work, session)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, work: str, session: Session) -> int:
    host = host_record()
    cls = workloads.WORKLOADS[args.workload]
    manifest = gen.GENERATORS[cls.data](os.path.join(work, "inputs"), args.seed)
    host["inputs"] = {k: manifest[k] for k in ("input_rows", "input_bytes", "sizes", "rates")}
    wl = cls(manifest)
    wl.prepare_oracle()

    # set-up: JVM and session start, then the untimed warm-up passes
    t0 = time.perf_counter()
    spark = session.start()
    t1 = time.perf_counter()
    off = spans.Tracer("warmup", enabled=False)
    for n in range(WARMUP_PASSES):
        warm_dir = os.path.join(work, "passes", f"warmup{n}")
        wl.run(spark, off, warm_dir)
        shutil.rmtree(warm_dir, ignore_errors=True)
    start_s, warmup_s = t1 - t0, time.perf_counter() - t1
    log(f"setup {start_s:.2f}s start + {warmup_s:.2f}s warm-up")

    tracer = spans.Tracer(str(os.getpid()), spark.sparkContext, enabled=False)
    walls = {True: [], False: []}
    traced = {}  # pass number -> (wall, workload counters)
    recalls, bytes_out = [], []
    attempted = failed = 0
    heap_mb = 0.0
    # the first timed pass still runs up to a third slow, and CPU steal
    # on a shared host slows single passes by as much: time at least
    # three and report the fastest (a traced run alternates, so two give
    # one of each kind)
    min_passes = 2 if args.trace else 3
    t_end = time.perf_counter() + args.seconds
    i = 0
    while i < min_passes or time.perf_counter() < t_end:
        tracer.enabled, tracer.pass_no = bool(args.trace) and i % 2 == 0, i
        pass_dir = os.path.join(work, "passes", str(i))
        res = None
        t0 = time.perf_counter()
        try:
            res = wl.run(spark, tracer, pass_dir)
        except Exception:
            failed += 1
            log(f"pass {i} raised:\n{traceback.format_exc()}")
        wall = time.perf_counter() - t0
        attempted += wl.public_calls
        if res is not None:
            walls[tracer.enabled].append(wall)
            fails, recall = wl.check(res)
            recalls.append(recall)
            bytes_out.append(workloads.tree_size(pass_dir)[1])
            if tracer.enabled:
                cover = spans.self_cover([s for s in tracer.spans if s.pass_no == i], wall)
                if cover < TRACE_COVER_MIN:
                    fails.append(f"top-level spans cover {cover:.3f} of the pass, below {TRACE_COVER_MIN}")
                traced[i] = (wall, wl.counters(res))
            failed += len(fails)
            for m in fails:
                log(f"pass {i} check failed: {m}")
        if i == 0 and not args.trace:
            # drop the pass's Python handles first: a py4j proxy left in
            # a reference cycle would keep its JVM object alive
            res = None
            gc.collect()
            heap_mb = session.retained_heap_mb()
        shutil.rmtree(pass_dir, ignore_errors=True)
        log(f"pass {i}{' traced' if tracer.enabled else ''} {wall:.3f}s")
        i += 1

    if args.trace:
        values = traced_metrics(args, tracer, session, traced, walls, start_s, warmup_s, host)
        values["ops_failed_frac"] = failed / attempted
        section = "per_layer"
    else:
        wall = min(walls[False])
        values = {
            "wall_s": wall,
            "input_rows_per_s": wl.input_rows / wall,
            "setup_s": start_s + warmup_s,
            "ops_ok_frac": 1.0 - failed / attempted,
            "retained_heap_mb": heap_mb,
            "bytes_out_per_byte_in": median(bytes_out) / wl.input_bytes,
            "recall_at_10": median(recalls),
        }
        section = "end_to_end"
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[section]}
    host.update({"workload": args.workload, "seed": args.seed, "walls": walls[False],
                 "loadavg_end": os.getloadavg()})
    print(json.dumps({"run": host}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def traced_metrics(args, tracer, session, traced, walls, start_s, warmup_s, host) -> dict:
    """Per-layer metrics: the median over traced passes of each figure.
    Stops the session first, which completes the event log."""
    rss = session.jvm_peak_rss_mb()
    app_id = session.spark.sparkContext.applicationId
    session.spark.stop()
    session.spark = None
    events = os.path.join(session.work, "events")
    [name] = [n for n in os.listdir(events) if n.startswith(app_id)]
    elog = spans.read_event_log(os.path.join(events, name))
    passes = [per_layer_pass(tracer, elog, i, wall, counters) for i, (wall, counters) in traced.items()]
    out = {k: median([p.get(k, 0.0) for p in passes]) for k in set().union(*passes)}
    out.update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "session.jvm_peak_rss_mb": rss,
        "trace.wall_s": median(walls[True]),
        "trace.untraced_wall_s": median(walls[False]),
        "trace.overhead_s": median(walls[True]) - median(walls[False]),
    })
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"run": host, "passes": passes, "spans": spans.span_table(tracer.spans, elog)}, f)
    log(f"spans written to {os.path.relpath(path, ROOT)}")
    return out


if __name__ == "__main__":
    sys.exit(main())
