"""Mechanical end-of-round gate (VERDICT r5 item 4).

Round 5 shipped a query that crashes at analysis time because the
all-80 local oracle check lived in a docstring promise instead of a
command. This script IS the command: it runs

  1. the full oracle replica — every ``__spark_entry__.queries()``
     entry vs its DuckDB oracle at sf0.01 (``tools/check_oracle.py``
     with no args), asserting 0 failures;
  2. Tier-1, the ROADMAP.md pytest command with its 2,670 s timeout;
  3. one bench smoke query at the bench scale (sf0.1 by default) so a
     plan regression in the headline path is visible before the
     official bench runs.

Results land in ``PREFLIGHT.json`` at the repo root and one summary
line (marked ``"kind": "preflight"``) is appended to
``PROGRESS.jsonl``. Exit code 0 iff every gate is green — run it
before the end-of-round snapshot commit.

Usage: python tools/preflight.py [--skip-pytest] [--skip-bench]
"""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BENCH_SMOKE_QUERY = "q1_pricing_summary"
BENCH_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the Tier-1 command and timeout of ROADMAP.md
TIER1_CMD = [
    sys.executable, "-m", "pytest", "tests/", "-q",
    "--continue-on-collection-errors", "-p", "no:cacheprovider",
]
TIER1_TIMEOUT_S = 2670


def run_oracle_gate() -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "check_oracle.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    tail = (proc.stdout or "").strip().splitlines()
    summary = tail[-1] if tail else ""
    m = re.search(r"(\d+) matched, (\d+) rows-only, (\d+) failed \(of (\d+)", summary)
    failed_names = [
        ln.split(":", 1)[0].lstrip("✗ ").strip()
        for ln in tail
        if ln.startswith("✗")
    ]
    return {
        "rc": proc.returncode,
        "matched": int(m.group(1)) if m else None,
        "rows_only": int(m.group(2)) if m else None,
        "failed": int(m.group(3)) if m else None,
        "total": int(m.group(4)) if m else None,
        "failed_names": failed_names,
        "sec": round(time.time() - t0, 1),
        "ok": proc.returncode == 0 and bool(m) and int(m.group(3)) == 0,
    }


def run_pytest_gate() -> dict:
    """Run Tier-1 as ROADMAP.md states it: every core, local dirs
    under /tmp/spark-local, no cache provider, killed after
    TIER1_TIMEOUT_S. A timeout reports ``ok: false`` with the reason."""
    t0 = time.time()
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": "/tmp/spark-local",
    }
    with subprocess.Popen(
        TIER1_CMD,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd=REPO,
        env=env,
        start_new_session=True,  # so a timeout kills the Spark JVM too
    ) as proc:
        try:
            out, _ = proc.communicate(timeout=TIER1_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return {
                "rc": None,
                "summary": "",
                "sec": round(time.time() - t0, 1),
                "ok": False,
                "reason": f"timed out after {TIER1_TIMEOUT_S} s",
            }
    tail = (out or "").strip().splitlines()
    summary = tail[-1] if tail else ""
    passed = re.search(r"(\d+) passed", summary)
    failed = re.search(r"(\d+) failed", summary)
    return {
        "rc": proc.returncode,
        "passed": int(passed.group(1)) if passed else 0,
        "failed": int(failed.group(1)) if failed else 0,
        "summary": summary[:200],
        "sec": round(time.time() - t0, 1),
        "ok": proc.returncode == 0,
    }


def run_bench_smoke() -> dict:
    """One headline query at the bench SF through the bench's own noop
    layout — catches 'crashes at analysis time' and gross plan
    regressions without paying for the full ~40-query bench. The warm
    run's metrics record (``graph_etl_spark.metrics.measure``) is kept
    as ``warm``."""
    t0 = time.time()
    code = f"""
import json, os, sys
sys.path.insert(0, {REPO!r})
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
from graph_etl_spark.metrics import measure
from graph_etl_spark.session import get_spark
spark = get_spark("preflight-smoke", extra_confs={{"spark.ui.enabled": "false"}})
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
fn = e.queries()[{BENCH_SMOKE_QUERY!r}]
def run():
    fn(spark, {BENCH_SF_DIR!r}).write.format("noop").mode("overwrite").save()
run()  # warm
print("SMOKE=" + json.dumps(measure(spark, run)[1]))
"""
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=REPO
    )
    m = re.search(r"^SMOKE=(.*)$", proc.stdout or "", re.MULTILINE)
    warm = json.loads(m.group(1)) if m else None
    return {
        "rc": proc.returncode,
        "query": BENCH_SMOKE_QUERY,
        "sf_dir": BENCH_SF_DIR,
        "warm_sec": warm["wall_s"] if warm else None,
        "warm": warm,
        "total_sec": round(time.time() - t0, 1),
        "ok": proc.returncode == 0 and m is not None,
    }


# generated records that must never regress in entry count between
# commits (VERDICT r14 #5 — round 14 twice shipped a clobbered record:
# a truncated BENCH_SUMMARY.json and an overwritten test file). Maps
# file -> key paths whose entry counts are compared against HEAD.
GUARDED_RECORDS = {
    "BENCH_SUMMARY.json": [("queries",), ("families",)],
    "SCALE_PROBE.json": [("ops",), ("ops_20x",)],
}


def run_records_gate(repo: str = REPO, guarded: dict | None = None) -> dict:
    """Each guarded generated record must (a) parse as JSON and (b)
    carry at least as many entries under each guarded key as the
    version committed at HEAD — a truncated or partially-overwritten
    record fails BEFORE the snapshot commit, not in the next verdict.
    ``repo``/``guarded`` are injectable so the guard itself is unit-
    tested against a throwaway git tree."""
    results, ok = {}, True
    for fname, key_paths in (guarded or GUARDED_RECORDS).items():
        path = os.path.join(repo, fname)
        entry: dict = {"ok": True}
        try:
            with open(path) as fh:
                cur = json.load(fh)
        except (OSError, ValueError) as exc:
            entry = {"ok": False, "error": f"unreadable: {exc}"}
            results[fname], ok = entry, False
            continue
        head_raw = subprocess.run(
            ["git", "show", f"HEAD:{fname}"],
            capture_output=True,
            text=True,
            cwd=repo,
        )
        prev = None
        if head_raw.returncode == 0:
            try:
                prev = json.loads(head_raw.stdout)
            except ValueError:
                prev = None  # HEAD itself was broken; current just needs to parse
        for kp in key_paths:
            cur_node, prev_node = cur, prev
            for k in kp:
                cur_node = cur_node.get(k, {}) if isinstance(cur_node, dict) else {}
                prev_node = (
                    prev_node.get(k, {}) if isinstance(prev_node, dict) else {}
                )
            n_cur, n_prev = len(cur_node), len(prev_node)
            entry[".".join(kp)] = {"now": n_cur, "head": n_prev}
            if prev is not None and n_cur < n_prev:
                entry["ok"] = False
                entry["error"] = (
                    f"{'.'.join(kp)} shrank {n_prev} -> {n_cur}: record "
                    "truncated (restore it or regenerate before committing)"
                )
        results[fname] = entry
        ok = ok and entry["ok"]
    results["ok"] = ok
    return results


def main() -> int:
    record: dict = {"kind": "preflight", "ts": time.time()}
    print("== preflight 0/3: generated-record integrity ==", flush=True)
    record["records"] = run_records_gate()
    print(json.dumps(record["records"]))

    print("== preflight 1/3: all-registry oracle replica (sf0.01) ==", flush=True)
    record["oracle"] = run_oracle_gate()
    print(json.dumps(record["oracle"]))

    if "--skip-pytest" in sys.argv:
        record["pytest"] = {"skipped": True, "ok": True}
    else:
        print("== preflight 2/3: pytest ==", flush=True)
        record["pytest"] = run_pytest_gate()
        print(json.dumps(record["pytest"]))

    if "--skip-bench" in sys.argv:
        record["bench_smoke"] = {"skipped": True, "ok": True}
    else:
        print("== preflight 3/3: bench smoke ==", flush=True)
        record["bench_smoke"] = run_bench_smoke()
        print(json.dumps(record["bench_smoke"]))

    record["ok"] = all(
        record[k].get("ok")
        for k in ("records", "oracle", "pytest", "bench_smoke")
    )
    with open(os.path.join(REPO, "PREFLIGHT.json"), "w") as f:
        json.dump(record, f, indent=2)
    with open(os.path.join(REPO, "PROGRESS.jsonl"), "a") as f:
        f.write(
            json.dumps(
                {
                    "ts": record["ts"],
                    "kind": "preflight",
                    "ok": record["ok"],
                    "oracle_failed": record["oracle"].get("failed"),
                    "oracle_total": record["oracle"].get("total"),
                    "pytest": record["pytest"].get("summary", "skipped"),
                    "smoke_warm_sec": record["bench_smoke"].get("warm_sec"),
                }
            )
            + "\n"
        )
    print(f"\npreflight {'GREEN' if record['ok'] else 'RED'} — PREFLIGHT.json written")
    return 0 if record["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
