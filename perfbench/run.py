"""Benchmark launcher.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 30 --trace 0

Run from the repository root. Prints one summary line, then one JSON
object as the last line of stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Every Spark process lives in a child process (perfbench/worker.py) whose
environment points PYTHONPATH at the repository root, so Spark's Python
workers can import the package too, and keeps temporary files inside the
checkout. Spark's console output goes to stderr.

--trace 0: end-to-end metrics: set-up time, the median of SETUP_SAMPLES
  fresh set-ups (the measuring worker's own, and set-up-only workers
  before and after it), and the CPU seconds of the cold pass, without
  those of the JVM's JIT compiler threads.
--trace 1: per-layer metrics. The same seed runs once untraced and once
  traced; the difference of their wall_s is reported as the overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ["query_mix", "etl_roundtrip"]
SETUP_SAMPLES = 3
RUN_BUDGET_S = 175.0
PREP_BUDGET_S = 800.0
FORMATS = ["csv", "json", "parquet", "sqlite", "xlsx"]

END_TO_END_UNITS = {"setup_s": "s", "cold_cpu_s": "s"}


class WorkerFailed(RuntimeError):
    pass


def worker_env(tmp: str) -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def run_worker(workload: str, extra: list[str], deadline: float, tmp: str) -> dict:
    """Run worker.py in its own process group; returns its JSON result."""
    out = os.path.join(tmp, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload, "--out", out, *extra]
    t0 = time.monotonic()
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=worker_env(tmp), stdout=sys.stderr, stderr=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise WorkerFailed(f"worker {extra} timed out")
    finally:
        _reap_session(proc.pid)
    print(f"worker {extra}: {time.monotonic() - t0:.1f} s", file=sys.stderr)
    if code != 0:
        raise WorkerFailed(f"worker {extra} exited with {code}")
    with open(out) as fh:
        result = json.load(fh)
    os.remove(out)
    return result


def _reap_session(sid: int) -> None:
    """Kill everything left in the worker's session and wait until it has
    ended: the gateway JVM, and Spark's Python daemon and workers, which
    the daemon moves to a process group of their own."""
    end = time.monotonic() + 30
    while time.monotonic() < end:
        pids = [pid for pid, state, _ in procs.session_processes(sid) if state != "Z"]
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def end_to_end(workload: str, seed: int, seconds: int, deadline: float, tmp: str) -> tuple[dict, dict]:
    # set-up-only workers on both sides of the measuring one, so one slow
    # stretch of the host moves at most the samples inside it
    probes = SETUP_SAMPLES - 1
    setups = [run_worker(workload, ["--probe"], deadline, tmp) for _ in range(probes - probes // 2)]
    res = run_worker(workload, ["--seed", str(seed), "--seconds", str(seconds)], deadline, tmp)
    setups.append(res)
    setups += [run_worker(workload, ["--probe"], deadline, tmp) for _ in range(probes // 2)]
    values = {
        "setup_s": statistics.median(s["import_s"] + s["start_s"] for s in setups),
        "cold_cpu_s": res["cold_cpu_s"],
    }
    return res, {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def per_layer(workload: str, seed: int, seconds: int, deadline: float, tmp: str) -> tuple[dict, dict]:
    # both workers make one warm repeat right after each cold execution,
    # so the per-layer figures and counts do not depend on timing
    args = ["--seed", str(seed), "--seconds", str(seconds), "--one-warm"]
    base = run_worker(workload, args, deadline, tmp)
    res = run_worker(workload, [*args, "--trace", "1"], deadline, tmp)
    cold, warm = res["cold_layers"], res["warm_layers"]
    values: dict[str, tuple[float, str]] = {
        "session.import_s": (statistics.median([base["import_s"], res["import_s"]]), "s"),
        "session.start_s": (statistics.median([base["start_s"], res["start_s"]]), "s"),
    }
    for key in LAYER_UNITS:
        values[key] = (cold.get(key, 0.0), LAYER_UNITS[key])
        values["warm." + key] = (warm.get(key, 0.0), LAYER_UNITS[key])
    etl = workload == "etl_roundtrip"
    persists = res["persists"]
    scans = cold.get("caches.inmemory_scans", 0.0) + warm.get("caches.inmemory_scans", 0.0)
    values["caches.persists"] = (persists, "count")
    values["caches.hit_ratio"] = (scans / persists if persists else 0.0, "ratio")
    values["trace.op_coverage"] = (res["coverage"]["op"], "ratio")
    values["plans.stage_coverage"] = (res["coverage"]["stages"] if etl else 0.0, "ratio")
    sizes = res.get("bytes_written", {})
    for fmt in FORMATS:
        values[f"sources.bytes_written.{fmt}"] = (sizes.get(fmt, 0), "B")
    values["sources.output_mb"] = (res.get("output_mb", 0.0), "MB")
    rows = res["rows_per_op"] * len(res["ops"]) / res["warm_s"] if etl and res["warm_s"] else 0.0
    values["plans.rows_per_s"] = (rows, "1/s")
    values["loop.cold_s"] = (base["cold_s"], "s")
    values["loop.cold_jit_cpu_s"] = (base["cold_jit_s"], "s")
    values["loop.warm_s"] = (base["warm_s"], "s")
    values["loop.op_p50_s"] = (base["op_p50_s"], "s")
    values["mem.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    values["trace.untraced_wall_s"] = (base["wall_s"], "s")
    values["trace.traced_wall_s"] = (res["wall_s"], "s")
    values["trace.overhead_s"] = (res["wall_s"] - base["wall_s"], "s")
    values["trace.overhead_share"] = ((res["wall_s"] - base["wall_s"]) / base["wall_s"], "ratio")
    return res, {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


LAYER_UNITS = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.exchanges": "count",
    "exec.executor_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "functions.python_nodes": "count",
    "functions.python_boot_ms": "ms",
    "functions.python_exec_ms": "ms",
    "functions.python_bytes_sent": "B",
    "functions.python_bytes_returned": "B",
    "caches.cache_bytes": "B",
    "caches.inmemory_scans": "count",
    "plans.extract_s": "s",
    "plans.transform_s": "s",
    "plans.load_s": "s",
    "sources.weather_s": "s",
    **{f"sources.write_s.{fmt}": "s" for fmt in FORMATS},
    "sources.write_s.stage": "s",
    "sources.read_s.csv": "s",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    os.makedirs(WORK, exist_ok=True)
    # Spark's and Python's scratch files, including those a killed set-up
    # worker leaves behind, live and die with this run
    tmp = tempfile.mkdtemp(prefix="tmp_", dir=WORK)
    try:
        run_worker(args.workload, ["--prep"], time.monotonic() + PREP_BUDGET_S, tmp)
        deadline = time.monotonic() + RUN_BUDGET_S
        if args.trace:
            res, metrics = per_layer(args.workload, args.seed, args.seconds, deadline, tmp)
        else:
            res, metrics = end_to_end(args.workload, args.seed, args.seconds, deadline, tmp)
    except WorkerFailed as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # the worker's full record (per-op samples, layer totals) for inspection
    with open(os.path.join(WORK, f"last_{args.workload}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    attempted, failed = res["attempted"], res["failed"]
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: {len(res['ops'])} ops, "
        f"{attempted} executions, error_rate={failed / attempted:.3f}, "
        f"{res['warm_samples']} warm samples, wrong={sorted(res['wrong'])}"
    )
    print(json.dumps({"correct": not res["wrong"] and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
