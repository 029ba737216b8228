"""One benchmark worker process.

Started by run.py with PYTHONPATH pointing at the repository root. It
imports the package, starts the session through `session.get_spark()`,
runs one workload closed-loop with a single client, checks the outputs
after the timed phase and writes its figures as JSON to the file named by
--out. It leaves Spark running: run.py ends the worker's whole session,
the gateway JVM and Spark's Python workers included.

Modes:
  --prep                 write the cached inputs of the workload and exit
  --probe                time one fresh set-up (import + session start)
  (default)              run the workload; --trace 1 adds per-layer figures
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

import layers as layer_trace
import procs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, ".perfbench_data")
WORK = os.path.join(ROOT, ".perfbench_work")

# query_mix: registry queries on a generated TPC-H-like fixture
QUERY_SF = 0.01
QUERY_DATA_SEED = 42
# every 144th name, in sorted order, of the 290 queries with a warm time
# under 1 s in BENCH_DETAIL_r14opt_start.json: the per-query floor
FLOOR_QUERIES = [
    "agg_count_shape",
    "events_session_length_hist",
    "text_typo_pairs",
]
# Arrow UDF kernels, shuffles, a gated persist and a build-time job
HEAVY_QUERIES = ["knn_graph_auto"]

# etl_roundtrip: the reference pipeline on generated deliveries
ETL_ROWS = 5_000
ETL_INPUT_SEED = 4242
EXTENSIONS = {"csv": ".csv", "json": ".json", "parquet": ".parquet", "sqlite": ".db", "xlsx": ".xlsx"}


def query_dir() -> str:
    return os.path.join(DATA, f"sf{QUERY_SF}")


def etl_input_csv() -> str:
    """The source of file -> transform -> parquet: raw deliveries in csv,
    a native Spark scan with schema inference."""
    return os.path.join(DATA, f"etl_input_{ETL_ROWS}", "deliveries.csv")


# --------------------------------------------------------------------------
# session


def timed_setup(workload: str):
    """Import the modules the workload calls, then start the session.
    Returns (spark, import_s, start_s)."""
    t0 = time.perf_counter()
    from laposte_data_engineering_jedha_spark import session
    from laposte_data_engineering_jedha_spark.operators import caches  # noqa: F401

    if workload == "query_mix":
        from laposte_data_engineering_jedha_spark import queries  # noqa: F401
    else:
        from laposte_data_engineering_jedha_spark.plans import pipeline  # noqa: F401
        from laposte_data_engineering_jedha_spark.sources import weather  # noqa: F401
    t1 = time.perf_counter()
    spark = session.get_spark()
    return spark, t1 - t0, time.perf_counter() - t1


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# --------------------------------------------------------------------------
# inputs


def _publish(tmp: str, final: str) -> None:
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.replace(tmp, final)


def prepare_inputs(workload: str) -> None:
    """Write the workload's fixed inputs once per checkout: the query
    fixture through `sources.testdata.generate`, the ETL source files
    through the program's own writers."""
    os.makedirs(DATA, exist_ok=True)
    if workload == "query_mix":
        final = query_dir()
        if os.path.isdir(final):
            return
        from laposte_data_engineering_jedha_spark.sources import testdata

        tmp = final + f".tmp{os.getpid()}"
        testdata.generate(tmp, sf=QUERY_SF, seed=QUERY_DATA_SEED)
        _publish(tmp, final)
        return
    final = os.path.dirname(etl_input_csv())
    if os.path.isdir(final):
        return
    from laposte_data_engineering_jedha_spark.session import get_spark
    from laposte_data_engineering_jedha_spark.sources.generate import generate_deliveries
    from laposte_data_engineering_jedha_spark.sources.writers import WRITER_MAP

    spark = get_spark()
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    raw = generate_deliveries(spark, ETL_ROWS, seed=ETL_INPUT_SEED)
    WRITER_MAP["csv"](os.path.join(tmp, os.path.basename(etl_input_csv()))).write(raw)
    _publish(tmp, final)


# --------------------------------------------------------------------------
# ops


class QueryOp:
    """One registry query: build the DataFrame, collect it to the client
    with `toPandas()`. The results of the first and the last execution
    are kept for the output check."""

    def __init__(self, name: str):
        from laposte_data_engineering_jedha_spark import queries

        self.name = name
        self.fn = queries.queries()[name]
        self.oracle_sql = queries.oracle_sql()[name]
        self.outputs: list = []

    def _keep(self, pdf) -> None:
        self.outputs = self.outputs[:1] + [pdf]

    def reset(self) -> int:
        from laposte_data_engineering_jedha_spark.operators import caches

        return caches.release_all()

    def execute(self, spark, stores=None, layers=None) -> float:
        sf_dir = query_dir()
        if stores is None:
            t0 = time.perf_counter()
            pdf = self.fn(spark, sf_dir).toPandas()
            elapsed = time.perf_counter() - t0
            self._keep(pdf)
            return elapsed
        sc = stores.sc
        group = f"op-{self.name}-{time.monotonic_ns()}"
        mark = stores.last_execution_id()
        sc.setJobGroup(group + "-build", self.name)
        t0 = time.perf_counter()
        df = self.fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(group + "-action", self.name)
        pdf = df.toPandas()
        t2 = time.perf_counter()
        self._keep(pdf)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # everything below is read after the timed op
        stores.drain()
        build_jobs = stores.job_ids(group + "-build")
        action_jobs = stores.job_ids(group + "-action")
        layers["queries.build_s"] += t1 - t0
        layers["exec.action_s"] += t2 - t1
        layers["queries.build_jobs"] += len(build_jobs)
        layers["exec.jobs"] += len(action_jobs)
        stores.add_stage_metrics(build_jobs + action_jobs, layers)
        stores.add_plan_metrics(stores.executions_after(mark), layers)
        layers["caches.cache_bytes"] += stores.cache_bytes()
        stores.catalyst_phases(df, layers)
        return t2 - t0

    def check(self, spark, oracle) -> str | None:
        for label, pdf in zip(["cold", "warm"], self.outputs):
            reason = oracle.check(pdf, self.oracle_sql)
            if reason:
                return f"{label}: {reason}"
        return None


class EtlOp:
    """One `Pipeline.run()` with the offline weather client. The output
    directory is emptied before every execution, outside the timed op."""

    def __init__(self, name: str, config: dict, outputs: list[str]):
        self.name = name
        self.config = config
        self.outputs = outputs

    @property
    def out_dir(self) -> str:
        return self.config["output"]["path"]

    def reset(self) -> int:
        return 0

    def execute(self, spark, stores=None, layers=None, timer=None) -> float:
        from laposte_data_engineering_jedha_spark.plans.pipeline import Pipeline
        from laposte_data_engineering_jedha_spark.sources.weather import FakeWeatherClient

        shutil.rmtree(self.out_dir, ignore_errors=True)
        pipe = Pipeline(self.config, spark, weather_client=FakeWeatherClient(), progress=None)
        if stores is None:
            t0 = time.perf_counter()
            pipe.run()
            return time.perf_counter() - t0
        group = f"op-{self.name}-{time.monotonic_ns()}"
        mark = stores.last_execution_id()
        stores.sc.setJobGroup(group, self.name)
        timer.current = layers
        t0 = time.perf_counter()
        pipe.run()
        elapsed = time.perf_counter() - t0
        timer.current = None
        stores.sc.setLocalProperty("spark.jobGroup.id", None)
        stores.sc.setLocalProperty("spark.job.description", None)
        stores.drain()
        jobs = stores.job_ids(group)
        layers["exec.action_s"] += elapsed
        layers["exec.jobs"] += len(jobs)
        for stage, secs in pipe.stage_seconds.items():
            layers[f"plans.{stage}_s"] += secs
        stores.add_stage_metrics(jobs, layers)
        stores.add_plan_metrics(stores.executions_after(mark), layers)
        return elapsed

    def check(self, spark, oracle=None) -> str | None:
        from checks import check_etl_output

        with open(os.path.join(self.out_dir, "results_manifest.json")) as fh:
            manifest = json.load(fh)
        paths = [os.path.join(self.out_dir, name) for name in self.outputs]
        return check_etl_output(spark, manifest, paths, ETL_ROWS)


def build_ops(workload: str, seed: int) -> list:
    """The workload's ops, in a fixed order. The first op absorbs the
    fresh JVM's class loading and JIT warm-up, and each later op's cold
    cost depends on what ran before it: on a shared 4-core VM,
    knn_graph_auto's cold execution took 12.3-12.6 CPU seconds as the
    second op and 9.5-10.0 as the last. A seeded order would measure the
    shuffle."""
    if workload == "query_mix":
        ops = [QueryOp(n) for n in FLOOR_QUERIES + HEAVY_QUERIES]
    else:
        out = os.path.join(WORK, "etl")
        shutil.rmtree(out, ignore_errors=True)
        ops = [
            EtlOp(
                "generate_all",
                {
                    "source": {"type": "generate", "rows": ETL_ROWS, "seed": seed},
                    "output": {"path": os.path.join(out, "generate_all"), "format": "all"},
                },
                [f"deliveries{ext}" for ext in EXTENSIONS.values()],
            )
        ]
        ops.append(
            EtlOp(
                "read_csv",
                {
                    "source": {"type": "file", "path": etl_input_csv()},
                    "output": {"path": os.path.join(out, "read_csv"), "format": "parquet"},
                },
                ["deliveries.parquet"],
            )
        )
    return ops


# --------------------------------------------------------------------------
# the closed loop


def run_workload(spark, workload: str, ops: list, seconds: float, traced: bool, one_warm: bool) -> dict:
    """Per op, in order: reset (release the previous op's persists),
    one cold execution and, with `one_warm`, one warm repeat right after
    it. Without `one_warm`, warm repeats of every op in turn fill what is
    left of `seconds` once all cold executions are done, so that none of
    them can warm the JVM for a later cold execution.

    Returns per-op samples, failures and, when traced, per-layer totals
    for the cold executions and for the warm repeats. A cold sample runs
    from the op's reset to the end of its execution; its CPU seconds are
    split into the program's and the JIT compiler's (procs.cpu_split)."""
    stores = layer_trace.StatusStores(spark) if traced else None
    timer = None
    if traced and workload == "etl_roundtrip":
        timer = layer_trace.SourceTimer()
        layer_trace.wrap_sources(timer)
    samples = {op.name: {"cold": None, "cold_cpu": None, "cold_jit": None, "warm": [], "failed": 0} for op in ops}
    cold_layers = layer_trace.new_layers()
    warm_layers = layer_trace.new_layers()
    persists = 0
    first_results_s = 0.0
    sid = os.getsid(0)
    # lowest share of an execution's wall time that its spans account for
    coverage = {"op": 1.0, "stages": 1.0}

    def execute(op, layers, kind, reset):
        nonlocal persists, first_results_s
        rec = samples[op.name]
        kwargs = {}
        if traced:
            kwargs = {"stores": stores, "layers": layers}
            if timer is not None:
                kwargs["timer"] = timer
        cpu0 = procs.session_cpu(sid)
        t0 = time.perf_counter()
        if reset:
            persists += op.reset()
        try:
            elapsed = op.execute(spark, **kwargs)
        except Exception:  # one failing execution is counted, never sinks the run
            traceback.print_exc()
            rec["failed"] += 1
            return False
        # all the loop spends on the op: its reset, the job-group tags,
        # build, action and, when traced, the store reads after the action
        wall = time.perf_counter() - t0
        cpu, jit = procs.cpu_split(cpu0, procs.session_cpu(sid))
        if traced:
            spans = layers["queries.build_s"] + layers["exec.action_s"]
            coverage["op"] = min(coverage["op"], spans / wall)
            if workload == "etl_roundtrip":
                # exec.action_s is Pipeline.run() on the loop's clock
                stages = sum(layers[f"plans.{s}_s"] for s in ("extract", "transform", "load"))
                coverage["stages"] = min(coverage["stages"], stages / layers["exec.action_s"])
        if kind == "cold":
            rec["cold"], rec["cold_cpu"], rec["cold_jit"] = elapsed, cpu, jit
            first_results_s += wall
        else:
            rec["warm"].append(elapsed)
        return True

    t_start = time.perf_counter()
    for op in ops:
        op_layers = layer_trace.new_layers()
        if not execute(op, op_layers, "cold", reset=True):
            continue
        _add(cold_layers, op_layers)
        if one_warm:
            op_layers = layer_trace.new_layers()
            if execute(op, op_layers, "warm", reset=False):
                _add(warm_layers, op_layers)
    done = [op for op in ops if samples[op.name]["cold"] is not None]
    while not one_warm and done and time.perf_counter() - t_start < seconds:
        for op in done:
            if time.perf_counter() - t_start >= seconds:
                break
            execute(op, layer_trace.new_layers(), "warm", reset=False)
    persists += ops[-1].reset()
    return {
        "samples": samples,
        "first_results_s": first_results_s,
        "coverage": coverage,
        "cold_layers": dict(cold_layers),
        "warm_layers": dict(warm_layers),
        "persists": persists,
    }


def _add(into: dict, layers: dict) -> None:
    for k, v in layers.items():
        into[k] += v


def check_outputs(spark, workload: str, ops: list) -> dict[str, str]:
    """Run every op's output check; returns {op name: reason} for the
    ones that do not match."""
    from checks import QueryOracle

    oracle = QueryOracle(query_dir()) if workload == "query_mix" else None
    wrong = {}
    try:
        for op in ops:
            try:
                reason = op.check(spark, oracle)
            except Exception as exc:  # a crashing check is a wrong output
                reason = f"{type(exc).__name__}: {exc}"[:300]
            if reason:
                print(f"check {op.name}: {reason}", file=sys.stderr)
                wrong[op.name] = reason
    finally:
        if oracle is not None:
            oracle.close()
    return wrong


def summarize(workload: str, setup: dict, run: dict, wrong: dict, peak_rss_mb: float) -> dict:
    samples = run["samples"]
    cold = [s["cold"] for s in samples.values() if s["cold"] is not None]
    warm = [statistics.median(s["warm"]) for s in samples.values() if s["warm"]]
    attempted = sum((s["cold"] is not None) + len(s["warm"]) + s["failed"] for s in samples.values())
    failed = sum(s["failed"] for s in samples.values()) + sum(
        (s["cold"] is not None) + len(s["warm"]) for n, s in samples.items() if n in wrong
    )
    result = {
        "workload": workload,
        "attempted": attempted,
        "failed": failed,
        "wrong": wrong,
        "import_s": setup["import_s"],
        "start_s": setup["start_s"],
        "wall_s": setup["import_s"] + setup["start_s"] + run["first_results_s"],
        "cold_cpu_s": sum(s["cold_cpu"] for s in samples.values() if s["cold"] is not None),
        "cold_jit_s": sum(s["cold_jit"] for s in samples.values() if s["cold"] is not None),
        "cold_s": sum(cold),
        "warm_s": sum(warm),
        "op_p50_s": statistics.median(warm) if warm else 0.0,
        "warm_samples": sum(len(s["warm"]) for s in samples.values()),
        "peak_rss_mb": peak_rss_mb,
        "ops": {n: {k: v for k, v in s.items() if k != "failed"} for n, s in samples.items()},
    }
    if run["cold_layers"]:
        result["cold_layers"] = run["cold_layers"]
        result["warm_layers"] = run["warm_layers"]
        result["persists"] = run["persists"]
        result["coverage"] = run["coverage"]
    return result


def output_sizes(ops: list) -> dict:
    """Bytes of each format `generate_all` wrote, and MB of every op's
    outputs together."""
    total = 0
    by_format = {}
    for op in ops:
        for name in op.outputs:
            path = os.path.join(op.out_dir, name)
            if not os.path.exists(path):  # the op failed; counted already
                continue
            size = os.path.getsize(path)
            total += size
            if op.name == "generate_all":
                ext = os.path.splitext(name)[1]
                by_format[next(f for f, e in EXTENSIONS.items() if e == ext)] = size
    return {"bytes_written": by_format, "output_mb": total / 2**20}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["query_mix", "etl_roundtrip"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--one-warm", action="store_true", help="one warm repeat right after each cold execution")
    ap.add_argument("--out", required=True)
    ap.add_argument("--prep", action="store_true")
    ap.add_argument("--probe", action="store_true")
    args = ap.parse_args(argv)

    if args.prep:
        prepare_inputs(args.workload)
        result: dict = {"prepared": True}
    elif args.probe:
        _, import_s, start_s = timed_setup(args.workload)
        result = {"import_s": import_s, "start_s": start_s}
    else:
        spark, import_s, start_s = timed_setup(args.workload)
        setup = {"import_s": import_s, "start_s": start_s}
        ops = build_ops(args.workload, args.seed)
        run = run_workload(spark, args.workload, ops, args.seconds, bool(args.trace), args.one_warm)
        wrong = check_outputs(spark, args.workload, ops)
        rss = jvm_peak_rss_mb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        result = summarize(args.workload, setup, run, wrong, rss)
        if args.workload == "etl_roundtrip":
            result.update(output_sizes(ops), rows_per_op=ETL_ROWS)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
