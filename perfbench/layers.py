"""Per-layer accounting for one traced op execution.

Everything here is read from the benchmark's side of the program's public
surface: the Python calls the worker times itself, Spark's in-process
status stores (job groups, `AppStatusStore`, `SQLAppStatusStore`) and the
built DataFrame's `queryExecution().tracker()`. No program file is patched
except through `wrap_sources`, which swaps timing wrappers into the
writer/reader/weather lookup tables for the duration of a traced run.
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6,
}
_METRIC_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Total of one formatted SQL metric value, in bytes, milliseconds or
    plain count. Multi-task metrics read 'total (min, med, max ...)\\n<total>
    (<min>, ...)'; single-task ones are just '<total>'."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _METRIC_RE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class StatusStores:
    """Handles on the in-process stores of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._status = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def drain(self) -> None:
        """Block until the listener bus has delivered every pending event,
        so the stores hold the finished jobs, stages and executions."""
        self._jsc.listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).apply(0).executionId())

    def executions_after(self, mark: int) -> list[int]:
        n = int(self._sql.executionsCount())
        window = self._sql.executionsList(max(0, n - 256), min(n, 256))
        ids = [int(window.apply(i).executionId()) for i in range(window.size())]
        return [i for i in ids if i > mark]

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def add_stage_metrics(self, job_ids: list[int], out: dict) -> None:
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            attempts = self._status.stageData(sid, False, self._empty, False, self._no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numCompleteTasks()
                out["exec.executor_run_s"] += st.executorRunTime() / 1e3
                out["exec.gc_s"] += st.jvmGcTime() / 1e3
                out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def add_plan_metrics(self, execution_ids: list[int], out: dict) -> None:
        """Exchange, Python-kernel and in-memory-scan nodes of the final
        (post-AQE) plan graph of each SQL execution."""
        for eid in execution_ids:
            graph = self._sql.planGraph(eid)
            nodes = graph.allNodes()
            values = None
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                if name == "Exchange":
                    out["exec.exchanges"] += 1
                elif name.startswith("InMemoryTableScan"):
                    out["caches.inmemory_scans"] += 1
                elif "Python" in name or "Pandas" in name:
                    out["functions.python_nodes"] += 1
                    if values is None:
                        values = self._sql.executionMetrics(eid)
                    metrics = node.metrics()
                    for j in range(metrics.size()):
                        m = metrics.apply(j)
                        key = _PYTHON_METRICS.get(m.name())
                        if key is None:
                            continue
                        text = values.get(m.accumulatorId())
                        out[key] += parse_metric(text.get() if text.isDefined() else None)

    def cache_bytes(self) -> int:
        infos = self._jsc.getRDDStorageInfo()
        return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)

    def catalyst_phases(self, df, out: dict) -> None:
        """Phases of the DataFrame's own QueryExecution, which the
        collecting action planned and ran: analysis while the DataFrame was
        built, optimization and planning inside the action."""
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                out[f"catalyst.{phase}_s"] += phases.apply(phase).durationMs() / 1e3


_PYTHON_METRICS = {
    "time to start Python workers": "functions.python_boot_ms",
    "time to initialize Python workers": "functions.python_boot_ms",
    "time to run Python workers": "functions.python_exec_ms",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_returned",
}


def new_layers() -> dict:
    return defaultdict(float)


class SourceTimer:
    """Wall time spent inside the program's writer, reader and weather
    calls, keyed by layer metric. Installed by `wrap_sources`."""

    def __init__(self):
        self.current: dict | None = None

    def add(self, key: str, seconds: float) -> None:
        if self.current is not None:
            self.current[key] += seconds


def wrap_sources(timer: SourceTimer) -> None:
    """Swap timing wrappers into the lookup tables the pipeline calls
    through: `writers.WRITER_MAP`, `readers.READER_MAP` and the
    `fetch_weather_table` name the pipeline module imported."""
    from laposte_data_engineering_jedha_spark.plans import pipeline
    from laposte_data_engineering_jedha_spark.sources import readers, writers

    for fmt, cls in list(writers.WRITER_MAP.items()):
        writers.WRITER_MAP[fmt] = _timed_class(cls, "write", fmt, timer)
    for ext, cls in list(readers.READER_MAP.items()):
        fmt = "sqlite" if ext == ".db" else ext.lstrip(".")
        readers.READER_MAP[ext] = _timed_class(cls, "read", fmt, timer)

    fetch = pipeline.fetch_weather_table

    def timed_fetch(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fetch(*args, **kwargs)
        finally:
            timer.add("sources.weather_s", time.perf_counter() - t0)

    pipeline.fetch_weather_table = timed_fetch


def _timed_class(cls, method: str, fmt: str, timer: SourceTimer):
    original = getattr(cls, method)

    def timed(self, *args, **kwargs):
        key = f"sources.{method}_s.{fmt}"
        if method == "write" and f"{os.sep}.laposte_stage_" in self.path:
            key = "sources.write_s.stage"
        t0 = time.perf_counter()
        try:
            return original(self, *args, **kwargs)
        finally:
            timer.add(key, time.perf_counter() - t0)

    return type(cls.__name__, (cls,), {method: timed})
