"""Per-layer readings taken from outside the engine.

Everything here reads Spark's in-process status APIs or wraps the
engine's public functions; nothing is installed unless the run is
traced. Layer names follow the repo's modules (`catalog`, `queries`,
`pipeline`, `stream`, `session`) and Spark's layers (`plan`, `exec`,
`scan`, `shuffle`, `join`, `python`).
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from perfbench.stats import parse_metric

CATALOG_PUBLIC = (
    "table_path",
    "load",
    "table_num_rows",
    "table_num_row_groups",
    "spread_unsplittable_scan",
    "load_events",
    "register",
    "gated_local_checkpoint",
)

# SQL metric name -> layer metric, summed over the plan nodes that carry it
_PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "number of output rows": "python.rows_returned",
}
_SCAN_METRICS = {
    "number of files read": "scan.files",
    "size of files read": "scan.bytes",
    "number of output rows": "scan.rows",
}
_EXCHANGE_METRICS = {
    "shuffle bytes written": "shuffle.write_bytes",
    "shuffle records written": "shuffle.records",
}
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


class CatalogCounter:
    """Counts and times the outermost calls into `catalog`'s public
    functions. Installed before the registry is imported, so the query
    modules bind the wrappers when they import these names."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self._depth = 0

    def install(self, module) -> None:
        for name in CATALOG_PUBLIC:
            setattr(module, name, self._wrap(getattr(module, name)))

    def _wrap(self, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            if self._depth:
                return fn(*args, **kwargs)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
                self._depth -= 1

        return counted


def peak_rss_mb(pid: int | str) -> float:
    """VmHWM of a process in MiB (0 when the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _scala_map(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


class Tracer:
    """Attributes Spark work to one op at a time (the loop is closed, so
    every SQL execution and job between an op's start and end is its)."""

    def __init__(self, spark: SparkSession, catalog: CatalogCounter):
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.catalog = catalog

    # -- status store access ------------------------------------------------

    def drain(self) -> None:
        """Block until the listener bus has delivered every event, so the
        status stores hold final values and counts repeat exactly."""
        self.core.listenerBus().waitUntilEmpty()

    def _last_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        return self.sql_store.executionsList(int(n) - 1, 1).apply(0).executionId()

    def _executions_after(self, watermark: int) -> list[int]:
        n = int(self.sql_store.executionsCount())
        window = 64
        while True:
            seq = self.sql_store.executionsList(max(0, n - window), window)
            ids = [seq.apply(i).executionId() for i in range(seq.size())]
            if window >= n or (ids and ids[0] <= watermark):
                return [i for i in ids if i > watermark]
            window *= 4

    def _gc_ms(self) -> float:
        ex = self.core.statusStore().executorList(True)
        return float(sum(ex.apply(i).totalGCTime() for i in range(ex.size())))

    def _job_totals(self, group: str) -> tuple[int, int, int, float]:
        """(jobs, stages run, tasks run, summed job wall seconds) of a group."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        wall = 0.0
        seen: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st and st.numCompletedTasks and sid not in seen:
                    seen.add(sid)
                    stages += 1
                    tasks += st.numCompletedTasks
            data = self.core.statusStore().job(jid)
            if data.submissionTime().isDefined() and data.completionTime().isDefined():
                wall += (data.completionTime().get().getTime() - data.submissionTime().get().getTime()) / 1e3
        return len(jobs), stages, tasks, wall

    def _active(self, group: str) -> bool:
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None and info.status == "RUNNING":
                return True
        return False

    def sql_layers(self, watermark: int) -> dict[str, float]:
        """Scan, shuffle, join and Python-boundary totals over every SQL
        execution started after `watermark`."""
        out: dict[str, float] = defaultdict(float)
        for eid in self._executions_after(watermark):
            values = _scala_map(self.sql_store.executionMetrics(eid))
            nodes = self.sql_store.planGraph(eid).allNodes()
            for ni in range(nodes.size()):
                node = nodes.apply(ni)
                name = node.name()
                metrics = {}
                ms = node.metrics()
                for mi in range(ms.size()):
                    m = ms.apply(mi)
                    text = values.get(m.accumulatorId())
                    if text is None:
                        continue
                    try:
                        metrics[m.name()] = parse_metric(text)
                    except ValueError:
                        continue  # per-task averages carry no total
                if not metrics:
                    continue
                if "spill size" in metrics:
                    out["shuffle.spill_bytes"] += metrics["spill size"]
                if "data sent to Python workers" in metrics:
                    table = _PYTHON_METRICS
                elif name.startswith("Scan "):
                    table = _SCAN_METRICS
                elif name == "Exchange":
                    out["shuffle.exchanges"] += 1
                    table = _EXCHANGE_METRICS
                elif "Join" in name or name == "CartesianProduct":
                    table = {"number of output rows": "join.rows_out"}
                else:
                    continue
                for metric, key in table.items():
                    if metric in metrics:
                        out[key] += metrics[metric]
        return dict(out)

    # -- per-op spans -------------------------------------------------------

    @contextmanager
    def group(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setJobGroup("", "")

    def plan_phases(self, df: DataFrame) -> dict[str, float]:
        """QueryPlanningTracker phases of `df`, after forcing its physical plan."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = _scala_map(qe.tracker().phases())
        return {
            f"plan.{k}_ms": float(phases[k].durationMs()) if k in phases else 0.0
            for k in ("analysis", "optimization", "planning")
        }

    def start(self) -> dict:
        return {
            "watermark": self._last_execution_id(),
            "gc_ms": self._gc_ms(),
            "catalog": (self.catalog.calls, self.catalog.seconds),
        }

    def finish(self, mark: dict, op: str, exec_group: str | None = None) -> dict[str, float]:
        """Layer readings of op `op` since `mark`. `op:build` is the job
        group its build used; its run used `exec_group`, `op:exec` unless
        given (a streaming query runs its jobs under its run id)."""
        exec_group = exec_group or f"{op}:exec"
        t0 = time.perf_counter()
        while self._active(exec_group):
            time.sleep(0.005)
        drain_s = time.perf_counter() - t0
        self.drain()
        b_jobs, _, _, b_wall = self._job_totals(f"{op}:build")
        e_jobs, e_stages, e_tasks, _ = self._job_totals(exec_group)
        layers = {
            "queries.eager_jobs": float(b_jobs),
            "queries.eager_s": b_wall,
            "exec.jobs": float(e_jobs),
            "exec.stages": float(e_stages),
            "exec.tasks": float(e_tasks),
            "exec.drain_s": drain_s,
            "catalog.calls": float(self.catalog.calls - mark["catalog"][0]),
            "catalog.s": self.catalog.seconds - mark["catalog"][1],
            "session.gc_s": (self._gc_ms() - mark["gc_ms"]) / 1e3,
        }
        layers.update(self.sql_layers(mark["watermark"]))
        return layers


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Per-phase milliseconds and rows of a finished streaming query,
    summed over its micro-batches (`StreamingQuery.recentProgress`)."""
    out = {f"stream.{p}_ms": 0.0 for p in STREAM_PHASES}
    out["stream.rows_offered"] = 0.0
    for p in progress:
        for phase in STREAM_PHASES:
            out[f"stream.{phase}_ms"] += float(p.get("durationMs", {}).get(phase, 0))
        out["stream.rows_offered"] += float(p.get("numInputRows", 0))
    return out


def process_peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    return peak_rss_mb("self") + peak_rss_mb(spark.sparkContext._gateway.proc.pid)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under `path`."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
