"""Per-layer metrics of a traced run: per op, and per pass of the workload."""

from __future__ import annotations

from perfbench.stats import median
from perfbench.layers import process_peak_rss_mb

# name -> unit; every traced run reports all of them (0 where a workload
# never enters the layer)
PER_LAYER = {
    "session.start_s": "s",
    "queries.load_all_s": "s",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "queries.eager_s": "s",
    "catalog.calls": "count",
    "catalog.s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.drain_s": "s",
    "scan.files": "count",
    "scan.bytes": "B",
    "scan.rows": "count",
    "shuffle.exchanges": "count",
    "shuffle.write_bytes": "B",
    "shuffle.records": "count",
    "shuffle.spill_bytes": "B",
    "join.rows_out": "count",
    "join.yield": "ratio",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "python.rows_returned": "count",
    "pipeline.setup_s": "s",
    "pipeline.status_s": "s",
    "pipeline.split_s": "s",
    "pipeline.finalize_s": "s",
    "pipeline.verify_s": "s",
    "pipeline.files_written": "count",
    "pipeline.bytes_written": "B",
    "stream.query_start_s": "s",
    "stream.latestOffset_ms": "ms",
    "stream.getBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.rows_offered": "count",
    "stream.rows_rejected": "count",
    "session.gc_s": "s",
    "session.peak_rss_mb": "MiB",
    "trace.overhead_s": "s",
}
# layer readings that describe the state after an op rather than work done by it
_STATE = ("pipeline.files_written", "pipeline.bytes_written")


def _pass_totals(readings: dict[str, dict[str, float]]) -> dict[str, float]:
    """Sum one traced pass's op readings into workload-level values."""
    total: dict[str, float] = {}
    for op, layers in readings.items():
        for k, v in layers.items():
            total[k] = max(total.get(k, 0.0), v) if k in _STATE else total.get(k, 0.0) + v
        if op.startswith("pipeline."):
            total[f"{op}_s"] = layers["op.s"]
    # result rows over join output rows, for the ops whose result is a row set
    joined = [ls for ls in readings.values() if ls.get("join.rows_out") and "result_rows" in ls]
    if joined:
        total["join.yield"] = sum(ls.get("result_rows", 0.0) for ls in joined) / sum(
            ls["join.rows_out"] for ls in joined
        )
    return total


def per_layer(out, session_s: float, load_s: float, spark) -> tuple[dict, dict]:
    """(metrics, detail): the median traced pass's layer values, and
    every op's median layer values."""
    passes = [_pass_totals(r) for r in out.traced]
    values = {k: median([p.get(k, 0.0) for p in passes]) for k in PER_LAYER if passes}
    values["session.start_s"] = session_s
    values["queries.load_all_s"] = load_s
    values["session.peak_rss_mb"] = process_peak_rss_mb(spark)
    values["trace.overhead_s"] = median(out.traced_s) - median(out.warm_s)
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}

    per_op: dict[str, dict[str, float]] = {}
    for op in dict.fromkeys(op for r in out.traced for op in r):
        samples = [r[op] for r in out.traced if op in r]
        keys = sorted({k for s in samples for k in s})
        per_op[op] = {k: median([s.get(k, 0.0) for s in samples]) for k in keys}
        if per_op[op].get("join.rows_out") and "result_rows" in per_op[op]:
            per_op[op]["join.yield"] = per_op[op].get("result_rows", 0.0) / per_op[op]["join.rows_out"]
    detail = {
        "traced_passes": len(passes),
        "traced_pass_s": out.traced_s,
        "untraced_pass_s": out.warm_s,
        "per_op": per_op,
    }
    return metrics, detail
