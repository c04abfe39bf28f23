"""Bench-only code paths (pagerank telemetry, streaming ingest bench)
— exercised at smoke scale so a regression surfaces in the suite, not
as a silent -1 row in the next round's BENCH artifact."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_pagerank_iteration_telemetry_shape(spark):
    from tracy_matdb_spark.queries.webscale import (
        PR_ITERS,
        pagerank_iteration_telemetry,
    )

    # bench.py measures the telemetry WARM (one warmup call before the
    # recorded one), so the balance contract below is asserted on warm
    # calls. Mid-warm sessions sit in a C2-tiering regime where the
    # headline exec is still JIT-expensive while the decomposed replay
    # runs off warm code (measured ratio 0.64 one call after cold, 1.05
    # two calls after) — so the contract is judged on the MAJORITY of
    # three recorded attempts (round-12 ADVICE: a break-on-first-pass
    # retry loop masks an intermittent accounting hole that fails ~50%
    # of calls; majority-of-3 still absorbs a one-off JIT-tiering
    # outlier while a structural hole, persistent across calls like the
    # pre-round-10 twin's 60%, fails 3/3 and surfaces).
    pagerank_iteration_telemetry(spark, SF_SMOKE)  # warmup

    def in_balance(o):
        return 0.65 * o["total_s"] - 0.3 <= o["parts_sum_s"] <= 1.35 * o["total_s"] + 0.3

    attempts = [pagerank_iteration_telemetry(spark, SF_SMOKE) for _ in range(3)]
    balances = [(round(o["parts_sum_s"], 3), round(o["total_s"], 3)) for o in attempts]
    assert sum(in_balance(o) for o in attempts) >= 2, balances
    # shape assertions run on the median-ratio attempt
    out = sorted(attempts, key=lambda o: o["parts_sum_s"] / o["total_s"])[1]
    assert set(out) == {
        "bcast",
        "node_bound",
        "total_s",
        "build_s",
        "exec_s",
        "edges_noop_s",
        "iters_s",
        "tail_s",
        "parts_sum_s",
        "n_iters",
    }
    assert out["n_iters"] == PR_ITERS
    assert len(out["iters_s"]) == PR_ITERS
    assert out["build_s"] > 0 and out["exec_s"] > 0
    assert out["edges_noop_s"] > 0 and all(t >= 0 for t in out["iters_s"])
    assert isinstance(out["bcast"], bool) and out["node_bound"] > 0
    assert out["tail_s"] >= 0
    # the round-10 contract: the decomposition must account for the
    # whole measured path — parts and total within 35% of each other
    # even on the tiny smoke sf, where fixed overheads dominate and
    # jitter is proportionally larger (at sf0.1 they agree within 10%)
    assert out["parts_sum_s"] <= 1.35 * out["total_s"] + 0.3
    assert out["parts_sum_s"] >= 0.65 * out["total_s"] - 0.3


def test_median_iqr():
    """bench.py's dispersion readout: median of the interleaved reps
    plus the middle-three envelope at n=5 — the noise floor every
    round-over-round delta is judged against."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    med, spread = bench.median_iqr([0.9, 1.0, 1.1, 1.3, 5.0])
    assert med == 1.1  # median ignores the 5.0 GC outlier
    assert spread == 0.3  # sorted[3]-sorted[1] envelope
    med3, spread3 = bench.median_iqr([2.0, 1.0, 3.0])
    assert med3 == 2.0 and spread3 == 2.0
    med1, spread1 = bench.median_iqr([0.5])
    assert med1 == 0.5 and spread1 == 0.0


def test_streaming_ingest_bench_dedupes(spark):
    from bench import streaming_ingest_bench

    out = streaming_ingest_bench(spark, SF_SMOKE, n_batches=3)
    # overlapping drops offered more rows than the source holds; the
    # anti-join must bring the ingested count back to exactly the source
    assert out["rows_offered"] > out["rows_source"]
    assert out["rows_ingested"] == out["rows_source"]
    assert out["batches"] == 3 and out["sec"] > 0


def test_bench_compare_verdicts():
    """tools/bench_compare.py: deltas are judged against the recorded
    IQR envelope with a floor; broken (-1.0) entries never get a
    numeric verdict; protocol mismatch is surfaced."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_compare",
        os.path.join(os.path.dirname(__file__), "..", "tools", "bench_compare.py"),
    )
    bc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bc)
    old = {
        "metric": "m1",
        "queries": {"a": 1.0, "b": 1.0, "c": 1.0, "d": -1.0},
        "queries_iqr": {"a": 0.3},
    }
    new = {
        "metric": "m2",
        "queries": {"a": 1.2, "b": 1.2, "c": 1.02, "d": 0.5},
        "queries_iqr": {},
    }
    out = bc.compare(old, new)
    assert out["protocol_mismatch"] is True
    assert out["queries"]["a"]["verdict"] == "noise"  # 0.2 < iqr 0.3
    assert out["queries"]["b"]["verdict"] == "real"  # 0.2 > floor 0.05
    assert out["queries"]["c"]["verdict"] == "noise"  # 0.02 < floor
    assert out["queries"]["d"]["verdict"] == "broken"
    assert out["n_real"] == 1 and out["n_common"] == 4


def test_calib_total_partial_failure_invalidates_whole_block():
    """A 2-of-3-probe calibration must NOT produce a usable calib_s:
    dividing by a partial sum shifts value_per_calib by the missing
    probe's share and a round reads as a phantom regression."""
    import bench

    assert bench._calib_total({"codegen_s": 1.0, "shuffle_s": 2.0, "scan_s": 3.0}) == 6.0
    assert bench._calib_total({"codegen_s": 1.0, "shuffle_s": 2.0, "scan_s": -1.0}) == -1.0
    assert bench._calib_total({"codegen_s": -1.0, "shuffle_s": -1.0, "scan_s": -1.0}) == -1.0
