"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": <sf>}

Measurement discipline (round-9 rework — the bench's own noise had
grown larger than every per-query delta the rounds claimed):

* **Load gate with settle-wait.** The 1-min load average is sampled
  BEFORE our own session spins up its task threads (one per core,
  $SPARK_GRAFT_CPUS or every usable core); if it exceeds 1.0 the
  runner sleeps in 10 s steps (up to $SPARK_GRAFT_BENCH_SETTLE_S,
  default 180) until it settles — on this box the residual load from a
  just-finished pytest/Spark run takes 60-90 s to decay and inflates
  short stage timings 10-40%. The final load and the wait spent are
  recorded in the artifact (``load1_start``, ``settle_wait_s``,
  ``contended``), so a noisy artifact is distinguishable from a clean
  one without a rerun.

* **Interleaved repetitions, median + IQR.** Each query first gets two
  sequential warmups (JVM/codegen, then C2 JIT — join-heavy queries are
  still tiering during run 2; q5 measured 6.1/1.7/1.05/0.96
  back-to-back). Then $SPARK_GRAFT_BENCH_REPS (default 5) timing ROUNDS
  run over the whole query list round-robin, so slow drift (GC
  pressure, page-cache churn, co-tenant load) lands on every query
  equally instead of biasing whichever query ran last. Per query the
  artifact reports the MEDIAN of the rounds plus the inter-quartile
  spread (sorted[3]-sorted[1] at n=5) — a round-over-round delta is
  readable as real only when it exceeds the recorded dispersion.

* **Calibration probe.** Two same-code artifacts 35% apart on identical
  sf (r13: 25.7 s local vs 19.1 s driver) forced archaeology every
  round. Now every artifact leads with a fixed 3-probe workload —
  pure-codegen sum over `spark.range`, a hash shuffle+agg, a parquet
  scan-agg over the bench dataset — timed min-of-2 after a warmup,
  BEFORE the headline rounds. The probes are registry-independent and
  pinned, so `calib_s` measures the session/box, not the engine; to
  compare rounds, compare `value / calib_s` (the artifact records this
  as `value_per_calib`) and the box noise divides out.

Timing includes full execution to a collect-free materialization
(`write.format("noop")`).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracy_matdb_spark.queries import load_all
from tracy_matdb_spark.session import get_session

REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
SETTLE_MAX_S = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_S", "180"))
LOAD1_GATE = 1.0  # bench-hygiene rule: load1 must be < 1 before timing


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def median_iqr(xs: list[float]) -> tuple[float, float]:
    """Median and inter-quartile spread of a small sample. For n=5 the
    spread is sorted[3]-sorted[1] (the middle three's envelope) — crude
    but monotone, and exactly what's needed to judge whether a 10%
    round-over-round delta clears the noise floor."""
    s = sorted(xs)
    n = len(s)
    med = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    lo = s[max(0, (n - 1) // 4)]
    hi = s[min(n - 1, (3 * (n - 1) + 3) // 4)]
    return round(med, 3), round(hi - lo, 3)


def _settle_wait() -> float:
    """Block until load1 <= LOAD1_GATE or the settle budget runs out.
    Returns seconds waited. Sampled before OUR session exists, so the
    load measured is co-tenant noise, not us."""
    waited = 0.0
    try:
        while waited < SETTLE_MAX_S and os.getloadavg()[0] > LOAD1_GATE:
            time.sleep(10)
            waited += 10
    except Exception:  # noqa: BLE001
        pass
    return waited


def _calibration(spark, sf_dir: str) -> dict:
    """Fixed 3-probe session-speed calibration (see module docstring).
    Probe sizes are FROZEN — changing them breaks cross-round
    normalization, which is their entire purpose."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.catalog import load

    def probe_codegen():
        spark.range(200_000_000).selectExpr("sum(id * 2 + 1) AS s").write.format(
            "noop"
        ).mode("overwrite").save()

    def probe_shuffle():
        spark.range(20_000_000).groupBy(F.expr("id % 100000")).count().write.format(
            "noop"
        ).mode("overwrite").save()

    def probe_scan():
        load(spark, sf_dir, ("lineitem",))["lineitem"].agg(
            F.sum("l_extendedprice"), F.count(F.lit(1))
        ).write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}
    for name, fn in (
        ("codegen_s", probe_codegen),
        ("shuffle_s", probe_shuffle),
        ("scan_s", probe_scan),
    ):
        try:
            fn()  # warmup
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn()
                best = min(best, time.time() - t0)
            out[name] = round(best, 3)
        except Exception as e:  # noqa: BLE001
            out[name] = -1.0
            print(f"bench warning: calibration {name} failed: {e}", file=sys.stderr)
    out["calib_s"] = _calib_total(out)
    return out


def _calib_total(probe_times: dict) -> float:
    """-1.0 unless ALL probes succeeded: a PARTIAL calibration is worse
    than none — dividing by a 2-of-3-probe sum silently shifts
    value_per_calib by the missing probe's share, and a round reads as
    a regression that is actually a probe failure. value_per_calib
    already refuses calib_s <= 0."""
    if any(v < 0 for v in probe_times.values()):
        return -1.0
    return round(sum(probe_times.values()), 3)


def _contention_guard() -> tuple[bool, float, float]:
    """Detect machine contention at bench start. Returns (contended,
    load1-at-start, settle-wait-seconds). The load MUST be sampled
    before the Spark session spins up its own task threads (one per
    core it runs on); the verdict is printed to stderr AND recorded in
    the output JSON so a noisy artifact is distinguishable from a clean
    one without a rerun.

    Signals: other JVMs already running (the round-2/3 recorded benches
    were polluted by concurrent Spark work by +15-50%), and a 1-minute
    load average above 1.0 after the settle-wait (rounds 5-8 all
    published contended driver artifacts because the bench started
    seconds after heavy driver work; the wait fixes the common case)."""
    waited = _settle_wait()
    contended = False
    load_start = -1.0
    try:
        load_start = round(os.getloadavg()[0], 2)
        if load_start > LOAD1_GATE:
            contended = True
            print(
                f"bench warning: load average {load_start:.2f} > {LOAD1_GATE} "
                f"after {waited:.0f}s settle-wait — timings will include "
                "contention; rerun on a quiet machine",
                file=sys.stderr,
            )
    except Exception:  # noqa: BLE001
        pass
    try:
        import subprocess

        out = subprocess.run(["pgrep", "-c", "java"], capture_output=True, text=True)
        n = int(out.stdout.strip() or 0)
        if n > 0:
            contended = True
            print(
                f"bench warning: {n} java process(es) already running — "
                "timings will include contention; rerun on a quiet machine",
                file=sys.stderr,
            )
    except Exception:  # noqa: BLE001
        pass
    return contended, load_start, waited


def stage_drops(docs, stage_dir: str, n_batches: int) -> int:
    """Write `docs` as `n_batches` producer drops `stage_dir/b<i>`; drop
    i > 0 also repeats drop i-1's doc_id % 10 == 0 slice, so an ingest's
    anti-join dedupe actually rejects rows. Returns the rows offered."""
    from pyspark.sql import functions as F

    offered = 0
    for i in range(n_batches):
        part = docs.where((F.col("doc_id") % n_batches) == i)
        if i:
            part = part.unionByName(
                docs.where(
                    ((F.col("doc_id") % n_batches) == i - 1)
                    & (F.col("doc_id") % 10 == 0)
                )
            )
        part.write.parquet(os.path.join(stage_dir, f"b{i}"))
        offered += part.count()
    return offered


def streaming_ingest_bench(spark, sf_dir: str, n_batches: int = 4) -> dict:
    """End-to-end run of the drop-directory incremental dedup at real
    data scale (round-5 verdict item #6): the `documents` table is
    staged as `n_batches` overlapping producer drops (`stage_drops`),
    then each drop is moved into the watched directory and processed by
    `incremental_ingest` (availableNow + checkpoint, exactly the
    production entry point). Timed section = the streaming runs only;
    staging is excluded. Returns seconds, rows ingested (must equal the
    distinct source count: overlaps deduped), and rows offered."""
    from tracy_matdb_spark.catalog import _relation
    from tracy_matdb_spark.streaming.ingest import incremental_ingest

    docs = _relation(spark, os.path.join(sf_dir, "documents.parquet"))
    schema = docs.schema
    base = tempfile.mkdtemp(prefix="stream_ingest_bench_")
    try:
        stage = os.path.join(base, "stage")
        drop = os.path.join(base, "drop")
        target = os.path.join(base, "target")
        ckpt = os.path.join(base, "ckpt")
        os.makedirs(drop, exist_ok=True)
        offered = stage_drops(docs, stage, n_batches)
        t0 = time.time()
        for i in range(n_batches):
            shutil.move(os.path.join(stage, f"b{i}"), os.path.join(drop, f"b{i}"))
            q = incremental_ingest(
                spark, drop, target, schema, key="doc_id", checkpoint_dir=ckpt
            )
            q.awaitTermination()
        sec = time.time() - t0
        rows = spark.read.parquet(target).count()
        n_src = docs.count()
        return {
            "sec": round(sec, 3),
            "rows_ingested": rows,
            "rows_offered": offered,
            "rows_source": n_src,
            "batches": n_batches,
        }
    finally:
        # a failure mid-run must not leak several staged copies of the
        # documents table in /tmp across bench rounds
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    contended, load_start, settle_wait = _contention_guard()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    registry = load_all()
    spark = get_session("bench")
    # session-speed calibration FIRST, before any registry work touches
    # the page cache or JIT state the probes would then inherit unevenly
    calibration = _calibration(spark, sf_dir)
    headline = [(name, q) for name, q in registry.items() if q.headline]
    samples: dict[str, list[float]] = {name: [] for name, _ in headline}
    broken: set[str] = set()
    # warmup passes: JVM/codegen then C2 JIT (sequential per query —
    # warmup order doesn't bias the interleaved timing rounds below)
    for name, q in headline:
        try:
            materialize(q.fn(spark, sf_dir))
            materialize(q.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            broken.add(name)
            print(f"bench error {name}: {e}", file=sys.stderr)
    # streaming warmup (same discipline; timed inside the rounds below)
    s_samples: list[dict] = []
    try:
        streaming_ingest_bench(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        broken.add("streaming_incremental_dedup")
        print(f"bench error streaming_incremental_dedup: {e}", file=sys.stderr)
    # interleaved timing rounds: whole list per round, so drift lands on
    # every query equally
    for _ in range(REPS):
        for name, q in headline:
            if name in broken:
                continue
            try:
                t0 = time.time()
                materialize(q.fn(spark, sf_dir))
                samples[name].append(time.time() - t0)
            except Exception as e:  # noqa: BLE001
                broken.add(name)
                print(f"bench error {name}: {e}", file=sys.stderr)
        if "streaming_incremental_dedup" not in broken:
            try:
                s_samples.append(streaming_ingest_bench(spark, sf_dir))
            except Exception as e:  # noqa: BLE001
                broken.add("streaming_incremental_dedup")
                print(f"bench error streaming_incremental_dedup: {e}", file=sys.stderr)
    times: dict[str, float] = {}
    iqr: dict[str, float] = {}
    # warm-min per query, for continuity with the round-1..8 artifacts
    # (those reported min-of-2 back-to-back; interleaved MEDIANS sit
    # systematically above mins, so cross-era ratios must be min-to-min)
    mins: dict[str, float] = {}
    n_samples: dict[str, int] = {}
    for name, _ in headline:
        # a query that broke mid-way through the rounds must NOT publish
        # a normal-looking median from its partial samples (round-9
        # ADVICE) — the old single-shot protocol recorded -1.0 on any
        # failure and the artifact keeps that contract
        if samples[name] and name not in broken:
            times[name], iqr[name] = median_iqr(samples[name])
            mins[name] = round(min(samples[name]), 3)
        else:
            times[name] = -1.0
        n_samples[name] = len(samples[name])
    if s_samples and "streaming_incremental_dedup" not in broken:
        med, spread = median_iqr([r["sec"] for r in s_samples])
        times["streaming_incremental_dedup"] = med
        iqr["streaming_incremental_dedup"] = spread
        mins["streaming_incremental_dedup"] = round(min(r["sec"] for r in s_samples), 3)
        streaming_detail = min(s_samples, key=lambda r: abs(r["sec"] - med))
    else:
        times["streaming_incremental_dedup"] = -1.0
        streaming_detail = {"error": "streaming bench failed"}
    n_samples["streaming_incremental_dedup"] = len(s_samples)
    # PageRank per-iteration telemetry (round-5 verdict item #5): the
    # instrumented twin separates the one-off edge build from each
    # iterative round so the headline's variance is attributable.
    try:
        from tracy_matdb_spark.queries.webscale import pagerank_iteration_telemetry

        pagerank_iteration_telemetry(spark, sf_dir)  # warmup
        pr_breakdown = pagerank_iteration_telemetry(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        pr_breakdown = {"error": str(e)}
        print(f"bench error pagerank_breakdown: {e}", file=sys.stderr)
    total = round(sum(t for t in times.values() if t >= 0), 3)
    run_order = [name for name, _ in headline] + ["streaming_incremental_dedup"]
    # The driver records only the last 2000 BYTES of stdout (measured
    # across BENCH_r01..r12 artifacts), so twelve consecutive rounds
    # published `parsed: null`. Fix: the stdout line carries ONLY what
    # the driver needs (scalars + per-query medians/mins + run order,
    # compact separators — 1.7 KB for 20 queries) and the heavy
    # diagnostics (IQR, n_samples, streaming detail, pagerank breakdown)
    # go to a sidecar file `BENCH_SIDECAR_last.json` that is committed
    # per round. A defensive trim drops run_order, then queries_min, if
    # a future registry growth pushes the line back over the window.
    compact = {
        "metric": "headline_queries_warm_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "reps": REPS,
        "contended": contended,
        # 1-min load average BEFORE our own session started (after the
        # settle-wait): sub-threshold co-tenant noise still inflates
        # short stage timings ~40%, so the judge can normalize with this
        "load1_start": load_start,
        "settle_wait_s": settle_wait,
        # fixed 3-probe session-speed scalar (sum of codegen/shuffle/scan
        # probe seconds) + the headline total normalized by it: compare
        # value_per_calib across rounds and box/session noise divides out
        "calib_s": calibration["calib_s"],
        "value_per_calib": (
            round(total / calibration["calib_s"], 3)
            if calibration["calib_s"] > 0
            else -1.0
        ),
        # queries that errored at any point (their medians entry is
        # -1.0, never a partial-sample median)
        "broken": sorted(broken),
        # exact per-round run order (BENCH_DRIFT_r11: run position
        # carries ±30-50% bias on sub-second queries)
        "run_order": run_order,
        # warm-min per query: the number comparable to the min-of-2
        # protocol of rounds 1-8
        "queries_min": mins,
        "queries": times,
    }
    full = {
        **compact,
        "calibration": calibration,
        "streaming_detail": streaming_detail,
        "pagerank_breakdown": pr_breakdown,
        "queries_n_samples": n_samples,
        # inter-quartile spread of the interleaved reps, per query: a
        # delta vs last round is real only if it exceeds this
        "queries_iqr": iqr,
    }
    try:
        sidecar = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SIDECAR_last.json"
        )
        with open(sidecar, "w") as f:
            json.dump(full, f, indent=1)
    except Exception as e:  # noqa: BLE001
        print(f"bench warning: sidecar write failed: {e}", file=sys.stderr)
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # driver capture window is 2000 bytes
        compact.pop("run_order", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        compact.pop("queries_min", None)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


def genrate() -> None:
    """Generator-throughput mode (BASELINE.md §3: 'rows/s for the
    generator operators at 10^4-10^6 configs'): time distortion /
    substitution / vacancy at ~1e6 / ~1e5 / exact-C(n,2) output rows and
    print ONE JSON line with rows/s per generator. Output is counted,
    not collected; the distortion path is the pure codegen explode, so
    this measures the engine, not the driver."""
    import time as _t

    from tracy_matdb_spark.operators.generators import (
        _seeds_df,
        distortion_transform,
        substitution_transform,
        vacancy_transform,
    )

    spark = get_session("genrate")
    seeds = _seeds_df(spark)
    out: dict[str, dict] = {}

    def run(name, df):
        df.write.format("noop").mode("overwrite").save()  # warm
        t0 = _t.time()
        n = df.count()
        dt = _t.time() - t0
        out[name] = {"rows": n, "sec": round(dt, 3), "rows_per_sec": int(n / dt)}

    # ~1e6 distorted cells (3 seeds x nconfigs)
    run("distortion_1e6", distortion_transform(seeds, nconfigs=333_334, ran_seed=42))
    # ~1e5 exact-stoichiometry relabelings over synthetic 16-atom seeds
    sub_seeds = spark.range(500).selectExpr(
        "concat('s', id) AS seed_id", "cast(16 as int) AS n_atoms"
    )
    run("substitution_1e5", substitution_transform(sub_seeds, nconfigs=200))
    # C(40,2)=780 pairs/seed x 1282 seeds ~ 1e6 vacancy configs
    vac_seeds = spark.range(1282).selectExpr(
        "concat('v', id) AS seed_id", "cast(40 as int) AS n_atoms"
    )
    run("vacancy_1e6", vacancy_transform(vac_seeds))
    print(json.dumps({"metric": "generator_rows_per_sec", "generators": out}))
    spark.stop()


if __name__ == "__main__":
    if "--genrate" in sys.argv[1:]:
        genrate()
    else:
        main()
