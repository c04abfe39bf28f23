"""FOURTH decade probe for the worst sf10_full ratios (r12 verdict #7).

The join/events/ANN families have three measured decades (SCALING.json
sf10_full); text has four. This probes the next decade for exactly the
three queries whose sf10_full ratios were worst — knn_pq_embeddings
(6.98x), pagerank_bipartite (6.76x; attributed to fixed-cost dilution
via per-iteration telemetry), events_stateful_totals_tws (5.1x) — on
the tables-only sf100 dataset (tools/make_sf1.py --sf100-probe:
lineitem 600M / orders 150M / events 100M / embeddings 2M). Either the
fixed-cost-dilution story holds at 10x more data (ratios trend TOWARD
10 from below while per-unit cost stays flat) or something in the
gated-checkpoint / broadcast-gate class breaks — which is the find.

Merged into SCALING.json under "sf100_probe". Flag threshold 12
(linear is 10x). Run with SPARK_GRAFT_DRIVER_MEM=24g.

Usage: python tools/make_sf1.py --sf100-probe   # once (~20 min, 17 GB)
       python tools/sf100_probe.py
       python tools/sf100_probe.py --only q1_pricing_summary,...
       # --only re-measures a subset (names from PROBES/PROBES_TWS,
       # plus the literal "pagerank_telemetry") and MERGES the rows
       # into the existing SCALING.json sf100_probe block
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scaling_check import _warm_time  # noqa: E402
from tools.scaling_io import merge_scaling_block, read_scaling  # noqa: E402
from tools.scaling_sf10 import LARGE, RATIO_THRESHOLD, _load1  # noqa: E402
from tracy_matdb_spark.queries import load_all  # noqa: E402
from tracy_matdb_spark.session import get_session  # noqa: E402

SF100P = "/root/repo/.localdata/sf100p"
# the three worst sf10_full ratios (the r12 verdict's ask) plus one row
# each for the scan-agg, two-phase-global-rank, and watermarked
# windowed-agg families, so the fourth decade covers relational and
# streaming-window shapes too, not only ANN/graph/typed-state
PROBES = [
    "knn_pq_embeddings",
    "pagerank_bipartite",
    "q1_pricing_summary",
    "customer_order_running_total",
    "events_tumbling_1h",
]
PROBES_TWS = ["events_stateful_totals_tws"]
TELEMETRY = "pagerank_telemetry"


def _merge_subset(prior: dict, result: dict, load1: float) -> dict:
    """Merge a --only subset run's `result` into the `prior` committed
    block: re-measured rows replace their prior rows, rows the subset
    did not touch survive, a prior flag clears only if its query was
    re-measured clean, and the full run's load1 is preserved with the
    subset run's load1 appended to an audit list."""
    rows = result["queries"]
    merged_q = dict(prior.get("queries", {}))
    merged_q.update(rows)
    result["queries"] = merged_q
    if not result.get("pagerank_telemetry"):
        result["pagerank_telemetry"] = prior.get("pagerank_telemetry", {})
    result["flagged"] = sorted(
        set(prior.get("flagged", [])) - set(rows) | set(result.get("flagged", []))
    )
    result["load1_start"] = prior.get("load1_start", load1)
    result["load1_start_subset_runs"] = prior.get("load1_start_subset_runs", []) + [
        load1
    ]
    # environment attribution belongs to the FULL run whose rows
    # dominate the block; a subset run under a different codec or heap
    # must not silently re-stamp rows it did not measure — keep the
    # prior fields and surface any mismatch explicitly
    for k in ("io_codec", "driver_mem"):
        if k in prior and prior[k] != result.get(k):
            result.setdefault("subset_env_mismatch", {})[k] = result.get(k)
            result[k] = prior[k]
    return result


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        if i + 1 >= len(argv):
            raise SystemExit(
                "usage: sf100_probe.py [--only name1,name2[,pagerank_telemetry]]"
            )
        only = set(argv[i + 1].split(","))
        unknown = only - set(PROBES) - set(PROBES_TWS) - {TELEMETRY}
        if unknown:
            # a misspelled name must not become a silent no-op that
            # still rewrites the artifact as if a re-measure happened
            raise SystemExit(
                f"sf100_probe: unknown --only name(s) {sorted(unknown)}; "
                f"valid: {PROBES + PROBES_TWS + [TELEMETRY]}"
            )
    probes = [n for n in PROBES if only is None or n in only]
    probes_tws = [n for n in PROBES_TWS if only is None or n in only]
    run_telemetry = only is None or TELEMETRY in only
    # every table any selected probe touches — a pre-r14 sf100p dir
    # (no orders/customer/supplier) must fail HERE, not crash mid-run
    # or silently hand pagerank's broadcast gate a stats-failure
    # sentinel (the plan-flip class these dims were added to prevent)
    for t in ("lineitem", "orders", "customer", "supplier", "events", "embeddings"):
        if not os.path.exists(os.path.join(SF100P, f"{t}.parquet")):
            raise SystemExit(
                f"sf100_probe: {t}.parquet missing from {SF100P} — "
                "run tools/make_sf1.py --sf100-probe (r14+ writes the "
                "dimension tables too)"
            )
    # disk is the probe's scarce resource: halve shuffle/spill bytes.
    # Set HERE — after arg/dataset validation, never at module scope —
    # so tests and other tools importing SF100P/_merge_subset (and
    # error exits above) don't inherit the codec as a side effect;
    # it binds into every later get_session in the process.
    os.environ.setdefault("SPARK_GRAFT_IO_CODEC", "zstd")
    load1 = _load1()
    registry = load_all()
    spark = get_session("sf100_probe")
    rows: dict[str, dict] = {}
    flagged: list[str] = []
    for name in probes:
        fn = registry[name].fn
        t_small = _warm_time(spark, fn, LARGE)
        t_large = _warm_time(spark, fn, SF100P)
        ratio = round(t_large / max(t_small, 1e-9), 2)
        rows[name] = {
            "sec_sf10": round(t_small, 3),
            "sec_sf100": round(t_large, 3),
            "ratio": ratio,
            "flagged": ratio > RATIO_THRESHOLD,
        }
        if ratio > RATIO_THRESHOLD:
            flagged.append(name)
        print(f"{name}: {rows[name]}", flush=True)

    from tracy_matdb_spark.streaming import windows as _w

    for name in probes_tws:
        fn = registry[name].fn
        out: dict[str, dict] = {}
        for label, sf_dir in (("sf10", LARGE), ("sf100", SF100P)):
            t = _warm_time(spark, fn, sf_dir)
            prog = _w.LAST_STREAM_PROGRESS.get(name, {})
            state_rows = prog.get("state_rows_total", -1)
            if state_rows < 0:
                raise SystemExit(
                    f"sf100_probe: {name} recorded no state-row telemetry at "
                    f"{label}; refusing to publish a -1 state_rows row"
                )
            out[label] = {"sec": round(t, 3), "state_rows": state_rows}
        ratio = round(out["sf100"]["sec"] / max(out["sf10"]["sec"], 1e-9), 2)
        rows[name] = {
            "sec_sf10": out["sf10"]["sec"],
            "sec_sf100": out["sf100"]["sec"],
            "ratio": ratio,
            "state_rows_sf10": out["sf10"]["state_rows"],
            "state_rows_sf100": out["sf100"]["state_rows"],
            "state_rows_ratio": round(
                out["sf100"]["state_rows"] / max(out["sf10"]["state_rows"], 1), 2
            ),
            "flagged": ratio > RATIO_THRESHOLD,
        }
        if ratio > RATIO_THRESHOLD:
            flagged.append(name)
        print(f"{name}: {rows[name]}", flush=True)

    # pagerank decomposition at the new decade: if the sf10_full 6.76x
    # really was fixed-cost dilution, exec_s stays ~linear here and the
    # broadcast gate's state is recorded either way
    pr_tel: dict[str, dict] = {}
    if run_telemetry:
        from tracy_matdb_spark.queries.webscale import pagerank_iteration_telemetry

        for label, sf_dir in (("sf10", LARGE), ("sf100", SF100P)):
            pagerank_iteration_telemetry(spark, sf_dir)  # warmup
            pr_tel[label] = pagerank_iteration_telemetry(spark, sf_dir)
            print(f"pagerank_telemetry[{label}]: {pr_tel[label]}", flush=True)
    spark.stop()

    result = {
        "metric": "scaling_ratio_sf10_to_sf100_probe",
        "data_ratio": 10.0,
        "dataset": "tools/make_sf1.py --sf10-full vs --sf100-probe (100 vs "
        "1000 key-shifted copies; probe tables only)",
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # the probe runs both decades under zstd shuffle compression
        # (disk is the scarce resource at 600M rows); absolute seconds
        # are therefore NOT comparable to the lz4-measured sf10_full
        # rows — the controlled A/B (SCALING.json: io_codec_ab) puts zstd
        # at 1.52x lz4 wall-time on the shuffle-bound pagerank — while
        # the sf10->sf100 ratio stays codec-consistent
        "io_codec": os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        "load1_start": load1,
        "queries": rows,
        "pagerank_telemetry": pr_tel,
        "flagged": flagged,
    }
    prior = read_scaling().get("sf100_probe")
    if only is not None and isinstance(prior, dict):
        result = _merge_subset(prior, result, load1)
    merge_scaling_block("sf100_probe", result)
    print(json.dumps({"sf100_probe_flagged": flagged}))
    if flagged:
        sys.exit(1)


if __name__ == "__main__":
    main()
