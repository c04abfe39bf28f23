"""Shuffle/spill telemetry audit: bytes moved per query at sf0.1.

Motivation: the scaling runner (tools/scaling.py) times queries
across two data decades, but wall-time on local[32] under-weights the
quantity that actually kills a 100 TB run — SHUFFLE VOLUME. A plan that
shuffles 10x its input is network-bound on a 1000-executor cluster no
matter how fast it looks on one box, and any spill at sf0.1 (where the
working set is a few hundred MB against 8 GB of driver memory) means
the per-partition working set is mis-sized and WILL spill at scale.

This tool runs each audited query once against $SPARK_GRAFT_SF_DIR
(default sf0.1) with the Spark UI enabled and attributes completed-stage
metrics (public monitoring REST API, /api/v1/applications/.../stages)
to the query that ran between two snapshots. Recorded per query:

  input_mb / output_mb     bytes read from source / written to sink
  shuffle_write_mb         bytes written to shuffle files
  shuffle_read_mb          bytes fetched from shuffle files
  spill_mb                 memory+disk spill (HARD-FLAGGED if > 0)
  ratio_shuffle_over_input shuffle_write / input — the network-pressure
                           proxy; reported, and flagged above
                           RATIO_FLAG for queries with non-trivial
                           absolute shuffle volume

Flags:
  * spill:<query>  — any spill at sf0.1 is a mis-sized working set.
  * shuffle_ratio:<query> — shuffle_write > RATIO_FLAG x input AND
    shuffle_write > MIN_SHUFFLE_MB. Explode-heavy plans (n-gram pairs,
    posting lists) legitimately shuffle more than their compressed
    parquet input, so the threshold is generous; the point is to catch
    a plan that re-shuffles the full working set repeatedly.

Usage:
    python tools/shuffle_audit.py            # writes SHUFFLE.json
Exit code 1 when any query is flagged.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize
from tools.scaling import write_block
from tracy_matdb_spark.queries import load_all
from tracy_matdb_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
UI_PORT = int(os.environ.get("SPARK_GRAFT_UI_PORT", "4050"))
RATIO_FLAG = 10.0
MIN_SHUFFLE_MB = 64.0

# Both sweeps audit the FULL registry (round-9 extension — shuffle
# bytes are the best early warning for scale-killers, so sampling left
# blind spots): the sf0.1 run and the --sf1 second-decade compare call
# run() with names=None. The byte_scaling compare then pairs whatever
# queries both artifacts share.

_METRIC_FIELDS = {
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spilled": "memoryBytesSpilled",
    "disk_spilled": "diskBytesSpilled",
}


def _completed_stages(base_url: str, app_id: str) -> dict[tuple[int, int], dict]:
    url = f"{base_url}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as fh:
        stages = json.load(fh)
    return {(s["stageId"], s["attemptId"]): s for s in stages}


def _mb(n: float) -> float:
    return round(n / (1024.0 * 1024.0), 2)


def stage_row(new_stages: list[dict]) -> dict:
    """Aggregate a query's completed-stage metrics into the per-query row."""
    agg = {out: sum(s.get(api, 0) for s in new_stages) for out, api in _METRIC_FIELDS.items()}
    spill = agg["memory_spilled"] + agg["disk_spilled"]
    inp = agg["input_bytes"]
    sw = agg["shuffle_write_bytes"]
    return {
        "n_stages": len(new_stages),
        "input_mb": _mb(inp),
        "output_mb": _mb(agg["output_bytes"]),
        "shuffle_write_mb": _mb(sw),
        "shuffle_read_mb": _mb(agg["shuffle_read_bytes"]),
        "spill_mb": _mb(spill),
        "spill_bytes": int(spill),
        "ratio_shuffle_over_input": round(sw / inp, 2) if inp > 0 else None,
    }


def row_flags(name: str, row: dict) -> list[str]:
    out = []
    if row["spill_bytes"] > 0:
        out.append(f"spill:{name}")
    ratio = row["ratio_shuffle_over_input"]
    if ratio is not None and ratio > RATIO_FLAG and row["shuffle_write_mb"] > MIN_SHUFFLE_MB:
        out.append(f"shuffle_ratio:{name}")
    return out


def _drain_listener_bus(sc) -> None:
    """Block until the listener bus has delivered all queued events.
    The AppStatusStore the /stages REST endpoint reads is updated
    ASYNCHRONOUSLY by the listener bus — without a drain, stages from
    query N that complete just before the snapshot can land in the
    store just after it and get attributed to query N+1. Private JVM
    API via py4j (both overloads tried); falls back to a short sleep
    when unavailable so the audit still runs, just with the old
    best-effort attribution."""
    try:
        bus = sc._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty(30000)
        except Exception:  # noqa: BLE001 — overload varies by version
            bus.waitUntilEmpty()
    except Exception:  # noqa: BLE001
        import time

        time.sleep(0.5)


def run(
    out_path: str | None = None,
    sf_dir: str = SF_DIR,
    names: list[str] | None = None,
) -> dict:
    registry = load_all()
    if names is None:
        names = sorted(registry)  # full registry: no sampling blind spots

    spark = get_session(
        "shuffle_audit",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            # a full-registry sweep completes thousands of stages; the
            # default retention (1000) would silently evict early
            # queries' stages from the store and drop them from totals
            "spark.ui.retainedStages": "50000",
        },
    )
    sc = spark.sparkContext
    base_url = sc.uiWebUrl
    app_id = sc.applicationId

    rows: dict[str, dict] = {}
    flagged: list[str] = []
    _drain_listener_bus(sc)
    seen = _completed_stages(base_url, app_id)
    for name in sorted(names):
        fn = registry[name].fn
        try:
            materialize(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            rows[name] = {"error": str(e)[:200]}
            flagged.append(f"error:{name}")
            continue
        _drain_listener_bus(sc)
        now = _completed_stages(base_url, app_id)
        new = [s for k, s in now.items() if k not in seen]
        seen = now
        rows[name] = stage_row(new)
        flagged.extend(row_flags(name, rows[name]))
    spark.stop()

    totals = {
        "input_mb": round(sum(r.get("input_mb", 0.0) for r in rows.values()), 1),
        "shuffle_write_mb": round(
            sum(r.get("shuffle_write_mb", 0.0) for r in rows.values()), 1
        ),
        "spill_mb": round(sum(r.get("spill_mb", 0.0) for r in rows.values()), 1),
    }
    result = {
        "metric": "stage_bytes_per_query",
        "sf_dir": sf_dir,
        "n_queries": len(rows),
        "ratio_flag": RATIO_FLAG,
        "min_shuffle_mb": MIN_SHUFFLE_MB,
        "queries": rows,
        "totals": totals,
        "flagged": sorted(flagged),
    }
    if out_path:
        # merged into the root: the --sf1 byte-scaling block and any
        # future decade survive a rewrite of the sf0.1 sweep
        write_block(out_path, None, result)
    return result


def byte_scaling(small: dict, large: dict, data_ratio: float = 10.0, flag_at: float = 12.0) -> dict:
    """Per-query shuffle-byte growth between two audit runs (sf0.1 ->
    sf1). Shuffle BYTES are the hardware- and load-independent scaling
    signal: a wall-time ratio can be blurred by co-tenant noise, but a
    plan that shuffles 10x the bytes on 10x the data is linear by
    construction, and one that shuffles 40x is super-linear no matter
    how fast the box is. Flags ratio > flag_at for queries above
    MIN_SHUFFLE_MB on the large side (below that, constant overheads
    dominate and the ratio is denominator noise)."""
    rows: dict[str, dict] = {}
    flagged: list[str] = []
    for name, s in small["queries"].items():
        l = large["queries"].get(name)
        if l is None or "error" in s or "error" in l:
            continue
        sw_s, sw_l = s["shuffle_write_mb"], l["shuffle_write_mb"]
        ratio = round(sw_l / sw_s, 2) if sw_s > 0 else None
        flag = (
            ratio is not None and ratio > flag_at and sw_l >= MIN_SHUFFLE_MB
        )
        rows[name] = {
            "shuffle_write_mb_small": sw_s,
            "shuffle_write_mb_large": sw_l,
            "bytes_ratio": ratio,
            "spill_mb_large": l["spill_mb"],
            "flagged": flag,
        }
        if flag:
            flagged.append(f"bytes_ratio:{name}")
        if l.get("spill_bytes", 0) > 0:
            flagged.append(f"spill_large:{name}")
    return {
        "metric": "shuffle_bytes_ratio_sf0.1_to_sf1",
        "data_ratio": data_ratio,
        "flag_at": flag_at,
        "queries": rows,
        "flagged": sorted(flagged),
    }


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shuffle_path = os.path.join(repo, "SHUFFLE.json")
    if "--sf1" in sys.argv:
        # second decade, in BYTES: audit the same query set against the
        # derived sf1 dataset (tools/make_sf1.py) and record per-query
        # shuffle-byte growth next to the sf0.1 baseline already in
        # SHUFFLE.json. Queries erroring at sf1 are recorded and skipped
        # in the compare.
        with open(shuffle_path) as fh:
            small = json.load(fh)
        sf1_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR", os.path.join(repo, ".localdata", "sf1")
        )
        large = run(None, sf_dir=sf1_dir)
        cmp = byte_scaling(small, large)
        write_block(shuffle_path, "sf1_bytes", cmp)
        worst = sorted(
            ((n, r["bytes_ratio"]) for n, r in cmp["queries"].items()
             if r["bytes_ratio"] is not None),
            key=lambda t: -t[1],
        )[:5]
        print(
            json.dumps(
                {
                    "metric": cmp["metric"],
                    "n_compared": len(cmp["queries"]),
                    "worst_bytes_ratios": dict(worst),
                    "flagged": cmp["flagged"],
                }
            )
        )
        sys.exit(1 if cmp["flagged"] else 0)
    out = run(shuffle_path)
    top = sorted(
        ((n, r.get("shuffle_write_mb", 0.0)) for n, r in out["queries"].items()),
        key=lambda t: -t[1],
    )[:5]
    print(
        json.dumps(
            {
                "metric": out["metric"],
                "total_shuffle_write_mb": out["totals"]["shuffle_write_mb"],
                "total_spill_mb": out["totals"]["spill_mb"],
                "top_shufflers": dict(top),
                "flagged": out["flagged"],
            }
        )
    )
    sys.exit(1 if out["flagged"] else 0)


if __name__ == "__main__":
    main()
