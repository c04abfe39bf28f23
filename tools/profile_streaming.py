"""Attribute streaming_incremental_dedup's per-batch wall time.

The headline streaming bench (bench.py streaming_ingest_bench) times 4
availableNow micro-batch runs end to end. This tool re-runs the same
staged-drop protocol (bench.stage_drops) through the engine's own
`incremental_ingest`, and splits each run into:

  start_s     — incremental_ingest returning (driver-side stream setup)
  upsert_s    — wall time INSIDE the foreachBatch callback (the actual
                anti-join + dropDuplicates + parquet append): the
                `addBatch` phase of each micro-batch's
                StreamingQueryProgress
  await_s     — awaitTermination() wall time
  machinery_s — await_s minus upsert_s: micro-batch machinery (source
                listing, offset/commit log, batch planning, stream
                teardown)

Usage: python tools/profile_streaming.py <sf_dir> [reps]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

from bench import stage_drops  # noqa: E402


def run_once(spark, sf_dir: str) -> dict:
    from tracy_matdb_spark.catalog import _relation
    from tracy_matdb_spark.streaming.ingest import incremental_ingest

    docs = _relation(spark, os.path.join(sf_dir, "documents.parquet"))
    n_batches = 4
    base = tempfile.mkdtemp(prefix="stream_profile_")
    out: dict = {"batches": []}
    try:
        stage = os.path.join(base, "stage")
        drop = os.path.join(base, "drop")
        target = os.path.join(base, "target")
        ckpt = os.path.join(base, "ckpt")
        os.makedirs(drop, exist_ok=True)
        stage_drops(docs, stage, n_batches)
        t_all = time.time()
        for i in range(n_batches):
            shutil.move(os.path.join(stage, f"b{i}"), os.path.join(drop, f"b{i}"))
            t0 = time.time()
            q = incremental_ingest(
                spark, drop, target, docs.schema, key="doc_id", checkpoint_dir=ckpt
            )
            t1 = time.time()
            q.awaitTermination()
            t2 = time.time()
            upserts = [
                p["durationMs"]["addBatch"] / 1000.0
                for p in q.recentProgress
                if "addBatch" in p.get("durationMs", {})
            ]
            out["batches"].append(
                {
                    "start_s": round(t1 - t0, 3),
                    "await_s": round(t2 - t1, 3),
                    "upsert_s": round(sum(upserts), 3),
                    "machinery_s": round(t2 - t1 - sum(upserts), 3),
                    "n_callbacks": len(upserts),
                    "total_s": round(t2 - t0, 3),
                }
            )
        out["total_s"] = round(time.time() - t_all, 3)
        out["rows_ingested"] = spark.read.parquet(target).count()
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    from tracy_matdb_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_session("profile_streaming")
    run_once(spark, sf_dir)  # warmup
    for r in range(reps):
        res = run_once(spark, sf_dir)
        print(f"rep {r}: total={res['total_s']} rows={res['rows_ingested']}")
        for i, b in enumerate(res["batches"]):
            print(
                f"  batch {i}: start={b['start_s']:.3f} upsert={b['upsert_s']:.3f} "
                f"machinery={b['machinery_s']:.3f} total={b['total_s']:.3f} "
                f"callbacks={b['n_callbacks']}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
