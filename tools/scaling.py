"""Scaling runner: every SCALING.json decade, measured through one path.

A query can be hash-green at one scale factor while its plan is
super-linear in data size. The round-4 simhash bug is the canonical
example: 16-bit signatures banded into 4-bit buckets degenerated to
all-pairs *within* 16 buckets, which a correctness check can never show
and a single-sf bench under-weights. So each decade times a query set
warm at two data sizes 10x apart and flags ratios far above the data
ratio.

`DECADES` holds one data-only row per SCALING.json block: its two
directories and their `sec_<label>` names, its query and typed-state
lists, which extras run, its flag threshold and the metadata its block
records. Everything else runs once, here: the warm timing, ratio and
flag, typed-state rows, pagerank telemetry, the streaming-ingest row,
the `--only` subset merge and the atomic block write.

Usage:
    python tools/scaling.py <decade>                  # measure, write the block
    python tools/scaling.py <decade> --only a,b,...   # re-measure rows, merge them
    python tools/scaling.py sweep [sf_dir]            # every query once at sf10

Decades: sf0.1 (sf0.01 -> sf0.1, merged into the artifact's root),
sf1, sf10_documents, sf10_full, sf100_documents, sf100_probe. The
derived datasets come from tools/make_sf1.py (gitignored, .localdata/);
each row names the command that builds its pair. Run the sf10 and sf100
decades with SPARK_GRAFT_DRIVER_MEM=24g: the 45M-shingle sf10 working
set needs the cluster-profile heap (cluster_conf ships 48g executors);
the 8g local default is the single-JVM ceiling, not a plan property.

`--only` names must come from the chosen decade's own lists (plus
`streaming_incremental_dedup` / `pagerank_telemetry` where the decade
runs them), and the decade's block must already exist: a subset run
never fabricates a block that reads as a complete baseline.

Exit code 1 when the written block has a flagged row.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize, streaming_ingest_bench  # noqa: E402
from tools.make_sf1 import SRC as SF01_DIR  # noqa: E402
from tracy_matdb_spark.queries import load_all  # noqa: E402
from tracy_matdb_spark.session import get_session  # noqa: E402

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALING_PATH = os.path.join(_ROOT, "SCALING.json")
LOCAL = os.path.join(_ROOT, ".localdata")
SF001_DIR = os.path.join(os.path.dirname(SF01_DIR), "sf0.01")
DATA_RATIO = 10.0
STREAM = "streaming_incremental_dedup"
TELEMETRY = "pagerank_telemetry"


@dataclass(frozen=True)
class Decade:
    name: str
    key: str | None  # SCALING.json top-level key; None merges into the root
    small: tuple[str, str]  # (label, directory); rows record sec_<label>
    large: tuple[str, str]
    metric: str
    queries: tuple[str, ...]
    # typed-state (transformWithStateInPandas) queries: their rows carry
    # the state-row count the stream's final progress recorded at each
    # size, so "state scales with keys / near-dup structure, not stream
    # length" is a measured fact
    tws: tuple[str, ...] = ()
    # also time every registry headline query, and sweep in name order
    headline: bool = False
    skew_stress: bool = False
    pagerank_telemetry: bool = False
    streaming_ingest: bool = False
    ratio_threshold: float = 12.0
    # below this large-side time a query is reported, never flagged
    min_large_sec: float = 0.0
    dataset: str | None = None
    # run metadata the block records, from the keys `_header` knows
    header: tuple[str, ...] = ("dataset", "driver_mem", "load1_start")
    io_codec: str | None = None  # SPARK_GRAFT_IO_CODEC default for the run
    tables: tuple[str, ...] = ()  # parquet tables both directories must hold
    prepare: str = ""  # the command that builds them


# The text family's third and fourth decades (documents-only datasets).
# The LSH-verify family joined after `sweep` caught its plan-time
# broadcast of the 3.7 GiB shingle table (now gated, see queries/llm.py
# LSH_VERIFY_BCAST_MAX_DOCS).
TEXT_QUERIES = (
    "exact_substring_spans",
    "corpus_e2e_rollup",
    "ngram_jaccard_pairs",
    "dedup_keep_best",
    # the other two near-dup pipelines (banded simhash self-join; minhash
    # band LSH), both behind gated_local_checkpoint, so the decades
    # measure the recompute-above-gate path where it fires
    "simhash_near_dup",
    "minhash_lsh_pairs",
    # drift & monitoring: the KS grid is |distinct n_chars| x |sources|
    # and must stay flat as docs grow; chi2's cell table tracks vocab
    # (which the token-suffixed copies multiply); novelty's shingle agg
    # tracks the corpus
    "ks_source_drift",
    "psi_source_drift",
    "chi2_term_source",
    "ngram_novelty_curve",
)

DECADES = {
    d.name: d
    for d in (
        # Threshold: the sf0.01 -> sf0.1 data ratio is 10x. A healthy
        # shuffle/agg plan on local[32] lands well under that (fixed
        # per-query overhead dominates the small sf). Flag above 25x
        # (2.5x super-linear headroom). Calibration against the one known
        # bad plan: the pre-28a1628 simhash ran 9.4 s at sf0.1; at sf0.01
        # the 500-doc corpus fits in 16 buckets of ~30 docs (~0.2 s) —
        # ratio ~45x, well above 25. The banded plan measures ~2-4x.
        # Queries faster than 0.30 s at sf0.1 are never flagged: at that
        # absolute cost they cannot be a scale hazard yet, and tiny
        # denominators make the ratio pure noise.
        # Query set: every headline query plus the candidate-pair-
        # generating operators (LSH bucket joins, n-gram overlap joins,
        # pair explosions) whose topology is exactly the class that can
        # degenerate the way simhash did.
        Decade(
            name="sf0.1",
            key=None,
            small=("sf0.01", SF001_DIR),
            large=("sf0.1", SF01_DIR),
            metric="scaling_ratio_sf0.01_to_sf0.1",
            headline=True,
            queries=(
                "simhash_near_dup",
                "ngram_jaccard_pairs",
                "embedding_lsh_near_dup",
                "knn_ivf_embeddings",
                "near_dup_clusters",
                "doc_fingerprint",
                "decontam_ngram_overlap",
                "source_vocab_overlap",
                "basket_part_pairs",
                "incremental_dedup_ingest",
                "semantic_dedup",  # K-centroid assignment + W-neighbor window pairs
                "bloom_dedup_filter",  # bitset build + broadcast probe join
                "bigram_perplexity",  # model join back to doc bigrams
                "basket_pair_pmi",  # bounded basket self-join + marginals
                "countmin_heavy_hitters",  # sketch shuffle bounded at d*w keys
                "median_mad_outliers",  # two range-sliced selection passes
                "unigram_sampling_table",  # range-sliced prefix sum over the vocab
                "triangle_part_graph",  # pair agg + wedge join (degree-oriented)
                "dedup_keep_best",  # LSH pairs -> components -> argmax retention
                "shard_token_budget",  # global range-sliced rank under the sharder
                "universe_sample_join",  # sampled + exact join branches
                "entity_resolution_pairs",  # blocking join: the block-skew hazard class
                "scd2_user_state",  # keyed change-history windows (per-user islands)
                "bpe_train_merges",  # iterative CTE chain — cost must track vocab, not corpus
                "events_typemap_tws",  # typed-state protocol round-trips per key
                "dsir_importance_weights",  # gram explode + 512-bucket agg + broadcast
                "jl_projection_distortion",  # zero-join nested-lambda sketch pass
                "streaming_minhash_dedup_tws",  # per-bucket typed state across 3 resumed runs
                "knn_batch_embeddings",  # Q-query batch scan + two-phase sharded top-k
                "maxsim_batch_late_interaction",  # batched late-interaction agg chain
                "hard_negative_mining",  # label-filtered batch mining pass
                "temperature_sampling_weights",  # corpus rollup + ppm normalize
                "ks_source_drift",  # dense source x value grid + range-sliced CDFs
                "psi_source_drift",  # binned drift: keyed agg + bin-grid explode
                "chi2_term_source",  # vocab x source cells + range-sliced top-k
                "ngram_novelty_curve",  # shingle explode + first-occurrence agg
                "events_type_psi_stream",  # watermarked stream agg + PSI readout
            ),
            skew_stress=True,
            ratio_threshold=25.0,
            min_large_sec=0.30,
            header=("ratio_threshold", "min_large_sec"),
        ),
        # Second decade: the three worst small-decade ratios
        # (entity_resolution_pairs, minhash_lsh_pairs, pagerank_bipartite),
        # then one headline query per plan family — scan-agg, dim-join,
        # window, text-pipeline, windowed-hash, exact-dedup, brute-force
        # kNN and the batch serving shapes. sf1 is 10x key-shifted
        # replication of the sf0.1 tables whose copy 0 is byte-identical to
        # it, so t(sf1)/t(sf0.1) is an honest 10x-data ratio. Both sides
        # are past the fixed-overhead floor here, so linear is ~10x and
        # the flag sits at 12 (10x data + noise headroom) for this and
        # every later decade.
        Decade(
            name="sf1",
            key="sf1",
            small=("sf0.1", SF01_DIR),
            large=("sf1", os.path.join(LOCAL, "sf1")),
            metric="scaling_ratio_sf0.1_to_sf1",
            queries=(
                "entity_resolution_pairs",
                "minhash_lsh_pairs",
                "pagerank_bipartite",
                "q1_pricing_summary",
                "q5_local_supplier_volume",
                "orders_rolling_7d_revenue",
                "events_tumbling_1h",
                "corpus_e2e_rollup",
                "corpus_export_manifest",
                "exact_substring_spans",
                "dedup_exact",
                "knn_embeddings",
                "knn_pq_embeddings",
                "maxsim_late_interaction",
                "knn_batch_embeddings",
                "maxsim_batch_late_interaction",
                "hybrid_rrf_batch",
            ),
            streaming_ingest=True,
            dataset="tools/make_sf1.py 10x key-shifted replication of driver sf0.1",
            header=("dataset",),
            tables=("lineitem",),
            prepare="tools/make_sf1.py",
        ),
        # Third decade for the text family on a documents-only dataset:
        # 100 vs 10 fixed-width token-suffixed copies of the sf0.1
        # documents from one generator, per-copy byte-identical text on
        # both sides, so the ratio is a pure 10x-rows effect — at the
        # decade where the corpus stops being entirely page-cached.
        Decade(
            name="sf10_documents",
            key="sf10_documents",
            small=("sf1d", os.path.join(LOCAL, "sf1d")),
            large=("sf10", os.path.join(LOCAL, "sf10")),
            metric="scaling_ratio_sf1_to_sf10_documents",
            queries=TEXT_QUERIES,
            dataset="tools/make_sf1.py --sf10-documents (100 vs 10 fixed-width "
            "token-suffixed copies of driver sf0.1 documents)",
            tables=("documents",),
            prepare="tools/make_sf1.py --sf10-documents",
        ),
        # Third decade for the join/events/ANN families over the FULL star
        # schema: sf1 (10 copies) vs sf10 (100 copies) from one key-shift
        # generator — 10x rows on every table at once, the regime where a
        # join-side broadcast or a skewed shuffle actually breaks.
        Decade(
            name="sf10_full",
            key="sf10_full",
            small=("sf1", os.path.join(LOCAL, "sf1")),
            large=("sf10", os.path.join(LOCAL, "sf10")),
            metric="scaling_ratio_sf1_to_sf10_full_schema",
            queries=(
                "q5_local_supplier_volume",  # multi-dim broadcast join chain
                "q18_large_volume_customers",  # large-agg semi join
                "q21_sole_returning_supplier",  # multi-self-join on lineitem
                "entity_resolution_pairs",  # blocking join (block-skew hazard)
                "events_salted_type_join",  # salted hot-key join
                "events_session_10m",  # session windowing over 10M events
                "knn_pq_embeddings",  # ADC scan at 200k vectors (PQ at corpus scale)
                "knn_batch_embeddings",  # batched brute-force corpus pass
                "pagerank_bipartite",  # iterative fixed-point over the 15M-order graph
                "triangle_part_graph",  # wedge-join graph analytics at 60M lineitem
                # the widened-LSH gate fires for real here (200k vectors ->
                # extra band bits): tracked as a ratio, not a one-off note
                "embedding_lsh_near_dup",
            ),
            tws=(
                "streaming_minhash_dedup_tws",  # per-bucket ValueState across 3 resumed runs
                "events_stateful_totals_tws",  # per-user typed state over 10M events
                # the watermarked tumbling agg: the events time axis is
                # fixed across decades, so state rows should stay FLAT
                # while rows grow 10x
                "events_type_psi_stream",
            ),
            # decomposes the pagerank ratio into build vs per-iteration vs
            # tail, and records whether PR_BCAST_MAX_NODES flipped
            pagerank_telemetry=True,
            streaming_ingest=True,  # the streaming family's third decade (10M events)
            dataset="tools/make_sf1.py vs --sf10-full (10 vs 100 key-shifted "
            "copies of driver sf0.1, every table)",
            tables=("lineitem",),
            prepare="tools/make_sf1.py and tools/make_sf1.py --sf10-full",
        ),
        # Fourth decade for the text family: 500k vs 5M documents (100 vs
        # 1000 width-3 token-suffixed copies), where the working set
        # (~2.5 GB text, ~450M shingles for the n-gram family) decisively
        # exceeds any single-executor memory slice, so a quadratic
        # candidate set or an ungated broadcast fails hard instead of
        # hiding in page cache.
        Decade(
            name="sf100_documents",
            key="sf100_documents",
            small=("sf10w3", os.path.join(LOCAL, "sf10dw3")),
            large=("sf100", os.path.join(LOCAL, "sf100d")),
            metric="scaling_ratio_sf10_to_sf100_documents",
            queries=TEXT_QUERIES,
            dataset="tools/make_sf1.py --sf100-documents (1000 vs 100 width-3 "
            "token-suffixed copies of driver sf0.1 documents)",
            tables=("documents",),
            prepare="tools/make_sf1.py --sf100-documents",
        ),
        # Fourth decade for the worst sf10_full ratios (knn_pq_embeddings,
        # pagerank_bipartite, events_stateful_totals_tws) plus one row each
        # for the scan-agg, two-phase-global-rank and watermarked
        # windowed-agg families, on the tables-only sf100 dataset
        # (lineitem 600M / orders 150M / events 100M / embeddings 2M).
        # Either the fixed-cost-dilution story holds at 10x more data or
        # something in the gated-checkpoint / broadcast-gate class breaks.
        # Every table a probe touches is required: a pre-r14 sf100p dir
        # (no orders/customer/supplier) must fail before the session, not
        # hand pagerank's broadcast gate a stats-failure sentinel.
        Decade(
            name="sf100_probe",
            key="sf100_probe",
            small=("sf10", os.path.join(LOCAL, "sf10")),
            large=("sf100", os.path.join(LOCAL, "sf100p")),
            metric="scaling_ratio_sf10_to_sf100_probe",
            queries=(
                "knn_pq_embeddings",
                "pagerank_bipartite",
                "q1_pricing_summary",
                "customer_order_running_total",
                "events_tumbling_1h",
            ),
            tws=("events_stateful_totals_tws",),
            pagerank_telemetry=True,
            dataset="tools/make_sf1.py --sf10-full vs --sf100-probe (100 vs "
            "1000 key-shifted copies; probe tables only)",
            header=("dataset", "driver_mem", "io_codec", "load1_start"),
            # disk is the probe's scarce resource: zstd halves shuffle and
            # spill bytes (three warm 600M-row runs filled the disk under
            # lz4). Absolute seconds are therefore NOT comparable to the
            # lz4-measured sf10_full rows — the controlled A/B
            # (SCALING.json: io_codec_ab) puts zstd at 1.52x lz4 wall-time
            # on the shuffle-bound pagerank — while the ratio stays
            # codec-consistent.
            io_codec="zstd",
            tables=("lineitem", "orders", "customer", "supplier", "events", "embeddings"),
            prepare="tools/make_sf1.py --sf10-full and tools/make_sf1.py --sf100-probe",
        ),
    )
}


def _warm_time(make_df) -> float:
    """Best-of-2 warm seconds of materializing `make_df()`: one warmup
    (JVM/codegen, parquet footers), then the min of two timed runs — a
    single GC pause or session-state hiccup mid-sweep otherwise lands as
    a bogus 5-10x outlier (observed: one query recorded 13.3 s whose
    isolated warm time is 2.5 s). The DataFrame build is inside the
    timed section."""
    materialize(make_df())
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        materialize(make_df())
        best = min(best, time.time() - t0)
    return best


def _load1() -> float:
    """1-min load average, recorded per block so a noisy-box artifact is
    distinguishable from a quiet one without a rerun."""
    try:
        return round(os.getloadavg()[0], 2)
    except Exception:  # noqa: BLE001
        return -1.0


def _row(d: Decade, t_small: float, t_large: float) -> dict:
    ratio = round(t_large / max(t_small, 1e-9), 2)
    return {
        f"sec_{d.small[0]}": round(t_small, 3),
        f"sec_{d.large[0]}": round(t_large, 3),
        "ratio": ratio,
        "flagged": ratio > d.ratio_threshold and t_large >= d.min_large_sec,
    }


def _add_state_rows(d: Decade, row: dict, small: int, large: int) -> dict:
    """Typed-state columns of a row. The ratio is -1.0 when the small
    side occupied no state rows (there is nothing to divide by)."""
    row[f"state_rows_{d.small[0]}"] = small
    row[f"state_rows_{d.large[0]}"] = large
    row["state_rows_ratio"] = round(large / small, 2) if small > 0 else -1.0
    return row


def _state_rows(name: str, label: str) -> int:
    """State rows the query's last stream progress recorded under its
    registry name (streaming/windows.LAST_STREAM_PROGRESS)."""
    from tracy_matdb_spark.streaming import windows

    rows = windows.LAST_STREAM_PROGRESS.get(name, {}).get("state_rows_total", -1)
    if rows < 0:
        # the point of these rows is MEASURED state growth; a missing or
        # negative reading means the query stopped recording progress
        # under its registry name — publishing -1 would silently void
        # the measurement
        raise SystemExit(
            f"scaling: {name} recorded no state-row telemetry under its "
            f"registry name at {label} (LAST_STREAM_PROGRESS key missing or "
            "negative); refusing to publish a -1 state_rows row"
        )
    return rows


def _header(d: Decade, load1: float) -> dict:
    known = {
        "dataset": d.dataset,
        "ratio_threshold": d.ratio_threshold,
        "min_large_sec": d.min_large_sec,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "io_codec": os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        "load1_start": load1,
    }
    return {"metric": d.metric, "data_ratio": DATA_RATIO} | {k: known[k] for k in d.header}


def _merge_subset(prior: dict, result: dict, load1: float) -> dict:
    """Merge a --only subset run's `result` into the `prior` committed
    block: re-measured rows replace their prior rows, rows and keys the
    subset did not touch survive, a prior flag clears only if its query
    was re-measured clean, and the full run's load1 is preserved with
    the subset run's load1 appended to an audit list."""
    rows = result["queries"]
    merged_q = dict(prior.get("queries", {}))
    merged_q.update(rows)
    result = {**prior, **result, "queries": merged_q}
    if not result.get("pagerank_telemetry") and "pagerank_telemetry" in prior:
        result["pagerank_telemetry"] = prior["pagerank_telemetry"]
    result["flagged"] = sorted(
        set(prior.get("flagged", [])) - set(rows) | set(result.get("flagged", []))
    )
    if "load1_start" in prior:
        result["load1_start"] = prior["load1_start"]
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


def read_artifact(path: str) -> dict:
    """The JSON artifact at `path`; absent or corrupt reads as empty."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def write_block(path: str, key: str | None, block: dict) -> None:
    """Replace top-level `key` of the JSON artifact at `path` with
    `block` (or merge `block` into the root when `key` is None); every
    other top-level key survives. The text is serialized before any file
    is touched and published with a temp file plus `os.replace`, so a
    value that fails to serialize, or a crash mid-write, leaves the
    committed artifact — which holds every decade — byte-identical."""
    full = read_artifact(path)
    if key is None:
        full.update(block)
    else:
        full[key] = block
    text = json.dumps(full, indent=2, sort_keys=True) + "\n"
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def selection(d: Decade, registry: dict, only: list[str] | None = None):
    """(queries, tws, extras) a run of `d` measures. Raises SystemExit
    for a listed query the registry lacks or an --only name outside the
    decade's own lists: a wrong name must not silently add a row, and a
    typed-state name is never timed without its state rows."""
    queries = list(d.queries)
    if d.headline:
        queries = sorted({n for n, q in registry.items() if q.headline} | set(queries))
    unregistered = [n for n in queries + list(d.tws) if n not in registry]
    if unregistered:
        raise SystemExit(f"scaling {d.name}: unregistered queries {unregistered}")
    extras = [STREAM] * d.streaming_ingest + [TELEMETRY] * d.pagerank_telemetry
    if only is None:
        return queries, list(d.tws), set(extras + ["skew_stress"] * d.skew_stress)
    valid = queries + list(d.tws) + extras
    unknown = sorted(set(only) - set(valid))
    if unknown:
        # a misspelled name must not become a silent no-op that still
        # rewrites the artifact as if a re-measure happened
        raise SystemExit(
            f"scaling {d.name}: unknown --only name(s) {unknown}; valid: {valid}"
        )
    return (
        [n for n in queries if n in only],
        [n for n in d.tws if n in only],
        set(extras) & set(only),
    )


def measure(
    spark, d: Decade, queries: list[str], tws: list[str], extras: set, load1: float
) -> dict:
    """Time `queries` and `tws` warm at both sizes, run the selected
    extras, and return the decade's block. A query that raises gets an
    `error` row and is flagged; the sweep goes on."""
    registry = load_all()
    rows: dict[str, dict] = {}
    block = _header(d, load1)
    for name in queries + tws:
        fn = registry[name].fn
        try:
            secs, states = [], []
            for label, sf_dir in (d.small, d.large):
                secs.append(_warm_time(lambda: fn(spark, sf_dir)))  # noqa: B023
                if name in tws:
                    states.append(_state_rows(name, label))
            rows[name] = _row(d, *secs)
            if name in tws:
                _add_state_rows(d, rows[name], *states)
        except Exception as e:  # noqa: BLE001
            rows[name] = {"error": str(e)[:200]}
        print(f"{name}: {rows[name]}", flush=True)

    if TELEMETRY in extras:
        from tracy_matdb_spark.queries.webscale import pagerank_iteration_telemetry

        tel = block["pagerank_telemetry"] = {}
        for label, sf_dir in (d.small, d.large):
            pagerank_iteration_telemetry(spark, sf_dir)  # warmup
            tel[label] = pagerank_iteration_telemetry(spark, sf_dir)
            print(f"pagerank_telemetry[{label}]: {tel[label]}", flush=True)

    if STREAM in extras:
        # the streaming ingest builds its own availableNow drop fixture
        # from the documents table, so it runs outside the registry, under
        # the same warm best-of-2 on the seconds its runs report
        def stream_sec(sf_dir: str) -> float:
            streaming_ingest_bench(spark, sf_dir)  # warmup
            return min(streaming_ingest_bench(spark, sf_dir)["sec"] for _ in range(2))

        rows[STREAM] = _row(d, stream_sec(d.small[1]), stream_sec(d.large[1]))
        print(f"{STREAM}: {rows[STREAM]}", flush=True)

    # an error row has no `flagged` field and counts as flagged
    flagged = [name for name, row in rows.items() if row.get("flagged", True)]
    block["queries"] = rows
    if "skew_stress" in extras:
        block["skew_stress"] = skew_stress(spark)
        flagged.extend(block["skew_stress"].pop("flagged"))
    block["flagged"] = sorted(flagged)
    return block


def run(d: Decade, only: list[str] | None = None, path: str = SCALING_PATH, spark=None) -> dict:
    """Measure decade `d` (all rows, or the `only` subset merged into
    the existing block) and write its block to `path`. Everything that
    can refuse the run does so before a session starts. A caller-owned
    `spark` is used and left running."""
    queries, tws, extras = selection(d, load_all(), only)
    prior = None
    if only is not None:
        full = read_artifact(path)
        prior = full if d.key is None else full.get(d.key)
        if not isinstance(prior, dict) or "queries" not in prior:
            raise SystemExit(
                f"scaling {d.name}: {path} has no block to merge --only rows "
                f"into; run the decade without --only first"
            )
    for _, sf_dir in (d.small, d.large):
        missing = [t for t in d.tables if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
        if missing:
            raise SystemExit(
                f"scaling {d.name}: {missing} missing from {sf_dir}; run {d.prepare} first"
            )
    if d.io_codec:
        # set here, never at module scope, so importers and refused runs
        # don't inherit the codec; it binds into every later get_session
        os.environ.setdefault("SPARK_GRAFT_IO_CODEC", d.io_codec)
    load1 = _load1()
    own = spark is None
    spark = spark or get_session(f"scaling_{d.name}")
    try:
        block = measure(spark, d, queries, tws, extras, load1)
    finally:
        if own:
            spark.stop()
    if prior is not None:
        block = _merge_subset(prior, block, load1)
    write_block(path, d.key, block)
    return block


# ---------------------------------------------------------------------------
# Skew-join / skew-agg stress (sf0.1 decade)
# ---------------------------------------------------------------------------

SKEW_N = 12_000_000  # fact rows; one hot key holds 30%
SKEW_DIM = 100_002  # dim keys — far over any broadcast threshold with payload
SKEW_SALTS = 32


def skew_stress(spark) -> dict:
    """Time operators/skew.py's salted paths against the naive plans on
    a synthetic hot-key workload: 12M fact rows, ONE key holding 30%
    (the regime AQE only partially rescues). Two stresses:

    * join: fact x 100k-key dim, broadcast disabled, AQE skew-join ON
      (the honest baseline — AQE splits oversized partitions but the
      hot key's hash bucket still serializes); salted_join spreads the
      hot key over SKEW_SALTS tasks at the cost of dim replication.
    * agg: per-key distinct count with wide collect_set state; the
      salted form shards state by hash(value) — shards are DISJOINT in
      the collected column, so the stage-2 merge is a plain SUM of
      per-shard sizes, never a re-flatten.

    Each salted variant must beat its naive twin (ratio < 1.0, small
    tolerance); a slower salted path lands in `flagged`.
    """
    from pyspark.sql import functions as F

    from tracy_matdb_spark.operators.skew import salted_agg, salted_join

    fact = (
        spark.range(SKEW_N)
        .selectExpr(
            "CASE WHEN id % 10 < 3 THEN 1 "
            f"ELSE (xxhash64(id) % {SKEW_DIM - 2} + {SKEW_DIM - 2}) % {SKEW_DIM - 2} + 2 END AS k",
            "id AS v",
        )
        .localCheckpoint()
    )
    dim = (
        spark.range(SKEW_DIM)
        .selectExpr("id AS k", "concat('d', id) AS label")
        .localCheckpoint()
    )

    def naive_agg():
        return fact.groupBy("k").agg(F.size(F.collect_set("v")).alias("nd"))

    def salt_agg():
        return salted_agg(
            fact,
            ["k"],
            "v",
            [F.size(F.collect_set("v")).alias("nd_part")],
            lambda s: [F.sum("nd_part").cast("int").alias("nd")],
            n_salts=SKEW_SALTS,
        )

    def naive_join():
        return fact.join(dim, "k").groupBy().agg(
            F.count("*").alias("n"), F.max("label").alias("m")
        )

    def salt_join():
        return salted_join(fact, dim, "k", "v", n_salts=SKEW_SALTS).groupBy().agg(
            F.count("*").alias("n"), F.max("label").alias("m")
        )

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    out: dict = {
        "fact_rows": SKEW_N,
        "hot_key_fraction": 0.3,
        "n_salts": SKEW_SALTS,
        "aqe_skew_join": spark.conf.get("spark.sql.adaptive.skewJoin.enabled"),
    }
    try:
        agg_naive_s = round(_warm_time(naive_agg), 3)
        agg_salted_s = round(_warm_time(salt_agg), 3)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        join_naive_s = round(_warm_time(naive_join), 3)
        join_salted_s = round(_warm_time(salt_join), 3)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    out["agg"] = {
        "naive_s": agg_naive_s,
        "salted_s": agg_salted_s,
        "ratio_salted_over_naive": round(agg_salted_s / agg_naive_s, 2),
    }
    out["join"] = {
        "naive_s": join_naive_s,
        "salted_s": join_salted_s,
        "ratio_salted_over_naive": round(join_salted_s / join_naive_s, 2),
    }
    # 1.05: the salted path must at least match the naive one; co-tenant
    # jitter of a few percent is not a regression signal
    out["flagged"] = [
        f"skew_{kind}_salted_slower"
        for kind in ("agg", "join")
        if out[kind]["ratio_salted_over_naive"] > 1.05
    ]
    return out


def sweep(sf_dir: str) -> None:
    """Run EVERY registered query once at `sf_dir` and record which run
    clean, how long they take and which fail. Queries needing tables the
    directory lacks fail fast on the missing parquet and are counted as
    skipped (not a hazard; the sf10 documents set is documents-only by
    design). A failure mentioning broadcast/memory is the hazard class
    this hunts: on its first use it caught exact_substring_spans'
    dup-hash join relying on AQE's broadcast decision and exhausting
    driver memory at 100x sf0.1. Prints one JSON line (per-query progress
    on stderr) and writes no artifact; findings graduate into fixes and
    decade rows. Exits 1 when any query failed."""
    registry = load_all()
    spark = get_session("scaling_sweep")
    ran: dict[str, float] = {}
    skipped: list[str] = []
    failed: dict[str, str] = {}
    for name in sorted(registry):
        t0 = time.time()
        try:
            materialize(registry[name].fn(spark, sf_dir))
            ran[name] = round(time.time() - t0, 2)
            print(f"ok    {name}: {ran[name]}s", file=sys.stderr, flush=True)
        except Exception as e:  # noqa: BLE001
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                skipped.append(name)  # needs a table the directory doesn't ship
            else:
                failed[name] = msg[:300]
                print(f"FAIL  {name}: {msg[:160]}", file=sys.stderr, flush=True)
    spark.stop()
    slow = dict(sorted(ran.items(), key=lambda t: -t[1])[:10])
    print(
        json.dumps(
            {
                "metric": "sf10_documents_stress",
                "sf_dir": sf_dir,
                "n_ran": len(ran),
                "n_skipped_missing_tables": len(skipped),
                "failed": failed,
                "slowest": slow,
            }
        )
    )
    sys.exit(1 if failed else 0)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("decade", choices=[*DECADES, "sweep"])
    p.add_argument("sf_dir", nargs="?", help="sweep only (default .localdata/sf10)")
    p.add_argument("--only", type=lambda s: s.split(","), help="comma-separated row names")
    args = p.parse_args(sys.argv[1:] if argv is None else argv)
    if args.decade == "sweep":
        if args.only is not None:
            p.error("--only applies to a decade, not sweep")
        sweep(args.sf_dir or os.path.join(LOCAL, "sf10"))
    if args.sf_dir is not None:
        p.error("a directory applies to sweep only")
    block = run(DECADES[args.decade], args.only)
    line = {"decade": args.decade, "n_queries": len(block["queries"]), "flagged": block["flagged"]}
    if args.only is not None:
        line["refreshed"] = args.only
    print(json.dumps(line))
    sys.exit(1 if block["flagged"] else 0)


if __name__ == "__main__":
    main()
