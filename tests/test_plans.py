"""Physical-plan quality gates: pushdown, broadcast, no Python in hot path.

These tests pin the *plan shape*, not just results — the properties that
keep the same code fast at 1000x the data.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tracy_matdb_spark.plans.window_audit import window_findings
from tracy_matdb_spark.queries import load_all

REGISTRY = load_all()


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused columns like l_comment-ish
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_pq_query_vector_fetch_pushes_filter_to_scan(spark):
    """knn_pq's driver-side query-vector fetch (llm.py _pq_driver_index)
    collects ONE row via filter(vec_id == 0); at 100 TB that single-row
    fetch must be a parquet-pushed point predicate, not a full corpus
    scan feeding a driver filter (r14 verdict #3/#6)."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.catalog import load

    emb = load(spark, SF_SMOKE, ("embeddings",))["embeddings"]
    df = emb.filter(F.col("vec_id") == 0).select("embedding")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "EqualTo(vec_id,0)" in plan.split("PushedFilters")[1].split("\n")[0]


def test_q1_partial_aggregation(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_q3_broadcasts_dimension(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dims(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 2


def test_knn_uses_topk_not_full_sort(spark):
    plan = _plan(spark, "knn_embeddings")
    assert "TakeOrderedAndProject" in plan


def test_generators_have_no_python_eval(spark):
    for name in ("distortion_generate", "substitution_generate", "text_quality", "doc_fingerprint"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


# Bounded-literal fan-outs where a broadcast nested-loop is the *intended*
# physical op. Membership is NOT enough (round-9 verdict #8: the list kept
# growing with no size bound, so it could quietly admit an unbounded
# side): every entry maps to a BOUND-EVIDENCE regex that must match the
# build-side subtree of EVERY BroadcastNestedLoopJoin the query plans —
# the query's own plan constant (a 1-row key-equality filter, a <=K
# centroid range, a keys=[] scalar aggregate, a literal local table)
# proving the broadcast side is O(1) in the data size. The patterns
# interpolate the queries' module constants (BATCH_NQ, IVF_K, KM_K) so a
# constant bump is tracked, and an entry whose query no longer plans a
# BNL fails as stale.
from tracy_matdb_spark.queries.llm import BATCH_NQ, IVF_K, KM_K  # noqa: E402

_ONE_ROW_QUERY_VEC = r"vec_id#\d+L? = 0\)"  # 1-row query-vector filter
_SCALAR_AGG = r"(Hash|Sort|ObjectHash)Aggregate\(keys=\[\]"  # exactly 1 row
NLJ_ALLOWED = {
    "knn_embeddings": _ONE_ROW_QUERY_VEC,
    # literal 2-row perm local table (queries/domain.py prototypes)
    "prototypes_crossjoin": r"Scan ExistingRDD\[perm#\d+\]",
    # 1-row query vector OR the vec_id 1..IVF_K seed-centroid range
    "knn_ivf_embeddings": rf"({_ONE_ROW_QUERY_VEC}|vec_id#\d+L? <= {IVF_K}\))",
    # SemDeDup centroid assignment: same bounded K-centroid broadcast as IVF
    "semantic_dedup": rf"vec_id#\d+L? <= {IVF_K}\)",
    # compose knn_embeddings, inheriting its 1-row query-vector broadcast
    "knn_quantization_recall": _ONE_ROW_QUERY_VEC,
    "knn_pq_recall": _ONE_ROW_QUERY_VEC,
    "knn_pq_embeddings": _ONE_ROW_QUERY_VEC,
    # batch serving shape: the BATCH_NQ-row query-table broadcast over the
    # corpus scan
    "knn_batch_embeddings": rf"vec_id#\d+L? < {BATCH_NQ}\)",
    "hard_negative_mining": rf"vec_id#\d+L? < {BATCH_NQ}\)",
    "hybrid_rrf_batch": rf"vec_id#\d+L? < {BATCH_NQ}\)",
    # dense branch is knn_embeddings verbatim (1-row query broadcast)
    "hybrid_rrf_retrieval": _ONE_ROW_QUERY_VEC,
    # one-row scalar-aggregate broadcasts (global average / national total /
    # normalizer / censoring cutoff / totals / CI / leakage count / feature
    # totals) — all keys=[] aggregates, exactly one row by construction
    "q22_idle_rich_customers": _SCALAR_AGG,
    "q11_important_parts": _SCALAR_AGG,
    "basket_pair_pmi": _SCALAR_AGG,
    "unigram_sampling_table": _SCALAR_AGG,
    "weekly_churn": _SCALAR_AGG,
    "skew_profile_users": _SCALAR_AGG,
    "bootstrap_ci_revenue": _SCALAR_AGG,
    "entity_consistent_split": _SCALAR_AGG,
    "dsir_importance_weights": _SCALAR_AGG,
    # drift monitors: the global-total / value-range 1-row aggregate
    # broadcasts (queries/drift.py); the dense source x value / bin
    # grids themselves are built with non-foldable-key HASH joins.
    # (ks_source_drift's scalar-agg BNL exists too but sits upstream of
    # the single_scan localCheckpoint, so it is not visible in the
    # final plan walk and needs no entry here.)
    "psi_source_drift": _SCALAR_AGG,
    # streaming PSI readout: same scalar (n_all, n_types) broadcast over
    # the checkpointed stream-counts table (queries/drift.py)
    "events_type_psi_stream": _SCALAR_AGG,
    # K-centroid broadcast per assignment round: centroids aggregate over
    # cid drawn from the vec_id 1..KM_K seed range (the bounded generator
    # is in the same build subtree)
    "kmeans_fixed_point": rf"vec_id#\d+L? <= {KM_K}\)",
    # NOTE bpe_train_merges was removed round 10: its argmax winner
    # selection no longer plans a BNL (stale entry caught by the new
    # must-plan-a-BNL assertion).
}


def _plan_children(node):
    if node.nodeName() == "AdaptiveSparkPlan":
        return [node.initialPlan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _plan_walk(node):
    yield node
    for c in _plan_children(node):
        yield from _plan_walk(c)


def _bnl_build_subtrees(spark, name: str) -> list[str]:
    """One text blob (head line of every node) per BroadcastNestedLoopJoin
    BUILD-side subtree in the query's physical plan."""
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    root = df._jdf.queryExecution().executedPlan()
    out = []
    for node in _plan_walk(root):
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        kids = _plan_children(node)
        build = kids[0] if node.buildSide().toString() == "BuildLeft" else kids[1]
        out.append(
            "\n".join(n.toString().splitlines()[0] for n in _plan_walk(build))
        )
    return out


def test_no_quadratic_joins_in_registered_queries(spark):
    """No registered query may plan a CartesianProduct, and only the
    bounded-literal allowlist may plan a BroadcastNestedLoopJoin — the
    scale gate from the round-1 verdict (O(n^2) stages are scale-killers).
    Allowlisted queries must additionally PROVE the bound: every BNL's
    build-side subtree must match the entry's bound-evidence regex (a
    plan constant showing the broadcast side is O(1) in data size), and
    an entry whose query plans no BNL at all is stale and fails."""
    import re

    for name in REGISTRY:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if name not in NLJ_ALLOWED:
            assert "BroadcastNestedLoopJoin" not in plan, name
    for name, bound_re in NLJ_ALLOWED.items():
        builds = _bnl_build_subtrees(spark, name)
        assert builds, f"{name}: NLJ_ALLOWED entry is stale (no BNL planned)"
        for text in builds:
            assert re.search(bound_re, text), (
                f"{name}: BNL build side lacks bound evidence "
                f"/{bound_re}/ — subtree:\n{text[:600]}"
            )


# Windows whose input is a bounded AGGREGATE (not row-level data), so the
# single-task sort is O(groups) — documented here because the static audit
# cannot see cardinality through an aggregate:
#   mixture_weights      — unpartitioned window over the per-source rollup
#                          (O(sources) ~ 20 rows)
#   events_daily_anomaly — per-type window over the per-(type, day) rollup
#                          (O(types x days) rows)
#   events_gap_fill_locf — LOCF window over the generated calendar spine
#                          (O(hours in range), independent of data size)
WINDOW_ALLOWED = {
    "mixture_weights",
    # same bounded class: unpartitioned window over the per-source
    # rollup (O(sources) rows), never the corpus
    "temperature_sampling_weights",
    "events_daily_anomaly",
    "events_gap_fill_locf",
    # rank window runs AFTER a TakeOrderedAndProject limit(CM_TOP): its
    # input is <= 15 rows by construction (queries/sketches.py)
    "countmin_heavy_hitters",
    # CUSUM runs over the per-(type, day) ROLLUP — O(types x days) rows,
    # the same bounded-aggregate class as events_daily_anomaly
    "cusum_event_drift",
    # both rank windows run AFTER TakeOrderedAndProject limits (BM25
    # top-15, cosine top-10): inputs <= 15 rows by construction
    # (queries/corpus.py hybrid_rrf_retrieval)
    "hybrid_rrf_retrieval",
    # cumulative-new window runs over the per-batch ROLLUP — O(NOV_BATCHES)
    # rows, the bounded-aggregate class (queries/drift.py novelty curve)
    "ngram_novelty_curve",
}


def test_no_single_task_windows_in_registered_queries(spark):
    """No registered query may plan a WindowExec with an empty partition
    spec or a partition spec made solely of known tiny-cardinality
    columns (status/source/event_type...): either shape funnels ~N/groups
    rows into one task at 100 TB. The two-phase range-sliced primitives
    in operators/rank.py are the sanctioned alternative (their internal
    windows are slice-partitioned or O(slices), and exempt)."""
    for name in REGISTRY:
        if name in WINDOW_ALLOWED:
            continue
        findings = window_findings(_plan(spark, name))
        assert not findings, f"{name}: {findings}"


def test_window_audit_flags_naive_low_card_window(spark):
    """The auditor itself must stay sharp: the round-2 gini/deciles shape
    (row-level window partitioned only by a 3-value status column) and a
    fully unpartitioned rank must both be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("status"), F.col("id").alias("v")
    )
    naive = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("status").orderBy("v"))
    )
    plan = naive._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert any("low-cardinality" in f for f in window_findings(plan))

    unpart = df.withColumn("rn", F.row_number().over(Window.orderBy("v")))
    plan2 = unpart._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert any("unpartitioned" in f for f in window_findings(plan2))


def test_whole_stage_codegen_active(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_SMOKE)
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "codegen id" in plan  # formatted mode tags codegen'd operators


def test_correlated_subqueries_decorrelate(spark):
    """Correlated scalar subquery and EXISTS/NOT EXISTS must compile to
    joins (aggregate-join / semi / anti), never a per-row subplan."""
    p17 = _plan(spark, "q17_small_quantity_avg")
    assert "Subquery" not in p17  # scalar subquery fused into an agg+join
    assert p17.count("Join") >= 2
    pex = _plan(spark, "exists_customer_segments")
    assert "LeftSemi" in pex and "LeftAnti" in pex


def test_distinct_agg_expands_two_phase(spark):
    """count(DISTINCT user_id) must plan the two-phase rewrite: a partial
    aggregate keyed on (event_type, user_id) before the per-type count —
    the skew-free distinct pattern that survives 100 TB."""
    plan = _plan(spark, "events_distinct_users")
    assert plan.count("HashAggregate") >= 3  # dedupe partial+final, then count
    assert "BatchEvalPython" not in plan


def test_q4_plans_semi_join(spark):
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan


def test_q7_q10_q14_broadcast_dims(spark):
    for name in ("q7_nation_volume", "q10_returned_items", "q14_promo_revenue"):
        assert "BroadcastHashJoin" in _plan(spark, name), name


def test_funnel_is_join_free_single_user_shuffle(spark):
    # the k-stage funnel must be one conditional-agg pass, not k-1 self-joins
    plan = _plan(spark, "funnel_conversion")
    assert "Join" not in plan
    # formatted mode lists each node twice (tree + detail); count tree nodes
    assert plan.count("Exchange (") <= 2  # user_id shuffle + single-row rollup


def test_json_props_extraction_stays_jvm_side(spark):
    plan = _plan(spark, "events_json_props")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# Plan-shape regression budgets for the headline set
# ---------------------------------------------------------------------------

# Max (joins, exchanges) each headline query may plan (pre-AQE counts,
# matching tools/plan_audit.py). Budgets are the CURRENT shape plus zero
# slack — the point is to catch silent DAG explosions like the
# un-checkpointed triangle query (45 joins / 184 exchanges from 6 / 13)
# the moment a refactor re-derives a shared subtree per reference.
# A legitimate plan change updates the budget IN THE SAME COMMIT.
PLAN_BUDGET = {
    # r14: +1 exchange — spread_unsplittable_scan round-robins the
    # single-row-group documents scan before the regexp/html-extract
    # projection (guide §2.5 unsplittable input; 1.03 -> 0.65 s warm at
    # sf0.1). No-op (3 exchanges) when the table has >= cores/2 row
    # groups, so the budget carries the local layout's worst case.
    "corpus_e2e_rollup": (0, 4),
    # r12: dup detection folded into a min!=max window over the hash key
    # — the localCheckpoint + distinct + agg + gated join-back of r9-r11
    # is gone (its ~450M-row executor-storage checkpoint OOMed the
    # fourth decade); single scan, 0 joins, wh window -> doc_id window.
    # r15: +1 exchange — spread_unsplittable_scan round-robins the
    # single-row-group documents scan before the tokenize+explode+md5
    # map layer (0.74 -> 0.58 s interleaved min-of-5 at sf0.1; no-op at
    # >= cores/2 row groups, so the budget carries the local worst case)
    "exact_substring_spans": (0, 4),
    # r8 (second rework): each iteration is ONE join + ONE agg — the
    # per-round degree re-attach join is gone (outdeg = count(*) riding
    # the contribution shuffle, valid because in-degree == out-degree
    # in the symmetrized graph), and the ranks side carries a
    # footer-stat-gated broadcast hint so the edge side never pays a
    # plan-time shuffle (headline 1.90 -> 1.50 s warm at sf0.1).
    # 3 joins / 8 exchanges (3 broadcast + 3 agg + checkpoint-feeding).
    "pagerank_bipartite": (3, 8),
    "split_assign_orders": (1, 4),
    "distortion_generate": (0, 2),
    "enumerated_point_group": (0, 4),
    "events_tumbling_1h": (0, 2),
    "dedup_exact": (0, 2),
    "text_quality": (0, 1),
    # r14: +2 exchanges — the band self-join re-derives the shingle
    # table on both sides (a checkpoint was tried and rejected, see
    # _lsh_candidate_pairs), so spread_unsplittable_scan's round-robin
    # of the documents scan appears once per side (guide §2.5; the
    # 128-permutation minhash aggregate was single-task before:
    # 1.40 -> 0.83 s warm at sf0.1). No-op at >= cores/2 row groups.
    "minhash_lsh_pairs": (1, 5),
    "knn_embeddings": (1, 0),
    "q1_pricing_summary": (0, 2),
    "q3_shipping_priority": (2, 1),
    "q5_local_supplier_volume": (5, 2),
    "orders_rolling_7d_revenue": (0, 2),
    "orders_price_deciles": (1, 5),
    "revenue_gini_by_status": (1, 5),
    "corpus_export_manifest": (1, 5),
    "triangle_part_graph": (6, 13),
}


def _count_joins_exchanges(plan: str) -> tuple[int, int]:
    import re

    joins = sum(
        len(re.findall(rf"\(\d+\) {kind}\b", plan))
        for kind in (
            "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct",
        )
    )
    exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    return joins, exchanges


def test_salted_join_plan_shape(spark):
    """Pin the SALTED join shape (r6 skew stress: salted join runs at
    0.56x of the naive plan on a 30%-hot key). A regression to the plain
    equi-join — losing __salt from the join keys or the dim-side salt
    replication (Generate/explode) — must fail CI, not just the bench."""
    plan = _plan(spark, "events_salted_type_join")
    import re

    key_lines = [ln for ln in plan.splitlines() if re.match(r"(Left|Right) keys", ln)]
    assert key_lines, "expected an equi-join with explicit key lists"
    assert all("__salt" in ln for ln in key_lines), key_lines
    assert "Generate" in plan  # dim replicated across salts via explode


def test_salted_agg_plan_shape(spark):
    """Pin the SALTED two-stage distinct shape: stage 1 must aggregate on
    (event_type, __salt, user_id) shards and only the merge stage may key
    on event_type alone — so no task ever holds a full hot key's state."""
    plan = _plan(spark, "events_salted_distinct_users")
    import re

    keys = re.findall(r"Keys \[\d+\]: \[([^\]]*)\]", plan)
    sharded = [k for k in keys if "__salt" in k]
    assert sharded, "stage-1 aggregation lost its __salt shard key"
    assert any("user_id" in k for k in sharded), "distinct expansion must shard too"
    assert any("__salt" not in k and "event_type" in k for k in keys), "merge stage missing"


def test_headline_plan_budgets(spark):
    over = {}
    for name, (max_j, max_x) in PLAN_BUDGET.items():
        if name not in REGISTRY:
            over[name] = "not registered"
            continue
        j, x = _count_joins_exchanges(_plan(spark, name))
        if j > max_j or x > max_x:
            over[name] = f"joins {j} > {max_j} or exchanges {x} > {max_x}"
    assert not over, f"plan-shape regressions: {over}"


def test_budget_covers_every_headline():
    missing = [n for n, q in REGISTRY.items() if q.headline and n not in PLAN_BUDGET]
    assert not missing, f"headline queries without a plan budget: {missing}"


def test_pq_and_maxsim_single_corpus_shuffle(spark):
    """The PQ encode->ADC and MaxSim dot->max->sum agg chains must run on
    ONE corpus partitioning: the upfront repartition(vec_id) satisfies
    every downstream groupBy's ClusteredDistribution, so the only
    allowed hash exchanges are that repartition plus (for PQ) the
    O(M*K)-row distance-table branch and the shortlist/limit boundary.
    The Lloyd-trained codebook is checkpointed (trained once, known-size
    stats), so it must appear downstream only as broadcasts — a
    SortMergeJoin anywhere means the codebook lost its stats."""
    import re

    for name, max_hash_exchanges in (
        # corpus repartition + tiny dt branch + shortlist single-partition
        ("knn_pq_embeddings", 3),
        ("maxsim_late_interaction", 1),  # corpus repartition only
    ):
        plan = _plan(spark, name)
        hash_ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
        assert hash_ex <= max_hash_exchanges, f"{name}: {hash_ex} exchanges"
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name


def test_planaudit_artifact_covers_registry():
    """PLANAUDIT.md must cover exactly the registered queries — it went
    stale two rounds running (r7: 4 missing; r8: 4 missing again)
    because regeneration was manual. This gate fails the moment someone
    registers a query without re-running tools/plan_audit.py."""
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "PLANAUDIT.md")
    with open(path) as f:
        text = f.read()
    audited = set(re.findall(r"^\| (\w+) \|", text, flags=re.M)) - {"query"}
    registered = set(REGISTRY)
    missing = registered - audited
    extra = audited - registered
    assert not missing and not extra, (
        f"PLANAUDIT.md stale — regenerate with tools/plan_audit.py. "
        f"missing={sorted(missing)} extra={sorted(extra)}"
    )


def test_scaling_artifact_keeps_all_decades():
    """SCALING.json must retain every recorded decade. The round-9
    rewrite path of the sf0.01 -> sf0.1 sweep preserved only the 'sf1'
    key, so a re-run would silently drop the committed sf10 evidence
    (round-9 ADVICE). tools/scaling.py's block writer now replaces one
    key and keeps every other; this gate fails if a decade block ever
    disappears."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "SCALING.json")
    with open(path) as f:
        data = json.load(f)
    required = {"queries", "skew_stress", "sf1", "sf10_documents"}
    missing = required - set(data)
    assert not missing, (
        f"SCALING.json lost decade blocks {sorted(missing)} — a rewrite "
        f"dropped foreign keys; regenerate the missing decade with "
        f"python tools/scaling.py <decade>"
    )
