"""Semantic invariants for the web-scale operators (exact-substring
spans, Bloom dedup, fixed-point PageRank). Value parity vs DuckDB is
covered by test_parity; these pin the properties parity can't express.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tracy_matdb_spark.queries import load_all
from tracy_matdb_spark.queries.webscale import BLOOM_K, PR_BASE, SPAN_K

REGISTRY = load_all()


def test_spans_are_maximal_and_disjoint(spark):
    """Island merge must yield per-doc spans that are disjoint with a
    gap > SPAN_K between consecutive span starts (else they'd have
    merged), each span at least one window wide."""
    pdf = REGISTRY["exact_substring_spans"].fn(spark, SF_SMOKE).toPandas()
    assert len(pdf) > 0  # the synthetic corpus has injected duplicates
    assert (pdf.span_end - pdf.span_start + 1 >= SPAN_K).all()
    assert (pdf.n_windows >= 1).all()
    for _, g in pdf.groupby("doc_id"):
        g = g.sort_values("span_start")
        starts, ends = g.span_start.to_numpy(), g.span_end.to_numpy()
        # disjoint, and un-mergeable: next window start is > K past the
        # previous island's last window start (ends[i-1] - SPAN_K + 1)
        assert all(starts[i] > ends[i - 1] for i in range(1, len(g)))
        assert all(starts[i] - (ends[i - 1] - SPAN_K + 1) > SPAN_K for i in range(1, len(g)))


def test_bloom_has_no_false_negatives(spark):
    """The Bloom guarantee: every actual duplicate must be flagged
    (bloom_hit), and false_positive is exactly hit-and-not-dup."""
    pdf = REGISTRY["bloom_dedup_filter"].fn(spark, SF_SMOKE).toPandas()
    assert len(pdf) > 0
    dup = pdf[pdf.actual_dup]
    assert dup.bloom_hit.all()
    assert (pdf.false_positive == (pdf.bloom_hit & ~pdf.actual_dup)).all()


def test_pagerank_fixed_point_bounds(spark):
    """Ranks are integer micro-units >= the damping floor, sorted
    descending, top-20 only."""
    pdf = REGISTRY["pagerank_bipartite"].fn(spark, SF_SMOKE).toPandas()
    assert len(pdf) == 20
    assert (pdf.microrank >= PR_BASE).all()
    assert (pdf.microrank.diff().dropna() <= 0).all()
    assert set(pdf.node_type) <= {"customer", "supplier"}


def _huge_lineitem(monkeypatch):
    """Force _pr_graph's edge gate big through the catalog stat, for
    `lineitem` only: the customer/supplier broadcast gate keeps its
    small branch."""
    from tracy_matdb_spark import catalog

    real = catalog.table_num_rows
    monkeypatch.setattr(
        catalog,
        "table_num_rows",
        lambda sf_dir, name: 1 << 40 if name == "lineitem" else real(sf_dir, name),
    )


def test_pagerank_edge_gate_paths_equivalent(spark, monkeypatch):
    """A huge `lineitem` footer stat forces _pr_graph's big-data
    branch (symmetrized edges materialized once, hash-partitioned on
    the join key, DISK_ONLY, degree from ONE keyed agg over that
    cache) at smoke SF; its result must equal the small-SF
    lazy-checkpoint branch bit-for-bit. Integer micro-ranks and the
    (microrank desc, node) tiebreak make the top-20 deterministic, so
    the gate is provably a plan-shape choice, not a semantics fork."""
    import pandas as pd

    fn = REGISTRY["pagerank_bipartite"].fn
    small_path = fn(spark, SF_SMOKE).toPandas()
    _huge_lineitem(monkeypatch)
    big_path = fn(spark, SF_SMOKE).toPandas()
    pd.testing.assert_frame_equal(small_path, big_path)


def test_pagerank_edge_cache_unpersisted_on_next_invocation(spark, monkeypatch):
    """r15 lifecycle (r14 verdict #8): consecutive big-SF pagerank
    invocations in one session must not accumulate DISK_ONLY edge sets
    — constructing invocation N+1 unpersists invocation N's cache."""
    _huge_lineitem(monkeypatch)
    fn = REGISTRY["pagerank_bipartite"].fn
    fn(spark, SF_SMOKE).collect()
    first = spark._tms_pr_edge_cache
    assert first.is_cached
    fn(spark, SF_SMOKE).collect()
    second = spark._tms_pr_edge_cache
    assert second is not first
    assert not first.is_cached  # the stale edge set was released


def test_bloom_bitset_is_broadcast(spark):
    """The membership probe must be a broadcast join of the O(m) bitset
    — never a shuffle of the probe side keyed on bit position."""
    df = REGISTRY["bloom_dedup_filter"].fn(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in plan
    assert BLOOM_K == 4  # docstrings/oracle quote the constant


def test_footer_stat_matches_actual_row_count(spark):
    """catalog.table_num_rows is the stat queries trust for plan-shape
    decisions (pagerank's broadcast gate): it must equal the real row
    count, not an estimate."""
    from tracy_matdb_spark.catalog import load, table_num_rows

    for t in ("customer", "supplier"):
        actual = load(spark, SF_SMOKE, (t,))[t].count()
        assert table_num_rows(SF_SMOKE, t) == actual


def test_footer_stat_raises_on_empty_directory(tmp_path):
    """A directory with ZERO part-files (partially written / cleaned
    table) has no stats: table_num_rows must raise, not return 0 — a 0
    would flip size-gated plans to 'broadcast' on absent information,
    violating the conservative-path contract."""
    import pytest

    from tracy_matdb_spark.catalog import table_num_rows

    (tmp_path / "ghost.parquet").mkdir()  # empty dir, zero part-files
    with pytest.raises(OSError):
        table_num_rows(str(tmp_path), "ghost")


def test_spread_unsplittable_scan_gate_and_identity(spark, tmp_path):
    """spread_unsplittable_scan (r14): fires — one round-robin exchange,
    same rows — on a single-row-group table when cores dominate, and is
    a NO-OP (plan unchanged) when the layout already carries >= cores/2
    row groups, so at real scale it never adds an exchange."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tracy_matdb_spark.catalog import (
        spread_unsplittable_scan,
        table_num_row_groups,
    )

    tbl = pa.table({"k": list(range(1000)), "v": [i * 2 for i in range(1000)]})
    one = tmp_path / "one.parquet"
    many = tmp_path / "many.parquet"
    pq.write_table(tbl, one, row_group_size=1000)
    pq.write_table(tbl, many, row_group_size=10)  # 100 row groups
    assert table_num_row_groups(str(tmp_path), "one") == 1
    assert table_num_row_groups(str(tmp_path), "many") == 100

    cores = spark.sparkContext.defaultParallelism
    df_one = spark.read.parquet(str(one))
    spread = spread_unsplittable_scan(df_one, str(tmp_path), "one")
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()
    # identical row set — repartition must never change results
    assert sorted(r["k"] for r in spread.collect()) == list(range(1000))
    assert spread.rdd.getNumPartitions() == cores

    df_many = spark.read.parquet(str(many))
    same = spread_unsplittable_scan(df_many, str(tmp_path), "many")
    assert same is df_many  # 100 row groups >= cores/2: no-op

    # stat failure (missing table) must return the frame unchanged —
    # no extra exchange on absent information
    assert spread_unsplittable_scan(df_one, str(tmp_path), "ghost2") is df_one


def test_pagerank_node_bound_conservative_on_missing_stats():
    """A missing dimension table (no catalog stat) must push the gate
    over PR_BCAST_MAX_NODES so the conservative co-partitioned join is
    taken — never an unbounded broadcast on absent information."""
    from tracy_matdb_spark.queries.webscale import (
        PR_BCAST_MAX_NODES,
        _pr_node_bound,
    )

    assert _pr_node_bound("/nonexistent/sf_dir") > PR_BCAST_MAX_NODES
    # and at the smoke SF the stat is available and small -> broadcast
    assert _pr_node_bound(SF_SMOKE) <= PR_BCAST_MAX_NODES
