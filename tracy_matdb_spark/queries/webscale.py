"""Web-scale pipeline operators: exact-substring dedup spans, Bloom-filter
dedup, and fixed-point PageRank.

Three operators a 100 TB training-data pipeline needs beyond doc-level
dedup (BASELINE.json north star), each fully DuckDB-oracle-checked:

- ``exact_substring_spans``: the suffix-array-style duplicated-passage
  detector of Lee et al. 2022 ("Deduplicating Training Data Makes
  Language Models Better"), approximated as duplicated k-token windows
  merged into maximal per-document spans. The reference's dedup surface
  stops at whole-config content hashes (matdb/database/__init__.py
  group hashing); sub-document spans are the web-corpus extension.
- ``bloom_dedup_filter``: membership pre-filter for incremental ingest —
  a Bloom bitset built over history keys, broadcast to the incoming
  side, with false-positive accounting. At 100 TB the bitset is O(m)
  regardless of history size, replacing a full-history shuffle
  anti-join with a broadcast hash join.
- ``pagerank_bipartite``: fixed-iteration PageRank over the
  customer<->supplier purchase graph in INTEGER fixed-point (micro-rank
  units, floor division) so Spark and DuckDB agree bit-for-bit — the
  standard iterative-algorithm shape (join + re-aggregate per round)
  with none of the float-summation-order nondeterminism.

All JVM-side (no Python UDFs); shuffles are keyed hash aggregations and
equi joins only — no cartesian stages, no single-partition windows.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tracy_matdb_spark.catalog import footer_stat, load, spread_unsplittable_scan
from tracy_matdb_spark.operators import textops
from tracy_matdb_spark.operators.rank import grouped_value_rank
from tracy_matdb_spark.queries import register

# ---------------------------------------------------------------------------
# Exact-substring duplicated spans (Lee et al. 2022 style)
# ---------------------------------------------------------------------------

SPAN_K = 8  # window width in tokens (Lee et al. use 50 BPE tokens; the
# synthetic docs are <=99 whitespace tokens, so 8 keeps multi-window
# spans observable while staying well above chance-collision length)


@register(
    "exact_substring_spans",
    oracle=f"""
    WITH d AS (SELECT doc_id, {{toks}} AS toks FROM documents WHERE n_chars > 0),
    w AS (SELECT doc_id, i,
                 md5(array_to_string(list_slice(toks, i, i + {SPAN_K} - 1), ' ')) AS wh
          FROM d CROSS JOIN (SELECT unnest(generate_series(1,
              (SELECT max(len(toks)) FROM d))) AS i) g
          WHERE i + {SPAN_K} - 1 <= len(toks)),
    dup AS (SELECT wh FROM (SELECT DISTINCT wh, doc_id FROM w)
            GROUP BY wh HAVING count(*) >= 2),
    hit AS (SELECT w.doc_id, w.i FROM w JOIN dup USING (wh)),
    isl AS (SELECT doc_id, i,
                   sum(CASE WHEN prev IS NULL OR i - prev > {SPAN_K} THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT doc_id, i,
                         lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                  FROM hit))
    SELECT doc_id,
           cast(min(i) as bigint) AS span_start,
           cast(max(i) + {SPAN_K} - 1 as bigint) AS span_end,
           cast(count(*) as bigint) AS n_windows
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """.format(toks=textops.toks_expr("duckdb")),
    headline=True,
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage spans: every maximal token range covered by
    {SPAN_K}-token windows that occur (by md5) in >= 2 distinct
    documents — the exact-substring dedup of Lee et al. 2022, expressed
    relationally instead of via a suffix array.

    Plan shape, scale-checked at the FOURTH decade (5M docs): (1) ONE
    pass over the corpus — cross-document duplication is decided inside
    a single window over the hash key, `min(doc_id) != max(doc_id)`
    over partitionBy(wh) (distinct-doc-count >= 2 without a distinct, a
    second aggregate, or a join back); a window duplicated a million
    times within one hot document has min == max and is correctly not a
    dup, and a pathologically hot cross-doc hash group spills through
    WindowExec's external row buffer instead of building a hash map;
    (2) span merging is a per-document gap-and-island window
    (partitionBy doc_id — never a single-partition window). Windows
    whose covered ranges overlap or touch (gap <= {SPAN_K}) merge into
    one span.

    r15: the documents scan is spread before the tokenize+explode+md5
    map layer (guide §2.5 unsplittable input — the sf0.1 table is one
    row group, so the ~90-windows/doc derivation ran on ONE task). An
    r14 spread attempt measured flat, but after the relation cache and
    the session's other fixed-cost removals the map stage re-emerged as
    the bottleneck: re-measured interleaved min-of-5 0.74 -> 0.58 s
    (map stage alone 0.42 -> 0.23 s). No-op at real scale (>= cores/2
    row groups clears the gate).

    History: the r9-r11 shape lazily localCheckpointed the exploded
    window table (~90 positions/doc) to share it between the dup-hash
    aggregate and the join back to positions. At 500k docs that was the
    measured-fastest single-scan trick; at 5M docs the ~450M-row
    checkpoint floods the executor storage pool and OOMs a 24g heap
    (`tools/scaling.py sf100_documents` caught it) — executor-memory
    materialization of a corpus-sized intermediate is a scale killer no
    gate can save. The window formulation keeps the single scan (the
    tokenize+explode+md5 map work feeds exactly one shuffle) with only
    shuffle-file state, needs no ESS_BCAST_MAX_DOCS-style join gate,
    and is strictly fewer shuffles: wh window -> doc_id window, done."""
    toks = textops.toks_expr("spark")
    docs = spread_unsplittable_scan(
        load(spark, sf_dir, ("documents",))["documents"], sf_dir, "documents"
    )
    win = (
        docs.filter(F.col("n_chars") > 0)
        .selectExpr("doc_id", f"{toks} AS toks")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(1, size(toks) - {SPAN_K - 1})")).alias("i"),
            "toks",
        )
        .selectExpr(
            "doc_id", "i", f"md5(array_join(slice(toks, i, {SPAN_K}), ' ')) AS wh"
        )
    )
    bywh = Window.partitionBy("wh")
    hit = (
        win.withColumn("__mn", F.min("doc_id").over(bywh))
        .withColumn("__mx", F.max("doc_id").over(bywh))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("doc_id", "i")
    )
    byik = Window.partitionBy("doc_id").orderBy("i")
    isl = (
        hit.withColumn("prev", F.lag("i").over(byik))
        .withColumn(
            "__new",
            F.when(F.col("prev").isNull() | (F.col("i") - F.col("prev") > SPAN_K), 1).otherwise(0),
        )
        .withColumn("island", F.sum("__new").over(byik.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            (F.max("i") + SPAN_K - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
        .orderBy("doc_id", "span_start")
    )


# ---------------------------------------------------------------------------
# Bloom-filter dedup pre-filter
# ---------------------------------------------------------------------------

BLOOM_M = 4096  # bitset size; small on purpose so the sf0.001 fixture
# exercises real false positives (n~400 history keys, k=4 -> ~1% FP)
BLOOM_K = 4  # hash functions, via Kirsch-Mitzenmacher double hashing


def _bloom_pos_exprs(dialect: str) -> list[str]:
    """BLOOM_K bit positions for the trimmed document text (column `t`):
    position_j = (h1 + j*h2) mod M with h1/h2 independent 60-bit md5
    hashes — Kirsch-Mitzenmacher double hashing, identical arithmetic in
    both dialects (h1 + 3*h2 < 2^62: no overflow)."""
    h1 = textops.tok_hash60(dialect, "t", salt="bloom1")
    h2 = textops.tok_hash60(dialect, "t", salt="bloom2")
    return [f"(({h1}) + {j} * ({h2})) % {BLOOM_M}" for j in range(BLOOM_K)]


@register(
    "bloom_dedup_filter",
    oracle=f"""
    WITH hist AS (SELECT trim(text) AS t FROM documents WHERE doc_id % 5 <> 0),
    inc AS (SELECT doc_id, trim(text) AS t FROM documents WHERE doc_id % 5 = 0),
    bits AS (SELECT DISTINCT p FROM hist
             CROSS JOIN (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS j) g
             CROSS JOIN LATERAL (SELECT {{pos}} AS p) x),
    probe AS (SELECT inc.doc_id, count(bits.p) AS n_set
              FROM inc
              CROSS JOIN (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS j) g
              CROSS JOIN LATERAL (SELECT {{pos}} AS p) x
              LEFT JOIN bits ON bits.p = x.p
              GROUP BY inc.doc_id),
    exact AS (SELECT DISTINCT inc.doc_id FROM inc JOIN hist ON inc.t = hist.t)
    SELECT probe.doc_id,
           probe.n_set = {BLOOM_K} AS bloom_hit,
           exact.doc_id IS NOT NULL AS actual_dup,
           (probe.n_set = {BLOOM_K}) AND exact.doc_id IS NULL AS false_positive
    FROM probe LEFT JOIN exact ON probe.doc_id = exact.doc_id
    ORDER BY probe.doc_id
    """.format(
        pos="(({h1}) + j * ({h2})) % {m}".format(
            h1=textops.tok_hash60("duckdb", "t", salt="bloom1"),
            h2=textops.tok_hash60("duckdb", "t", salt="bloom2"),
            m=BLOOM_M,
        )
    ),
)
def bloom_dedup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter dedup pre-filter: build a {BLOOM_M}-bit Bloom bitset
    over the history partition's text keys (doc_id % 5 != 0), probe every
    incoming doc (doc_id % 5 == 0), and account for false positives
    against the exact answer.

    Scale story: the bitset is materialized as <= {BLOOM_M} DISTINCT
    set-bit rows — O(m), independent of history size — and BROADCAST to
    the probe side, so the membership test is a broadcast hash join with
    zero shuffle of the incoming table. At 100 TB the exact-dup
    verification join runs only on the bloom-positive slice (here it is
    computed for every probe row because the oracle reports it); the
    deliberately small m makes the fixture exercise real false
    positives, which production sizes to ~10 bits/key. The reference's
    incremental ingest dedups by full content hash anti-join
    (group hashing, matdb/database/__init__.py); the Bloom stage is the
    pre-filter that makes that affordable when history >> batch."""
    docs = load(spark, sf_dir, ("documents",))["documents"].selectExpr(
        "doc_id", "trim(text) AS t"
    )
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0)
    pos = _bloom_pos_exprs("spark")
    arr = "array(" + ", ".join(pos) + ")"
    bits = (
        hist.selectExpr(f"explode({arr}) AS p").distinct()
    )
    probe = (
        inc.selectExpr("doc_id", f"explode({arr}) AS p")
        .join(F.broadcast(bits.withColumn("__set", F.lit(1))), "p", "left")
        .groupBy("doc_id")
        .agg(F.count("__set").alias("n_set"))
    )
    exact = (
        inc.join(hist.select(F.col("t").alias("__ht")).distinct(),
                 inc["t"] == F.col("__ht"), "left_semi")
        .select("doc_id")
        .withColumn("__dup", F.lit(1))
    )
    return (
        probe.join(F.broadcast(exact), "doc_id", "left")
        .select(
            "doc_id",
            (F.col("n_set") == BLOOM_K).alias("bloom_hit"),
            F.col("__dup").isNotNull().alias("actual_dup"),
            ((F.col("n_set") == BLOOM_K) & F.col("__dup").isNull()).alias("false_positive"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Fixed-point PageRank over the customer<->supplier purchase graph
# ---------------------------------------------------------------------------

PR_ITERS = 3
PR_SCALE = 1_000_000  # micro-rank fixed point
PR_DAMP_NUM = 850_000  # 0.85 in micro units
PR_BASE = 150_000  # (1 - 0.85) in micro units


PR_CKPT_MAX_LINEITEM = 100_000_000  # edge-table memory-checkpoint gate


def _pr_graph(t, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(symmetrized edge view, degree table) for the bipartite purchase
    graph. The DIRECTED half is lazily local-checkpointed so the
    lineitem x orders join + distinct runs ONCE, not once per iteration
    (the single_scan pattern of operators/rank.py — at cluster scale
    this is a bucketed edges table written once instead); the both-ways
    view is a lazy union of the checkpoint with its swap — storing 1x
    rows instead of 2x.

    r8 rework (verdict item #4): out-degree no longer annotates the
    EDGE table. Joining degrees onto 1.17M edge rows (then checkpointing
    the 2x-sized annotated union) was ~40% of the edge build; instead
    outdeg rides on the NODE-sized ranks table (operators count: two
    half-sized degree aggs, zero degree-onto-edges joins, one e0-sized
    checkpoint). At 100 TB the same shape wins more: the
    degree-annotated edge list is a second full copy of the edge set
    (write + scan per iteration), while the degree column on ranks is
    node-sized and co-partitioned with the rank aggregation's output.

    Since the second r8 rework made each iteration re-derive outdeg
    from its own aggregation (see _pr_iter), deg is consumed exactly
    once (rank initialisation) — a plain lazy view over the e0
    checkpoint, deliberately NOT checkpointed or counted: a driver-side
    count here adds a job barrier that forfeits the sibling-subtree
    overlap between the edge build and iteration 1's broadcast side
    (measured +0.27 s at sf0.1). The broadcast-gate stat comes from
    parquet footer metadata instead (see pagerank_bipartite).

    No lineitem pre-distinct: at sf0.1 distinct (l_orderkey, l_suppkey)
    removes 0.2% of rows (598,807 of 600,000) — a full exchange spent
    to shrink the post-join distinct input by nothing. The one distinct
    on (src, dst) subsumes it."""
    e0 = (
        spread_unsplittable_scan(
            t["lineitem"].select("l_orderkey", "l_suppkey"), sf_dir, "lineitem"
        )
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .selectExpr("o_custkey * 2 AS src", "l_suppkey * 2 + 1 AS dst")
        .distinct()
    )
    # Edge-materialization gate (r14 sf100 probe, two measured failure
    # modes at 600M lineitem): (a) the ungated localCheckpoint's
    # MEMORY_AND_DISK blocks squeezed execution memory until an
    # aggregation task was refused its first page; (b) even off-heap,
    # the LAZY both-ways edge view re-shuffled 2E rows on EVERY
    # iteration join, and three warm runs' accumulated shuffle files
    # filled the disk. Below the gate the r8-measured small-SF shape
    # stands (lazy checkpoint of the directed half, 1x rows stored,
    # two half-sized degree aggs). Above it the SYMMETRIZED edge set is
    # materialized ONCE, hash-partitioned on the join key, DISK_ONLY —
    # the local realization of the docstring's "bucketed edges table
    # written once": every iteration join then reads co-partitioned
    # cached blocks with NO exchange on the edge side and zero
    # storage-memory claim, and outdeg is ONE keyed agg over the same
    # cache. Stat failure -> the bounded-memory path. The two branches
    # must be pure plan-shape choices, never a semantics fork: tests
    # force the big one at smoke SF through the catalog stat and pin
    # its result equal to the small one.
    n_lineitem = footer_stat(sf_dir, "lineitem")
    if n_lineitem is not None and n_lineitem <= PR_CKPT_MAX_LINEITEM:
        e0 = e0.localCheckpoint(eager=False)
        # degree from each DIRECTED half separately: outdeg(customer) =
        # its count in e0.src, outdeg(supplier) = its count in e0.dst —
        # two half-sized keyed aggregations, never a 2x-sized one (and
        # still no partition-only window, the hot-node-buffering trap
        # plans/window_audit.py exists to catch)
        degc = e0.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        degs = e0.groupBy("dst").agg(F.count(F.lit(1)).alias("outdeg"))
        deg = degc.selectExpr("src AS node", "outdeg").unionByName(
            degs.selectExpr("dst AS node", "outdeg")
        )
        e_sym = e0.unionByName(e0.selectExpr("dst AS src", "src AS dst"))
        return e_sym, deg
    from pyspark import StorageLevel

    sess = t["lineitem"].sparkSession
    nparts = int(
        sess.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
        or sess.conf.get("spark.sql.shuffle.partitions")
    )
    e_sym = (
        e0.unionByName(e0.selectExpr("dst AS src", "src AS dst"))
        .repartition(nparts, F.col("src"))
        .persist(StorageLevel.DISK_ONLY)
    )
    # explicit cache lifecycle: a long mixed session that invokes the
    # big-SF path repeatedly must not accumulate one DISK_ONLY edge set
    # per invocation until periodicGC reclaims them — unpersist the
    # PREVIOUS invocation's edge cache (blocking=False: the new query
    # never waits on block deletion) before registering the new one
    prev = getattr(sess, "_tms_pr_edge_cache", None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:  # noqa: BLE001 — stale handle after session churn
            pass
    sess._tms_pr_edge_cache = e_sym  # type: ignore[attr-defined]
    # in the disjoint bipartite layout each node occurs as src exactly
    # outdeg times in the symmetrized set, so this single agg over the
    # co-partitioned cache equals the two-half-agg union above
    deg = e_sym.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).selectExpr(
        "src AS node", "outdeg"
    )
    return e_sym, deg


PR_BCAST_MAX_NODES = 2_000_000  # ~24 B/row -> ~48 MB, under the 64 MB cap


def _pr_node_bound(sf_dir: str) -> float:
    """Upper bound on the node count of the purchase graph, from
    parquet FOOTER row counts of the two dimension tables whose keys
    the nodes are drawn from (custkeys ⊆ customer, suppkeys ⊆
    supplier) — an O(1) metadata read, no Spark job, no barrier. This
    is exactly the catalog stat a warehouse planner would use for the
    broadcast decision; an unreadable stat bounds nothing (math.inf),
    which forces the conservative (co-partitioned shuffle) path."""
    n = footer_stat(sf_dir, "customer", "supplier")
    return math.inf if n is None else n


def _pr_iter(ranks_aug: DataFrame, e_sym: DataFrame, bcast: bool) -> DataFrame:
    """One synchronous PageRank round: contribution = r div outdeg along
    each edge, next rank = BASE + DAMP * sum div SCALE (integer
    micro-units throughout — order-independent sums). `ranks_aug`
    carries (node, r, outdeg).

    outdeg for the NEXT round is NOT re-attached with a degree join: in
    the symmetrized graph every node's out-degree equals its in-degree,
    which is exactly the number of contribution rows its group receives
    — so `count(*)` riding the same shuffle as `sum(c)` reproduces
    outdeg for free. This removes one node-keyed join per iteration
    (3 joins + the deg checkpoint from the headline plan); at 100 TB it
    removes a node-sized shuffle-or-broadcast per round, since the
    count is a second partial aggregate on an exchange the sum already
    pays for.

    `bcast` injects the stat Catalyst lost at the checkpoint boundary:
    the edge checkpoint scans as an ExistingRDD with unknown stats, so
    every iteration join plans as SMJ and AQE only converts it to
    broadcast AFTER the 2E-row edge side has paid its shuffle map-write
    (3 writes of the full edge set per query, measured +0.3 s warm at
    sf0.1). The caller decides from the EXACT node count (deg.count()
    over the materialized checkpoint — the catalog stat a warehouse
    would have) whether the ranks side fits a broadcast; above
    PR_BCAST_MAX_NODES the plain co-partitioned join stands, which is
    the correct shape for billion-node graphs."""
    if bcast:
        ranks_aug = F.broadcast(ranks_aug)
    contrib = (
        e_sym.join(ranks_aug, e_sym["src"] == ranks_aug["node"])
        .selectExpr("dst", "r div outdeg AS c")
    )
    return (
        contrib.groupBy(F.col("dst").alias("node"))
        .agg(F.sum("c").alias("__s"), F.count(F.lit(1)).alias("outdeg"))
        .selectExpr(
            "node",
            f"cast({PR_BASE} + ({PR_DAMP_NUM} * __s) div {PR_SCALE} as bigint) AS r",
            "outdeg",
        )
    )


def pagerank_iteration_telemetry(spark: SparkSession, sf_dir: str) -> dict:
    """Bench-only instrumented twin of pagerank_bipartite (round-5
    verdict item #5, rebuilt round 10 after its parts summed to only
    ~60% of the headline median). Two accounting holes closed:

    * **Build-time stage execution.** `localCheckpoint(eager=False)` in
      _pr_graph calls `queryExecution.toRdd`, and under AQE
      `AdaptiveSparkPlanExec.execute()` MATERIALIZES every intermediate
      query stage to pick the final plan — the e0 join+distinct shuffle
      map work runs while the headline DataFrame is still being
      CONSTRUCTED (~0.9 s at sf0.1, measured: toRdd on the e0 subtree
      is 0.85 s with AQE on, 0.27 s with it off). The old twin started
      its clock inside its own eager rebuild, so this never appeared.
    * **The tail.** The orderBy/limit/select + noop sink after the last
      iteration (~0.2 s) was not timed at all, and the old twin's
      per-iteration eager localCheckpoints made iterations run off
      small materialized inputs — cheaper than the headline's lazy
      in-job chain.

    The decomposition below measures the REAL headline path: `build_s`
    times the pagerank_bipartite() call itself, `exec_s` the noop
    materialization the bench times, and the exec side is re-split on
    the same plan shape via cumulative materializations that share one
    edge checkpoint (marginal differences = per-iteration cost, no
    eager ranks checkpoints that the headline doesn't have).
    `parts_sum_s` must land within ~10% of build_s + exec_s."""
    import time as _t

    def _mat(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # the real headline, split at the construction/execution boundary
    t0 = _t.time()
    headline = pagerank_bipartite(spark, sf_dir)
    build_s = _t.time() - t0
    t0 = _t.time()
    _mat(headline)
    exec_s = _t.time() - t0

    # decompose exec_s on an identical shape sharing ONE edge
    # checkpoint (its untimed build repays build_s, measured above)
    t = load(spark, sf_dir, ("lineitem", "orders"))
    e_sym, deg = _pr_graph(t, sf_dir)
    t0 = _t.time()
    _mat(e_sym)
    edges_noop_s = _t.time() - t0
    node_bound = _pr_node_bound(sf_dir)
    bcast = node_bound <= PR_BCAST_MAX_NODES
    ranks = deg.select("node", F.lit(PR_SCALE).cast("long").alias("r"), "outdeg")
    chain = []
    for _ in range(PR_ITERS):
        ranks = _pr_iter(ranks, e_sym, bcast=bcast)
        chain.append(ranks)
    # min-of-N replays per cumulative level: the marginal-difference
    # decomposition below is only valid if replaying iters 1..k costs
    # the same every time it runs — the r14 sf100 probe broke that
    # assumption with a one-off +67 s stall in the MIDDLE replay
    # (cums [68.5, 199.5, 199.5], i.e. run 3 replayed all three
    # iterations as fast as run 2 replayed two), which published as a
    # phantom "iteration 2 costs 131 s" skew. Taking the min of N
    # replays per level restores stationarity at the cost of N-1 extra
    # materializations (telemetry only — never inside the bench's
    # timed region).
    reps = max(1, int(os.environ.get("SPARK_GRAFT_PR_TEL_REPS", "2")))
    cums = []
    for rk in chain:  # cumulative: mat(chain[k]) replays iters 1..k+1
        best = float("inf")
        for _ in range(reps):
            t1 = _t.time()
            _mat(rk)
            best = min(best, _t.time() - t1)
        cums.append(best)
    tail = (
        chain[-1]
        .selectExpr(
            "node",
            "CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type",
            "cast(node div 2 as bigint) AS node_key",
            "r AS microrank",
        )
        .orderBy(F.col("microrank").desc(), "node")
        .limit(20)
        .select("node_type", "node_key", "microrank")
    )
    full_tail_s = float("inf")
    for _ in range(reps):  # same min-of-N discipline as the levels above
        t1 = _t.time()
        _mat(tail)
        full_tail_s = min(full_tail_s, _t.time() - t1)
    # clamp at 0: per-iteration cost is a DIFFERENCE of cumulative
    # noop-job wall times, and at smoke SF the marginal cost sits below
    # per-job scheduler jitter, so cums[k] < cums[k-1] is plausible —
    # telemetry-only values, a tiny negative is jitter, not time travel
    iters_s = [round(max(0.0, cums[0]), 3)] + [
        round(max(0.0, cums[k] - cums[k - 1]), 3) for k in range(1, PR_ITERS)
    ]
    tail_s = max(0.0, full_tail_s - cums[-1])
    return {
        # the broadcast-gate decision and the footer-stat bound it was
        # made from, so a cross-decade telemetry diff can say whether
        # the PR_BCAST_MAX_NODES gate flipped between the runs (None:
        # the stat could not be read)
        "bcast": bcast,
        "node_bound": None if node_bound == math.inf else node_bound,
        "total_s": round(build_s + exec_s, 3),
        # driver-visible construction cost: AQE stage materialization of
        # the e0 join+distinct forced by the lazy localCheckpoint, plus
        # codegen — fixed per call, data-independent planning except the
        # shuffle map work, and the piece the old twin never saw
        "build_s": round(build_s, 3),
        "exec_s": round(exec_s, 3),
        "edges_noop_s": round(edges_noop_s, 3),
        "iters_s": iters_s,
        "tail_s": round(tail_s, 3),
        "parts_sum_s": round(build_s + edges_noop_s + full_tail_s, 3),
        "n_iters": PR_ITERS,
    }


@register(
    "pagerank_bipartite",
    oracle=f"""
    WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    eb AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM eb GROUP BY src),
    r0 AS (SELECT node, cast({PR_SCALE} as bigint) AS r FROM deg),
    r1 AS (SELECT eb.dst AS node,
                  cast({PR_BASE} + ({PR_DAMP_NUM} * sum(r0.r // deg.outdeg)) // {PR_SCALE} as bigint) AS r
           FROM eb JOIN r0 ON eb.src = r0.node JOIN deg ON eb.src = deg.node
           GROUP BY eb.dst),
    r2 AS (SELECT eb.dst AS node,
                  cast({PR_BASE} + ({PR_DAMP_NUM} * sum(r1.r // deg.outdeg)) // {PR_SCALE} as bigint) AS r
           FROM eb JOIN r1 ON eb.src = r1.node JOIN deg ON eb.src = deg.node
           GROUP BY eb.dst),
    r3 AS (SELECT eb.dst AS node,
                  cast({PR_BASE} + ({PR_DAMP_NUM} * sum(r2.r // deg.outdeg)) // {PR_SCALE} as bigint) AS r
           FROM eb JOIN r2 ON eb.src = r2.node JOIN deg ON eb.src = deg.node
           GROUP BY eb.dst)
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           cast(node // 2 as bigint) AS node_key, r AS microrank
    FROM r3 ORDER BY r DESC, node LIMIT 20
    """,
    headline=True,
)
def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({PR_ITERS} synchronous iterations, damping 0.85) over
    the bipartite customer<->supplier graph induced by purchases
    (distinct (o_custkey, l_suppkey) pairs, edges both directions so
    every node has outdeg >= 1 — no dangling-mass term needed).

    Ranks are INTEGER micro-units with floor division at every step:
    contribution = r div outdeg, next = {PR_BASE} + ({PR_DAMP_NUM} *
    sum) div {PR_SCALE}. Integer sums are order-independent, so the
    result is bit-identical between Spark and the oracle — the float
    formulation would hash-mismatch on summation order alone.

    Scale shape: each iteration is ONE hash equi join (edges x ranks,
    both sides partitioned by the join key) + ONE keyed aggregation
    with map-side partial sums — next-round outdeg comes out of that
    same aggregation as count(*) (= in-degree = out-degree in the
    symmetrized graph, see _pr_iter), so there is no degree re-attach
    join at all. The edge list is scanned once per iteration here; at
    100 TB you materialize the directed edge set once (checkpoint /
    bucketed table partitioned by src) so every iteration joins
    co-partitioned data with no re-derivation and no exchange on the
    edge side. The degree column deliberately rides on the node-sized
    ranks table, not the edge table: annotating 2x-edges with degree
    costs a full extra copy of the edge set in build time and storage
    (see _pr_graph)."""
    t = load(spark, sf_dir, ("lineitem", "orders"))
    e_sym, deg = _pr_graph(t, sf_dir)
    bcast = _pr_node_bound(sf_dir) <= PR_BCAST_MAX_NODES
    ranks = deg.select("node", F.lit(PR_SCALE).cast("long").alias("r"), "outdeg")
    for _ in range(PR_ITERS):
        ranks = _pr_iter(ranks, e_sym, bcast=bcast)
    return (
        ranks.selectExpr(
            "node",
            "CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type",
            "cast(node div 2 as bigint) AS node_key",
            "r AS microrank",
        )
        .orderBy(F.col("microrank").desc(), "node")
        .limit(20)
        .select("node_type", "node_key", "microrank")
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------

TRI_SUPPORT = 2  # co-purchase support threshold for a part-part edge


@register(
    "triangle_part_graph",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM items a JOIN items b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY u, v HAVING count(*) >= {TRI_SUPPORT}),
    deg AS (SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
            GROUP BY node),
    o AS (SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
                 CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t,
                 CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS dt
          FROM e0 JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v),
    tri AS (SELECT ab.s AS a, ab.t AS b, ac.t AS c
            FROM o ab JOIN o ac
              ON ab.s = ac.s AND (ab.dt, ab.t) < (ac.dt, ac.t)
            JOIN o bc ON bc.s = ab.t AND bc.t = ac.t)
    SELECT node AS part, cast(count(*) as bigint) AS n_triangles
    FROM (SELECT a AS node FROM tri UNION ALL
          SELECT b FROM tri UNION ALL SELECT c FROM tri)
    GROUP BY node
    ORDER BY n_triangles DESC, part
    LIMIT 20
    """,
)
def triangle_part_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation in the part co-purchase graph
    (edges: part pairs bought together in >= {TRI_SUPPORT} orders),
    top 20 — the clustering/community primitive (triangle counts feed
    local clustering coefficients and cohesion metrics).

    The algorithm is the degree-ordered orientation used by every
    distributed triangle counter (Cohen's MapReduce form / GraphX):
    orient each undirected edge from the (degree, id)-smaller endpoint
    to the larger, build wedges only FROM each edge's low end, and
    close them with one more hash join. Orientation bounds the wedge
    fan-out per node by its oriented out-degree — O(m^1.5) total wedges
    in the worst case instead of sum(deg^2) — which is exactly the skew
    guard a power-law co-purchase graph needs at 100 TB. Every stage
    is a hash equi join or keyed aggregation; the (degree, id) compare
    is a codegen'd struct comparison, deterministic because part ids
    are unique."""
    li = load(spark, sf_dir, ("lineitem",))["lineitem"]
    items = li.select("l_orderkey", "l_partkey").distinct()
    e0 = (
        items.alias("a")
        .join(
            items.selectExpr("l_orderkey AS ok_b", "l_partkey AS v"),
            (F.col("l_orderkey") == F.col("ok_b")) & (F.col("l_partkey") < F.col("v")),
        )
        .select(F.col("l_partkey").alias("u"), "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= TRI_SUPPORT)
        .select("u", "v")
        # e0 feeds BOTH the degree aggregate and the orientation join:
        # checkpoint lazily or the co-purchase self-join re-derives per
        # reference (the plan audit showed 45 joins / 184 exchanges
        # from the un-checkpointed form — the textbook DAG explosion)
        .localCheckpoint(eager=False)
    )
    deg = (
        e0.selectExpr("u AS node")
        .unionByName(e0.selectExpr("v AS node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    o = (
        e0.join(deg.selectExpr("node AS u", "d AS du"), "u")
        .join(deg.selectExpr("node AS v", "d AS dv"), "v")
        .selectExpr(
            "CASE WHEN struct(du, u) < struct(dv, v) THEN u ELSE v END AS s",
            "CASE WHEN struct(du, u) < struct(dv, v) THEN v ELSE u END AS t",
            "CASE WHEN struct(du, u) < struct(dv, v) THEN dv ELSE du END AS dt",
        )
        # the oriented edge table is read THREE times (both wedge legs
        # + the closing edge): one materialized copy, not three derivations
        .localCheckpoint(eager=False)
    )
    ab = o.selectExpr("s", "t AS b", "dt AS db")
    ac = o.selectExpr("s", "t AS c", "dt AS dc")
    wedge = ab.join(ac, "s").filter(F.expr("struct(db, b) < struct(dc, c)"))
    tri = wedge.join(
        o.selectExpr("s AS b", "t AS c"), ["b", "c"]
    ).selectExpr("s AS a", "b", "c")
    return (
        tri.selectExpr("a AS part")
        .unionByName(tri.selectExpr("b AS part"))
        .unionByName(tri.selectExpr("c AS part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "part")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# URL canonicalization (the crawl dedup-key normalizer)
# ---------------------------------------------------------------------------


def _canon_url_exprs(dialect: str, url: str = "url") -> str:
    """Canonical form of a URL, as one regexp chain with IDENTICAL
    semantics in Spark (Java regex) and DuckDB (RE2) — the common
    subset: no lookaround, no backreferences.

    Steps (the standard crawl canonicalization, cf. RFC 3986 §6):
    1. strip the fragment,
    2. lowercase scheme and authority (path case is significant),
    3. drop default ports :80 (http) / :443 (https),
    4. resolve single-dot path segments,
    5. resolve parent-dot segments (bounded iterations — crawl URLs
       nest shallowly; a fixpoint loop is not expressible in one
       expression, so depth 4 is applied and documented),
    6. drop a trailing '?' left by an empty query.
    """
    # Dialect mechanics: Spark SQL string literals process backslash
    # escapes (regex \. is written '\\.') and regexp_replace is global
    # with $1 backreferences; DuckDB literals are raw (regex \. is
    # written '\.'), and regexp_replace replaces only the FIRST match
    # unless given the 'g' option.
    spark = dialect == "spark"
    bs = "\\\\" if spark else "\\"  # a regex backslash in the SQL literal

    def rep(expr: str, pat: str, repl: str) -> str:
        g = "" if spark else ", 'g'"
        return f"regexp_replace({expr}, '{pat}', '{repl}'{g})"

    # The authority and the path are canonicalized SEPARATELY and only
    # re-concatenated at the end: the dot-segment rules must never see
    # the authority, or a root-level '/..' swallows the host (hypothesis
    # found 'http://0/../B9' -> '/0/../' matching the parent-dot rule —
    # the idempotence property test pins this).
    base = rep(url, "#.*$", "")  # 1
    auth = f"lower(regexp_extract({base}, '^[^/]*//[^/?]*', 0))"  # 2
    auth = rep(auth, ":80$", "")  # 3 (auth contains no '/', so anchor $)
    auth = rep(auth, ":443$", "")
    rest = rep(base, "^[^/]*//[^/?]*", "")
    # split PATH from QUERY before segment resolution: a trailing '..'
    # directly followed by '?' must still resolve (hypothesis found
    # '/a/..?' resolving differently across passes when the '?' was
    # stripped between them)
    path = rep(rest, f"{bs}?.*$", "")
    qs = f"regexp_extract({rest}, '[?].*$', 0)"
    for _ in range(4):  # 4+5, bounded depth, path-only
        path = rep(path, f"/{bs}./", "/")
        path = rep(path, f"/[^/]+/{bs}.{bs}.(/|$)", "/")
    qs = rep(qs, f"^{bs}?$", "")  # 6: drop an empty query entirely
    return f"concat({auth}, {path}, {qs})"


@register(
    "url_canonicalize",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id,
               concat('HTTP://WWW.Example', cast(doc_id % 7 as varchar),
                      '.COM', CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END,
                      '/A/./b', cast(doc_id % 5 as varchar),
                      '/../c', CASE WHEN doc_id % 2 = 0 THEN '?q=1' ELSE '' END,
                      CASE WHEN doc_id % 4 = 0 THEN '#Frag' ELSE '' END) AS url
        FROM documents),
    canon AS (SELECT doc_id, {{canon}} AS curl FROM raw)
    SELECT curl, cast(count(*) as bigint) AS n_urls,
           cast(min(doc_id) as bigint) AS first_doc
    FROM canon GROUP BY curl ORDER BY curl
    """.format(canon=_canon_url_exprs("duckdb")),
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL canonicalization (RFC 3986 §6 subset): fragment strip,
    authority lowercasing, default-port removal, dot-segment resolution
    — then a rollup per canonical URL showing the dedup-key collapse.
    The corpus has no real URLs, so deterministically messy ones are
    synthesized from doc_id (same construction in the oracle), exactly
    like pii_detect_redact's synthetic emails: the normalizer chain is
    the thing under test.

    Map-only regexp chain (JVM/RE2 common subset, no lookaround) + one
    keyed aggregation — at crawl scale this runs as a projection pushed
    against the scan, and the canonical key feeds the URL-level
    dedup/revisit joins (see streaming_warc_ingest)."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    raw = docs.selectExpr(
        "doc_id",
        "concat('HTTP://WWW.Example', cast(doc_id % 7 as string), '.COM', "
        "CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END, "
        "'/A/./b', cast(doc_id % 5 as string), "
        "'/../c', CASE WHEN doc_id % 2 = 0 THEN '?q=1' ELSE '' END, "
        "CASE WHEN doc_id % 4 = 0 THEN '#Frag' ELSE '' END) AS url",
    )
    return (
        raw.selectExpr("doc_id", f"{_canon_url_exprs('spark')} AS curl")
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("curl")
    )


# ---------------------------------------------------------------------------
# Crawl frontier politeness scheduling
# ---------------------------------------------------------------------------

CRAWL_BUCKET_S = 10  # schedule histogram bucket width (seconds)


@register(
    "crawl_frontier_schedule",
    oracle=f"""
    WITH f AS (SELECT doc_id, doc_id % 7 AS host_id,
                      1 + (doc_id % 7) % 3 AS delay_s
               FROM documents),
    sched AS (SELECT host_id, delay_s,
                     (row_number() OVER (PARTITION BY host_id ORDER BY doc_id) - 1)
                       * delay_s AS fetch_time_s
              FROM f)
    SELECT cast(fetch_time_s // {CRAWL_BUCKET_S} as bigint) AS bucket,
           cast(count(*) as bigint) AS n_fetches,
           cast(count(DISTINCT host_id) as bigint) AS n_hosts
    FROM sched GROUP BY bucket ORDER BY bucket
    """,
)
def crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling of a crawl frontier: per-host FIFO order *
    per-host crawl delay gives each URL its earliest fetch time; the
    output is the schedule's {CRAWL_BUCKET_S}-second load histogram
    (fetches per bucket, distinct hosts active) — what a crawler's
    capacity planner reads to size its fetcher pool. Hosts and delays
    are synthesized deterministically from doc_id (7 hosts, delays
    1-3 s), like url_canonicalize's synthetic URLs.

    The per-host FIFO position is the LOW-CARDINALITY-group rank
    problem (7 hosts -> a naive per-host window sorts each whole host
    in one task, and real crawls are zipf-hot on big domains), so the
    position comes from the two-phase range-sliced rank
    (operators/rank.py grouped_value_rank) — parallel per-slice windows
    + O(slices) broadcast offsets; the histogram is one keyed
    aggregation with map-side combine."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    f = docs.selectExpr(
        "doc_id",
        "doc_id % 7 AS host_id",
        "1 + (doc_id % 7) % 3 AS delay_s",
    )
    ranked = grouped_value_rank(
        f, ["host_id"], ["doc_id"], out_col="__pos", single_scan=True
    )
    return (
        ranked.selectExpr(
            "host_id",
            f"((__pos - 1) * delay_s) div {CRAWL_BUCKET_S} AS bucket",
        )
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
            F.countDistinct("host_id").cast("long").alias("n_hosts"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) routing — consistent shard affinity
# ---------------------------------------------------------------------------

HRW_NODES = ("n0", "n1", "n2", "n3", "n4")
HRW_REMOVED = "n2"


def _hrw_hash(dialect: str, node: str) -> str:
    """60-bit md5 weight of (node, doc_id) — same literal arithmetic in
    both dialects (the hash60 convention of functions/prng.py)."""
    cast = "varchar" if dialect == "duckdb" else "string"
    return (
        f"('0x' || substr(md5(concat_ws('|', 'hrw', '{node}', "
        f"cast(doc_id as {cast}))), 1, 15))::bigint"
        if dialect == "duckdb"
        else f"cast(conv(substr(md5(concat_ws('|', 'hrw', '{node}', "
        f"cast(doc_id as {cast}))), 1, 15), 16, 10) as bigint)"
    )


def _hrw_owner(dialect: str, nodes: tuple[str, ...]) -> str:
    """argmax-by-hash as an explicit CASE chain over the node weights
    (h_i >= all later h_j picks the first maximal node — md5 ties are
    practically impossible and the >= rule is deterministic anyway)."""
    hs = {n: _hrw_hash(dialect, n) for n in nodes}
    arms = []
    for i, n in enumerate(nodes[:-1]):
        conds = " AND ".join(f"({hs[n]}) >= ({hs[m]})" for m in nodes[i + 1 :])
        arms.append(f"WHEN {conds} THEN '{n}'")
    return f"CASE {' '.join(arms)} ELSE '{nodes[-1]}' END"


@register(
    "rendezvous_routing",
    oracle=f"""
    WITH o AS (SELECT doc_id,
                      {_hrw_owner("duckdb", HRW_NODES)} AS owner_before,
                      {_hrw_owner("duckdb", tuple(n for n in HRW_NODES if n != HRW_REMOVED))} AS owner_after
               FROM documents)
    SELECT owner_before, owner_after,
           cast(count(*) as bigint) AS n_docs,
           (owner_before <> owner_after) AS moved
    FROM o GROUP BY owner_before, owner_after
    ORDER BY owner_before, owner_after
    """,
)
def rendezvous_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing: every document's
    owner is the node with the max md5 weight of (node, key) — the
    consistent-routing scheme behind cache/shard affinity. The output
    crosses each doc's owner under 5 nodes with its owner after node
    {HRW_REMOVED!r} is removed: HRW's minimal-disruption property means
    the ONLY rows with moved=true have owner_before = {HRW_REMOVED!r}
    (a green oracle check proves it — keys never move between two
    surviving nodes), and the displaced keys spread across survivors
    by hash weight, not to one successor like naive mod-N rehashing.

    Map-only: the owner is one codegen'd CASE chain of md5 compares
    per row (O(nodes) hashes, no join, no shuffle before the bounded
    rollup) — at 100 TB the router is a projection, and the rollup is
    O(nodes^2) rows."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    survivors = tuple(n for n in HRW_NODES if n != HRW_REMOVED)
    return (
        docs.selectExpr(
            "doc_id",
            f"{_hrw_owner('spark', HRW_NODES)} AS owner_before",
            f"{_hrw_owner('spark', survivors)} AS owner_after",
        )
        .groupBy("owner_before", "owner_after")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("moved", F.col("owner_before") != F.col("owner_after"))
        .select("owner_before", "owner_after", "n_docs", "moved")
        .orderBy("owner_before", "owner_after")
    )


# ---------------------------------------------------------------------------
# Longest-prefix-match routing (hierarchical rule join)
# ---------------------------------------------------------------------------

LPM_RULES = (
    "/a0", "/a0/b1", "/a0/b1/c2", "/a1", "/a1/b0",
    "/a2", "/a2/b4", "/a2/b4/c6", "/a1/b3/c5",
)


def _lpm_paths(dialect: str) -> tuple[str, str, str]:
    """Depth-1/2/3 prefixes of the synthetic URL path, derived from
    doc_id (same construction both dialects)."""
    cast = "varchar" if dialect == "duckdb" else "string"
    p1 = f"concat('/a', cast(doc_id % 3 as {cast}))"
    p2 = f"concat({p1}, '/b', cast(doc_id % 5 as {cast}))"
    p3 = f"concat({p2}, '/c', cast(doc_id % 7 as {cast}))"
    return p1, p2, p3


@register(
    "longest_prefix_route",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_lpm_paths("duckdb")[0]} AS p1,
                      {_lpm_paths("duckdb")[1]} AS p2,
                      {_lpm_paths("duckdb")[2]} AS p3
               FROM documents),
    cand AS (SELECT doc_id, p1 AS pfx, 1 AS plen FROM u
             UNION ALL SELECT doc_id, p2, 2 FROM u
             UNION ALL SELECT doc_id, p3, 3 FROM u),
    rules AS (SELECT * FROM (VALUES
        {', '.join(f"('{r}')" for r in LPM_RULES)}) t(rule)),
    hits AS (SELECT cand.doc_id, rules.rule, cand.plen
             FROM cand JOIN rules ON cand.pfx = rules.rule),
    m AS (SELECT doc_id, max(plen) AS ml FROM hits GROUP BY doc_id),
    pick AS (SELECT hits.doc_id, hits.rule
             FROM hits JOIN m ON hits.doc_id = m.doc_id AND hits.plen = m.ml)
    SELECT rule, cast(count(*) as bigint) AS n_docs,
           cast(min(doc_id) as bigint) AS first_doc
    FROM pick GROUP BY rule ORDER BY rule
    """,
)
def longest_prefix_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix-match routing: each URL path (synthesized from
    doc_id, depth 3) routes to the LONGEST matching rule in a prefix
    table — the hierarchical-match shape of CIDR tables, path-based
    ACLs, and crawl scoping rules. Spark has no native LPM join; the
    scalable expression is: explode each key into its O(depth)
    ancestor prefixes, hash-join the (tiny, broadcast) rule table on
    EXACT prefix, keep the max-depth hit per key — turning a
    hierarchical containment match into an equi join with bounded
    fan-out (depth, not rule count), the same trick the range join
    uses (bucket, then exact).

    Per-doc max is a keyed aggregation (max depth) joined back to the
    single hit at that depth — at most one rule per depth exists, so
    the pick is deterministic without a window."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    p1, p2, p3 = _lpm_paths("spark")
    u = docs.selectExpr("doc_id", f"{p1} AS p1", f"{p2} AS p2", f"{p3} AS p3")
    cand = (
        u.selectExpr("doc_id", "p1 AS pfx", "1 AS plen")
        .unionByName(u.selectExpr("doc_id", "p2 AS pfx", "2 AS plen"))
        .unionByName(u.selectExpr("doc_id", "p3 AS pfx", "3 AS plen"))
    )
    rules = spark.createDataFrame([(r,) for r in LPM_RULES], "rule string")
    # hits feed the per-doc max AND the pick join; <=3 rows/doc but still
    # linear in the corpus, so the share-one-copy checkpoint is gated
    from tracy_matdb_spark.catalog import gated_local_checkpoint

    hits = gated_local_checkpoint(
        cand.join(F.broadcast(rules), cand["pfx"] == rules["rule"]).select(
            "doc_id", "rule", "plen"
        ),
        sf_dir,
    )
    m = hits.groupBy("doc_id").agg(F.max("plen").alias("ml"))
    pick = hits.join(m, "doc_id").filter(F.col("plen") == F.col("ml"))
    return (
        pick.groupBy("rule")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("rule")
    )
