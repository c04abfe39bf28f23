"""LLM-data-pipeline queries: dedup, text analysis, similarity search.

North-star additions beyond the reference's surface (BASELINE.json):
exact + near dedup (minhash-LSH, simhash, n-gram Jaccard), embedding
similarity (brute-force + LSH-bucketed), language-ID, quality scoring,
token counting, fingerprinting — all on the driver's `documents` and
`embeddings` tables, all JVM-side (no Python UDFs), all oracle-checked
except the explicitly-approximate LSH scale path.
"""

from __future__ import annotations

# module-level so the pandas_udf annotation strings (PEP 563) resolve
# against module globals when pyspark infers the eval type
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tracy_matdb_spark.catalog import (
    footer_stat,
    gated_local_checkpoint,
    load,
    spread_unsplittable_scan,
)
from tracy_matdb_spark.operators import textops
from tracy_matdb_spark.operators.graph import connected_components
from tracy_matdb_spark.queries import register

# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy; SURVEY.md §2.8 uid-set dedupe at scale)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    headline=True,
    oracle="""
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keep_id,
           count(*)    AS n_dups
    FROM documents
    GROUP BY 1
    ORDER BY keep_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-identity dedup: normalize whitespace/case, md5, keep the
    min doc_id per fingerprint. One shuffle on the fingerprint; map-side
    partial agg makes this linear at 100 TB. Mirrors the reference's
    content-hash dedupe (e.g. active.py:181-198) on documents."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    return (
        docs.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# Text quality + token counting
# ---------------------------------------------------------------------------


def _tok_layer(dialect: str) -> list[str]:
    """Tokenize-once select layer: every downstream metric references the
    materialized ``__t`` array instead of inlining the regex tokenizer
    into each expression (which re-lexed the text up to ~10x per row)."""
    return ["doc_id", "text", f"{textops.toks_expr(dialect)} AS __t"]


def _quality_sql(dialect: str) -> list[str]:
    """Metric exprs over the _tok_layer output. The repeated sub-exprs
    here (size/__t traversals) are integer-only and cheap; only the
    tokenization itself was worth hoisting."""
    toks = "__t"
    n_tok = f"cast({'size' if dialect == 'spark' else 'len'}({toks}) as bigint)"
    n_stop = f"cast({textops.count_in_expr(dialect, toks, textops.STOPWORDS)} as bigint)"
    sum_len = textops.sum_len_expr(dialect, toks)
    return [
        "doc_id",
        f"{n_tok} AS n_tokens",
        f"{n_stop} AS n_stop",
        f"{textops.quant_ratio_expr(n_stop, n_tok)} AS stop_ratio_q",
        f"{textops.quant_ratio_expr(sum_len, n_tok)} AS avg_token_len_q",
        f"(CASE WHEN {n_tok} >= 10 AND {n_tok} <= 500 "
        f"AND {textops.quant_ratio_expr(n_stop, n_tok)} < 500000 THEN true ELSE false END) AS quality_ok",
    ]


@register(
    "text_quality",
    headline=True,
    oracle=f"""
    SELECT {', '.join(_quality_sql('duckdb'))}
    FROM (SELECT {', '.join(_tok_layer('duckdb'))} FROM documents WHERE n_chars > 0) t
    ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics (token count, stopword ratio, mean token
    length, keep/drop flag) with built-in array lambdas — a narrow map-only
    stage, no shuffle, trivially parallel at any scale."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    return (
        docs.filter(F.col("n_chars") > 0)
        .selectExpr(*_tok_layer("spark"))
        .selectExpr(*_quality_sql("spark"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Language ID (marker-word heuristic)
# ---------------------------------------------------------------------------


def _langid_sql(dialect: str) -> tuple[str, str]:
    # scores reference the materialized __t token array (_tok_layer):
    # the tokenizer runs once per row, not once per language
    scores = textops.lang_score_exprs(dialect, "__t")
    langs = sorted(scores)
    inner = ["doc_id", "lang AS lang_actual"] + [f"{scores[lang]} AS s_{lang}" for lang in langs]
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    cases = " ".join(f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs)
    outer = f"doc_id, lang_actual, (CASE {cases} END) AS lang_pred"
    return ", ".join(inner), outer


@register(
    "lang_id_markers",
    oracle=(
        lambda inner_outer: f"""
    SELECT {inner_outer[1]}
    FROM (SELECT {inner_outer[0]} FROM
          (SELECT lang, {', '.join(_tok_layer('duckdb'))} FROM documents) tokd) scored
    ORDER BY doc_id
    """
    )(_langid_sql("duckdb")),
)
def lang_id_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic marker-word language ID (argmax of per-language marker
    counts, ties to first lang). The synthetic corpus shares one vocabulary,
    so this demonstrates the operator shape, not classifier accuracy."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    inner, outer = _langid_sql("spark")
    tokd = docs.selectExpr("lang", *_tok_layer("spark"))
    scored = tokd.selectExpr(*_split_exprs(inner))
    return scored.selectExpr(*_split_exprs(outer)).orderBy("doc_id")


def _split_exprs(joined: str) -> list[str]:
    """Split a comma-joined expr list, respecting parens/quotes."""
    out, depth, cur, in_q = [], 0, [], False
    for ch in joined:
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                out.append("".join(cur).strip())
                cur = []
                continue
        cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


# ---------------------------------------------------------------------------
# Fingerprint + simhash
# ---------------------------------------------------------------------------


@register(
    "doc_fingerprint",
    # hash-once form: same VALUES as the original inline simhash_expr
    # (identical bits from identical token hashes), but one md5 per
    # token total instead of one per token per bit (16x less hashing).
    oracle=f"""
    WITH hs AS (
        SELECT doc_id, text,
               {textops.tok_hash_array_expr('duckdb', textops.toks_expr('duckdb'))} AS hsarr
        FROM documents
    )
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
           cast({textops.simhash_from_hashes_expr('duckdb', 'hsarr', textops.SIMHASH_BITS)} as int) AS simhash16
    FROM hs
    ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text) + 16-bit simhash for
    near-dup bucketing. The fp is map-only; the simhash rides the
    explode+sum path (_simhash_sums_df) and joins back on doc_id."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    fp = docs.selectExpr(
        "doc_id",
        "md5(lower(regexp_replace(trim(text), '\\\\s+', ' '))) AS fp",
    )
    sh = _simhash_sums_df(docs, textops.SIMHASH_BITS)
    return (
        fp.join(sh, "doc_id")
        .selectExpr("doc_id", "fp", "cast(sh as int) AS simhash16")
        .orderBy("doc_id")
    )


SIMHASH_MAX_HD = 3  # near-dup threshold on the 48-bit simhash
SIMHASH_BANDS = 4  # 4 bands x 12 bits; hd<=3 touches <=3 bands, so any
#                    true pair agrees on >=1 band -> band join is lossless
_BAND_BITS = textops.SIMHASH_WIDE_BITS // SIMHASH_BANDS
_BAND_MASK = (1 << _BAND_BITS) - 1


def _simhash_sums_df(docs: DataFrame, bits: int) -> DataFrame:
    """(doc_id, sh BIGINT): ``bits``-wide simhash — tokens exploded,
    hashed as a plain codegen'd column (one md5 per token), then the
    bit-sign sums run as ordinary SUM aggregates with map-side partials.
    The array-lambda form (aggregate() per bit over a transform()'d hash
    array) is interpreted per element in Spark — higher-order functions
    are CodegenFallback — and was the execute-time hot spot (9.4s at
    sf0.1 vs 0.27s for this plan's warm data path). The shuffle this
    buys is narrow: partial aggregation reduces each partition to
    ``bits`` longs per doc before the exchange. Remaining first-run cost
    is one-time Janino compilation of the wide aggregate — constant at
    any scale, irrelevant at 100 TB. Docs with no tokens keep sh=0
    (explode_outer + NULL-sum CASEs), matching the oracles'
    coalesce(list_sum)."""
    tok = docs.selectExpr(
        "doc_id",
        f"explode_outer({textops.toks_expr('spark')}) AS t",
    ).selectExpr("doc_id", f"{textops.tok_hash60('spark', 't')} AS x")
    sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"2 * (cast(shiftright(x, {b}) as bigint) & 1) - 1")).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sh = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN cast({1 << b} as bigint) ELSE 0 END)" for b in range(bits)
    )
    return sums.selectExpr("doc_id", f"coalesce({sh}, 0) AS sh")


def _simhash_fp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, 48-bit simhash) for the near-dup banding."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    return _simhash_sums_df(docs, textops.SIMHASH_WIDE_BITS)


@register(
    "simhash_near_dup",
    # The oracle verifies the banded join against the exhaustive
    # all-pairs form — quadratic is fine at oracle scale; the Spark side
    # only ever joins within 12-bit band buckets (sparse at corpus
    # scale, see textops.SIMHASH_WIDE_BITS).
    oracle=f"""
    WITH hs AS (
        SELECT doc_id,
               {textops.tok_hash_array_expr('duckdb', textops.toks_expr('duckdb'))} AS hsarr
        FROM documents
    ),
    fp AS (
        SELECT doc_id,
               {textops.simhash_from_hashes_expr('duckdb', 'hsarr', textops.SIMHASH_WIDE_BITS)} AS sh
        FROM hs
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           cast(bit_count(xor(cast(a.sh as bigint), cast(b.sh as bigint))) as int) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(cast(a.sh as bigint), cast(b.sh as bigint))) <= {SIMHASH_MAX_HD}
    ORDER BY doc_a, doc_b
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: 48-bit simhash -> 12-bit band
    bucketing -> within-bucket join -> exact Hamming filter. By
    pigeonhole, any pair within the Hamming threshold shares at least
    one identical band, so the bucketed join finds exactly the all-pairs
    result without ever comparing across buckets — the same
    candidates-only discipline as MinHash-LSH. Band width is the scale
    valve: 2^12 buckets/band keeps buckets sparse where the earlier
    16-bit/4-bit-band form degenerated to all-pairs within 16 buckets."""
    # the self-join references the signature table TWICE: cut lineage so
    # tokenize+hash+simhash runs once, not once per side (measured ~1s
    # of the 3.7s at sf0.1; at scale this is a materialized table)
    # gated: one fixed-width row per doc, but a billion-doc corpus
    # still cannot live in executor storage
    fp = gated_local_checkpoint(_simhash_fp_df(spark, sf_dir), sf_dir, max_rows=20_000_000)
    bands = fp.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"shiftright(sh, {_BAND_BITS * b}) & {_BAND_MASK}").alias("val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "sh", "bv.band", "bv.val")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("cast(bit_count(a.sh ^ b.sh) as int)").alias("hamming"),
        )
        # hamming filter BEFORE the pair dedup: it's map-side computable
        # and every copy of a pair carries the same hamming, so filtering
        # first shrinks the dedup shuffle to surviving pairs only
        .filter(F.col("hamming") <= SIMHASH_MAX_HD)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs.orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs (word-3-gram shingles)
# ---------------------------------------------------------------------------

N_PERM = 6
BAND_SIZE = 2  # -> 3 bands


def _lsh_ctes_duckdb() -> str:
    """Shared DuckDB CTE chain: docs -> shingles -> minhash -> bands ->
    candidate pairs. Reused by the minhash oracle AND the jaccard oracle
    (which computes exact similarity over the candidates only)."""
    toks = textops.toks_expr("duckdb")
    return f"""
    docs_t AS (
        SELECT doc_id, {toks} AS toks FROM documents
        WHERE len({toks}) >= 3
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS sh
        FROM docs_t
        CROSS JOIN (SELECT unnest(generate_series(1,
            (SELECT max(len(toks)) FROM docs_t))) AS i) g
        WHERE i <= len(toks) - 2
    ),
    mh AS (
        SELECT doc_id, p.perm, min(md5(concat(cast(p.perm as varchar), '|', sh))) AS mh
        FROM shingles CROSS JOIN (SELECT unnest(generate_series(0, {N_PERM - 1})) AS perm) p
        GROUP BY doc_id, p.perm
    ),
    bands AS (
        SELECT doc_id, cast(floor(perm / cast({BAND_SIZE} as double)) as int) AS band,
               md5(string_agg(mh, '|' ORDER BY perm)) AS sig
        FROM mh
        GROUP BY doc_id, cast(floor(perm / cast({BAND_SIZE} as double)) as int)
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )"""


def _minhash_sql_duckdb() -> str:
    return f"""
    WITH {_lsh_ctes_duckdb()}
    SELECT doc_a, doc_b FROM cands
    ORDER BY doc_a, doc_b
    """


def _shingles_df(spark: SparkSession, sf_dir: str, distinct: bool = True) -> DataFrame:
    """(doc_id, word-3-gram shingle) rows — the substrate for both LSH
    candidate generation and exact Jaccard verification.

    distinct=True (a full |shingles| shuffle) is required only where
    shingles are COUNTED (exact Jaccard set sizes/intersections). The
    minhash path skips it: min(md5(p|sh)) over a multiset equals the min
    over the distinct set, so dedupe there would buy nothing and cost a
    wide exchange."""
    docs = spread_unsplittable_scan(
        load(spark, sf_dir, ("documents",))["documents"], sf_dir, "documents"
    )
    toks = textops.toks_expr("spark")
    docs_t = docs.selectExpr("doc_id", f"{toks} AS toks").filter(F.expr("size(toks) >= 3"))
    out = (
        docs_t.select("doc_id", F.explode(F.expr("sequence(1, size(toks) - 2)")).alias("i"), "toks")
        .selectExpr("doc_id", "array_join(slice(toks, i, 3), ' ') AS sh")
    )
    return out.distinct() if distinct else out


def _lsh_candidate_pairs(shingles: DataFrame) -> DataFrame:
    """Shingles -> per-permutation minhash (md5 hex min — identical total
    order in both engines) -> band signatures -> self-join on (band, sig).

    All N_PERM minima are computed in ONE groupBy(doc_id) pass (each
    shingle row evaluates N_PERM md5s map-side; partial aggregation
    shrinks every partition to one row per doc before the exchange), and
    band signatures are derived map-side from the min columns — so the
    whole sketch costs a single shuffle whose volume is |shingles|, not
    |shingles| x N_PERM. The only other wide op is the band-bucket join,
    keyed on (band, sig) whose cardinality grows with the corpus —
    classic shuffle-balanced LSH, no O(n^2) stage."""
    mins = shingles.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"md5(concat('{p}|', sh))")).alias(f"mh{p}")
            for p in range(N_PERM)
        ]
    )
    n_bands = N_PERM // BAND_SIZE
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"mh{p}")
                                    for p in range(
                                        band * BAND_SIZE, (band + 1) * BAND_SIZE
                                    )
                                ],
                            )
                        ).alias("sig"),
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")
    # (a lazy localCheckpoint on bands was tried and reverted: the two
    # sides of the self-join re-derive the band table, but measured
    # wall time is identical — the band join itself dominates, and the
    # checkpoint only adds executor storage)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register("minhash_lsh_pairs", headline=True, oracle=_minhash_sql_duckdb())
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs over word-3-gram shingles.
    Candidates are then verified by exact Jaccard (ngram_jaccard_pairs)
    on the (small) candidate set."""
    return _lsh_candidate_pairs(_shingles_df(spark, sf_dir, distinct=False)).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs
# ---------------------------------------------------------------------------

JACCARD_MIN_Q = 200_000  # 0.2 quantized


LSH_VERIFY_BCAST_MAX_DOCS = 20_000  # shingle/size join-side broadcast gate
# for the LSH verify stage: the lazily-checkpointed shingle table INHERITS
# its pre-checkpoint size estimate, which for explode-over-compressed-
# parquet undercounts ~60x (sf10 measured: 57 MB estimate, 3.7 GiB
# materialized — the plan-time BroadcastHashJoin GC-thrashed the JVM to
# death; `tools/scaling.py sweep` found it). Below the gate the shingle table
# is genuinely broadcast material; above it, a MERGE hint pins sort-merge
# — the only strategy that spills gracefully at this size (shuffle-hash
# was tried and failed at sf10: 32 concurrent build-side hash maps
# exhausted the execution pool, "Can't acquire 67108864 bytes memory to
# build hash relation"). Stat failure -> conservative.


def _corpus_scaled_side(df: DataFrame, sf_dir: str) -> DataFrame:
    """A join side whose true size scales with the corpus: allow the
    planner's broadcast only below the docs-count gate, else pin a
    spillable sort-merge join (never a broadcast, never an in-memory
    hash build)."""
    n_docs = footer_stat(sf_dir, "documents")
    if n_docs is not None and n_docs <= LSH_VERIFY_BCAST_MAX_DOCS:
        return df
    return df.hint("merge")


def _jaccard_ctes_duckdb() -> str:
    """LSH CTE chain extended with exact-Jaccard verification: jpairs =
    candidate pairs whose word-3-gram Jaccard >= threshold. Shared by the
    jaccard query and the cluster-resolution oracle."""
    jac = textops.quant_ratio_expr("common", "(na + nb - common)")
    return f"""{_lsh_ctes_duckdb()},
    sizes AS (SELECT doc_id, count(*) AS nsh FROM shingles GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS common
        FROM cands c
        JOIN shingles a ON a.doc_id = c.doc_a
        JOIN shingles b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY c.doc_a, c.doc_b
    ),
    jpairs AS (
        SELECT doc_a, doc_b, {jac} AS jaccard_q
        FROM (
            SELECT doc_a, doc_b, common, sa.nsh AS na, sb.nsh AS nb
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        )
        WHERE {jac} >= {JACCARD_MIN_Q}
    )"""


def _jaccard_sql_duckdb() -> str:
    return f"""
    WITH {_jaccard_ctes_duckdb()}
    SELECT doc_a, doc_b, jaccard_q FROM jpairs
    ORDER BY doc_a, doc_b
    """


def _jaccard_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-verified near-dup edges (doc_a, doc_b, jaccard_q), computed
    over LSH candidates only — the 100 TB shape. The raw shingle self-join
    would fan out quadratically on hot shingles; gating on minhash
    candidates makes the verify stage linear in the candidate count. No
    blanket broadcast hints: every corpus-scaling join side goes through
    _corpus_scaled_side (broadcast below the docs gate, spillable
    sort-merge above — see LSH_VERIFY_BCAST_MAX_DOCS for the sf10
    failure that motivated it; shuffle-hash was tried there and its
    in-memory build OOM'd too)."""
    # the shingle table feeds the LSH candidate stage AND both sides of
    # the common-shingle verify AND the size rollup (~5 plan references):
    # cut lineage so tokenize+shingle runs once (2.5 -> 1.7 s at sf0.1;
    # minhash alone doesn't benefit — its shingles are read once)
    # gated (r12): ~90 shingle rows/doc — the 5M-doc corpus OOMs a 24g
    # heap when this materializes to executor storage; above the gate
    # each consumer recomputes the tokenize+shingle map work instead
    shingles = gated_local_checkpoint(_shingles_df(spark, sf_dir), sf_dir)
    cands = _lsh_candidate_pairs(shingles)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    sca = lambda df: _corpus_scaled_side(df, sf_dir)  # noqa: E731
    common = (
        cands.join(sca(shingles.selectExpr("doc_id AS doc_a", "sh")), "doc_a")
        .join(sca(shingles.selectExpr("doc_id AS doc_b", "sh")), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = textops.quant_ratio_expr("common", "(na + nb - common)")
    return (
        common.join(sca(sizes.selectExpr("doc_id AS doc_a", "nsh AS na")), "doc_a")
        .join(sca(sizes.selectExpr("doc_id AS doc_b", "nsh AS nb")), "doc_b")
        .withColumn("jaccard_q", F.expr(jac))
        .filter(F.col("jaccard_q") >= JACCARD_MIN_Q)
        .select("doc_a", "doc_b", "jaccard_q")
    )


@register("ngram_jaccard_pairs", oracle=_jaccard_sql_duckdb())
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard (>= 0.2) over LSH candidates — see
    _jaccard_pairs_df for the scale rationale."""
    return _jaccard_pairs_df(spark, sf_dir).orderBy("doc_a", "doc_b")


def _clusters_sql_duckdb() -> str:
    return f"""
    WITH RECURSIVE {_jaccard_ctes_duckdb()},
    e2 AS (
        SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION ALL
        SELECT doc_b, doc_a FROM jpairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e2.dst, reach.r FROM reach JOIN e2 ON e2.src = reach.id
    )
    SELECT id AS doc_id, min(r) AS cluster_id, (min(r) <> id) AS is_dup
    FROM reach GROUP BY id
    ORDER BY doc_id
    """


@register("near_dup_clusters", oracle=_clusters_sql_duckdb())
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-game of the dedup pipeline: LSH candidates -> exact-Jaccard
    edges -> connected components -> one canonical doc (min doc_id) per
    cluster; is_dup marks the rows a dedup pass would drop. Components
    come from distributed min-label propagation (operators/graph.py) —
    every round is one |E| shuffle, no quadratic stage, lineage
    checkpointed per round. The DuckDB oracle computes the same fixpoint
    via a recursive CTE, so the equivalence check covers the whole
    pipeline end-to-end."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    comp = connected_components(
        docs.select("doc_id"),
        _jaccard_pairs_df(spark, sf_dir),
        node_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("component") != F.col("id")).alias("is_dup"),
    ).orderBy("doc_id")


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_jaccard_ctes_duckdb()},
    e2 AS (
        SELECT doc_a AS src, doc_b AS dst FROM jpairs
        UNION ALL
        SELECT doc_b, doc_a FROM jpairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e2.dst, reach.r FROM reach JOIN e2 ON e2.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    q AS (SELECT doc_id, cast(len({textops.toks_expr('duckdb')}) as bigint) AS n_tokens
          FROM documents),
    m AS (SELECT comp.cluster_id, comp.doc_id, q.n_tokens
          FROM comp JOIN q ON q.doc_id = comp.doc_id),
    best AS (SELECT cluster_id, max(n_tokens) AS keep_tokens,
                    cast(count(*) as bigint) AS n_members
             FROM m GROUP BY cluster_id)
    SELECT best.cluster_id,
           min(m.doc_id) AS keep_doc,
           best.keep_tokens,
           best.n_members,
           best.n_members - 1 AS n_dropped
    FROM m JOIN best ON m.cluster_id = best.cluster_id
               AND m.n_tokens = best.keep_tokens
    GROUP BY best.cluster_id, best.keep_tokens, best.n_members
    ORDER BY best.cluster_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention — the stage AFTER clustering that
    near_dup_clusters stops short of: within each near-dup cluster keep
    the best document (max token count, ties to min doc_id) instead of
    the arbitrary min-id canonical. This is how production corpora
    retain the longest/cleanest copy of a duplicated page (the FineWeb /
    Dolma convention) rather than whichever crawled first.

    Plan shape: clusters come from the same LSH -> exact-Jaccard ->
    min-label-propagation pipeline (linear rounds, no quadratic stage);
    quality is a map-only token count; representative selection is ONE
    keyed aggregation — max(struct(n_tokens, -doc_id)) picks the max
    token count with ties to the smallest doc_id (struct comparison is
    lexicographic and doc_id >= 0, so max of -doc_id is the min id) in
    the same pass that counts members. The r14 shape was two keyed
    aggregations bridged by a join back to the full membership, which
    recomputed the membership lineage (token counts + the cluster join)
    once per side and shuffled it twice; at sf10 that second-agg input
    was the measured cost center (212 s). At 100 TB the quality column
    rides the same shuffle as the membership and keep selection is one
    map-side-combined aggregation over it — no membership-sized join
    anywhere."""
    docs = load(spark, sf_dir, ("documents",))["documents"]
    comp = connected_components(
        docs.select("doc_id"),
        _jaccard_pairs_df(spark, sf_dir),
        node_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
    ).selectExpr("id AS doc_id", "component AS cluster_id")
    q = docs.selectExpr(
        "doc_id",
        f"cast(size({textops.toks_expr('spark')}) as bigint) AS n_tokens",
    )
    m = comp.join(q, "doc_id")
    return (
        m.groupBy("cluster_id")
        .agg(
            F.max(F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("__negid"))).alias("__mx"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .select(
            "cluster_id",
            (-F.col("__mx.__negid")).alias("keep_doc"),
            F.col("__mx.n_tokens").alias("keep_tokens"),
            "n_members",
            (F.col("n_members") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Embedding similarity: brute-force kNN + exact near-dup + LSH scale path
# ---------------------------------------------------------------------------


def _dot_expr(dialect: str, a: str, b: str) -> str:
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
            f"cast(0 as double), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"x -> cast(x[1] as double) * cast(x[2] as double)), (p, q) -> p + q)"
    )


def _norm_expr(dialect: str, a: str) -> str:
    return f"sqrt({_dot_expr(dialect, a, a)})"


@register(
    "knn_embeddings",
    headline=True,
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sims AS (
        SELECT vec_id,
               cast(floor(({_dot_expr('duckdb', 'embedding', 'qv')} /
                    ({_norm_expr('duckdb', 'embedding')} * {_norm_expr('duckdb', 'qv')}))
                    * cast(1000000 as double)) as bigint) AS sim_q
        FROM embeddings CROSS JOIN q
        WHERE vec_id <> 0
    )
    SELECT vec_id, sim_q FROM sims ORDER BY sim_q DESC, vec_id LIMIT 10
    """,
)
def knn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector: broadcast the query,
    one narrow map + a global top-k (TakeOrderedAndProject — no full sort).
    The IVF/LSH scale path is embedding_lsh_near_dup."""
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sim = (
        f"cast(floor(({_dot_expr('spark', 'embedding', 'qv')} / "
        f"({_norm_expr('spark', 'embedding')} * {_norm_expr('spark', 'qv')})) "
        f"* cast(1000000 as double)) as bigint)"
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .selectExpr("vec_id", f"{sim} AS sim_q")
        .orderBy(F.col("sim_q").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# IVF-flat approximate nearest neighbor (the coarse-quantizer scale path
# next to the sign-LSH one): assign every vector to its nearest of K
# centroids, probe only the NPROBE cells nearest the query, brute-force
# inside the probed cells. At 100 TB: assignment is one broadcast-K map
# pass + a co-partitioned property join; the search touches NPROBE/K of
# the corpus instead of all of it.
# ---------------------------------------------------------------------------

IVF_K = 8  # deterministic seed centroids: vec_id 1..K (kmeans-init stand-in)
IVF_NPROBE = 2
IVF_TOPK = 10
# argmax tiebreak as pure integer math (hash-exact in both engines):
# combined = (sim_q + 2_000_000) * 16 + (15 - cid); max -> highest sim,
# ties -> smallest centroid id. The +2e6 offset keeps combined positive
# so the mod-16 decode is sign-safe.
_IVF_COMBINE = "( ({sim} + 2000000) * 16 + (15 - {cid}) )"


def _ivf_sql_duckdb() -> str:
    simc = (
        f"cast(floor(({_dot_expr('duckdb', 'v.embedding', 'c.cv')} / (v.nrm * c.cnrm))"
        f" * cast(1000000 as double)) as bigint)"
    )
    simq = (
        f"cast(floor(({_dot_expr('duckdb', 'v.embedding', 'q.qv')} / (v.nrm * q.qnrm))"
        f" * cast(1000000 as double)) as bigint)"
    )
    comb = _IVF_COMBINE.format(sim=simc, cid="c.cid")
    return f"""
    WITH base AS (
        SELECT vec_id, embedding, {_norm_expr('duckdb', 'embedding')} AS nrm
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm FROM base
        WHERE vec_id BETWEEN 1 AND {IVF_K}
    ),
    assign AS (
        SELECT v.vec_id, 15 - (max({comb}) % 16) AS cid
        FROM base v CROSS JOIN cents c
        WHERE v.vec_id <> 0
        GROUP BY v.vec_id
    ),
    q AS (
        SELECT embedding AS qv, nrm AS qnrm FROM base WHERE vec_id = 0
    ),
    probes AS (
        SELECT cid FROM (
            SELECT c.cid,
                   row_number() OVER (ORDER BY {simc.replace('v.embedding', 'q.qv').replace('v.nrm', 'q.qnrm')} DESC, c.cid) AS rn
            FROM q CROSS JOIN cents c
        ) WHERE rn <= {IVF_NPROBE}
    )
    SELECT v.vec_id, a.cid, {simq} AS sim_q
    FROM assign a
    JOIN probes p ON a.cid = p.cid
    JOIN base v ON v.vec_id = a.vec_id
    CROSS JOIN q
    ORDER BY sim_q DESC, v.vec_id
    LIMIT {IVF_TOPK}
    """


@register("knn_ivf_embeddings", oracle=_ivf_sql_duckdb())
def knn_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: nearest-centroid assignment (broadcast K centroids,
    one narrow pass + partial-agg argmax), probe the NPROBE best cells
    for the query, exact cosine only inside the probed cells, global
    top-k via TakeOrderedAndProject. Deterministic end-to-end (integer
    argmax combine), so the whole index+search pipeline hash-verifies
    against DuckDB; recall vs brute force is measured in tests."""
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    base = emb.selectExpr(
        "vec_id", "embedding", f"{_norm_expr('spark', 'embedding')} AS nrm"
    )
    cents = base.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= IVF_K)).selectExpr(
        "vec_id AS cid", "embedding AS cv", "nrm AS cnrm"
    )
    simc = (
        f"cast(floor(({_dot_expr('spark', 'embedding', 'cv')} / (nrm * cnrm))"
        f" * cast(1000000 as double)) as bigint)"
    )
    comb = _IVF_COMBINE.format(sim=simc, cid="cid")
    assign = (
        base.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(cents))
        .selectExpr("vec_id", f"{comb} AS combined")
        .groupBy("vec_id")
        .agg((F.lit(15) - (F.max("combined") % 16)).alias("cid"))
    )
    q = base.filter(F.col("vec_id") == 0).selectExpr("embedding AS qv", "nrm AS qnrm")
    simc_q = (
        f"cast(floor(({_dot_expr('spark', 'qv', 'cv')} / (qnrm * cnrm))"
        f" * cast(1000000 as double)) as bigint)"
    )
    probes = (
        cents.crossJoin(F.broadcast(q))
        .selectExpr("cid", f"{simc_q} AS s")
        .orderBy(F.col("s").desc(), "cid")
        .limit(IVF_NPROBE)
        .select("cid")
    )
    simq = (
        f"cast(floor(({_dot_expr('spark', 'embedding', 'qv')} / (nrm * qnrm))"
        f" * cast(1000000 as double)) as bigint)"
    )
    return (
        assign.join(F.broadcast(probes), "cid")
        .join(base, "vec_id")
        .crossJoin(F.broadcast(q))
        .selectExpr("vec_id", "cid", f"{simq} AS sim_q")
        .orderBy(F.col("sim_q").desc(), "vec_id")
        .limit(IVF_TOPK)
    )


NEAR_DUP_MIN_Q = 400_000  # cosine >= 0.4 (synthetic embeddings are near-orthogonal)


def embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEST-ONLY exact baseline: all-pairs cosine via self-theta-join.
    O(n^2) nested-loop — deliberately NOT a registered query (it cannot
    survive scale); tests/test_llm.py uses it to measure LSH recall."""
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    n = emb.selectExpr("vec_id", "embedding", f"{_norm_expr('spark', 'embedding')} AS nrm")
    a = n.alias("a")
    b = n.alias("b")
    sim = (
        f"cast(floor(({_dot_expr('spark', 'a.embedding', 'b.embedding')} / (a.nrm * b.nrm)) "
        f"* cast(1000000 as double)) as bigint)"
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .selectExpr("a.vec_id AS vec_a", "b.vec_id AS vec_b", f"{sim} AS sim_q")
        .filter(F.col("sim_q") >= NEAR_DUP_MIN_Q)
        .orderBy("vec_a", "vec_b")
    )


LSH_BANDS = 8
LSH_BAND_BITS = 8  # 8 bands x 8 sign-bits = all 64 dims; 2^8 buckets per
# band keeps buckets sparse (the 4-bit version had 16 buckets/band and
# its within-bucket join degenerated toward all-pairs as N grew) while
# 8 band chances keep recall ~99% for cos >= 0.95 pairs.

# ANY fixed bucket count degenerates eventually: with 2^8 buckets/band,
# per-bucket load grows with the corpus and candidate pairs grow
# QUADRATICALLY — measured by the round-10 full-schema sf10 sweep: 7M
# candidate pairs at 20k vectors -> 702M at 200k (100x pairs on 10x
# data), the same class as the round-4 simhash bug. The footer-stat
# gate below widens each band's signature with EXTRA pair-difference
# hyperplane bits so CANDIDATES scale LINEARLY — sized by the measured
# per-bit collision factor (LSH_BIT_COLLISION below; the uniform-model
# log2 sizing left candidates at ~n^1.4, r13 stage probe). At the
# oracle scale factors the gate yields 0 extra bits, so the DuckDB
# twin needs no scale branch. Recall trade (documented, inherent to
# LSH): per-band match prob at cos 0.95 is 0.899^bits — 8 bands of
# 8+9 bits (200k vectors) give ~76% vs ~99% at 8 bits; at 100 TB you'd
# buy recall back with more bands, the standard dial.
LSH_TARGET_BUCKET_LOAD = 16
LSH_EXTRA_BITS_MAX = 16
# Measured per-extra-bit collision factor on real (driver-derived)
# embeddings: each pair-difference hyperplane bit removes only ~0.63 of
# the remaining collision mass, NOT the 0.5 an independent-uniform-bit
# model assumes — real embedding dimensions are correlated, so sign
# bits are biased and partially redundant. Derivation (r13 stage probe,
# SCALING.json embedding_lsh_stages): candidate pairs scale as
# n^2 * sum_b p_b^2; sf1 -> sf10 grew n^2 by 100x while +3 widened bits
# held measured candidates to 24.55x, so the 3 bits bought 0.2455 =
# c^3 -> c = 0.626. Sizing extra bits with log(1/0.63) instead of
# log2 keeps CANDIDATES (not just the idealized bucket load) linear in
# the corpus; the price is wider signatures and lower per-band recall
# (0.899^bits at cos 0.95) — bought back with more bands at 100 TB,
# the standard LSH dial documented on LSH_BAND_BITS above.
LSH_BIT_COLLISION = 0.63


def _lsh_extra_bits(sf_dir: str) -> int:
    """Extra sign-bits per band so the CANDIDATE count stays linear in
    the corpus: bits = ceil(log(n / (load * 2^8)) / log(1/0.63)), the
    uniform-model log2 corrected by the measured per-bit collision
    factor (see LSH_BIT_COLLISION — the r13 stage probe showed log2
    sizing leaves candidates growing ~n^1.4 on correlated real
    vectors). O(1) parquet footer read, no Spark job (the
    pagerank/spans gate pattern). Stat failure assumes a LARGE corpus
    (max widening) — the conservative direction, matching
    _corpus_scaled_side's 'stat unavailable -> huge' convention: a
    footer read Spark's scan tolerates (part-files without .parquet
    suffix, a pyarrow quirk) must not silently re-expose the quadratic
    candidate blowup; narrow-recall on a small corpus fails loudly in
    parity, quadratic candidates at 100 TB fail the cluster."""
    import math

    n = footer_stat(sf_dir, "embeddings")
    if n is None:
        return LSH_EXTRA_BITS_MAX
    base_buckets = 1 << LSH_BAND_BITS
    if n <= LSH_TARGET_BUCKET_LOAD * base_buckets:
        return 0
    return min(
        LSH_EXTRA_BITS_MAX,
        math.ceil(
            math.log(n / (LSH_TARGET_BUCKET_LOAD * base_buckets))
            / math.log(1.0 / LSH_BIT_COLLISION)
        ),
    )


def _lsh_pair_dims(e: int) -> tuple[str, str]:
    """0-based dimensions (i, j) of extra bit e, as SQL over the `band`
    column: i = (8*band + e) % 64, j = (i + 17 + 3e) % 64 (the offset is
    never 0 mod 64 for e <= 15, so i != j)."""
    i = f"((band * {LSH_BAND_BITS} + {e}) % 64)"
    return i, f"(({i} + {17 + 3 * e}) % 64)"


def _lsh_bucket_expr(at, extra: int) -> str:
    """One band's bucket, as SQL over the `band` column: LSH_BAND_BITS
    dimension-sign bits plus `extra` pair-difference hyperplane bits
    sign(x[i] - x[j]) — a valid random-hyperplane family (normal
    e_i - e_j), linearly independent of the single-dimension base bits,
    so the widened buckets split evenly. `at(k)` renders the dialect's
    1-based `embedding` element k. Written once over the band column
    (8 + extra terms) instead of unrolled per band: at
    LSH_EXTRA_BITS_MAX the unrolled form's generated Java exceeded
    Janino's 64 KB method limit."""
    base = [
        f"(CASE WHEN cast({at(f'band * {LSH_BAND_BITS} + {i + 1}')} as double) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(LSH_BAND_BITS)
    ]
    widened = []
    for e in range(extra):
        i, j = _lsh_pair_dims(e)
        widened.append(
            f"(CASE WHEN cast({at(f'{i} + 1')} as double) - cast({at(f'{j} + 1')} as double) > 0"
            f" THEN {1 << (LSH_BAND_BITS + e)} ELSE 0 END)"
        )
    return " + ".join(base + widened)


def _embedding_lsh_sql_duckdb(extra: int = 0) -> str:
    """DuckDB twin of the banded sign-LSH near-dup — the bucketing is fully
    deterministic (dimension signs), so the scale path is hash-verifiable.

    ``extra`` mirrors _lsh_extra_bits: both dialects render the bucket
    from the same _lsh_bucket_expr over a `band` column (identical
    (i, j) per (band, e)), so oracle parity holds at EVERY corpus size,
    not only where the gate is 0. The static registration keeps
    extra=0 (true at all driver SFs); tools/check_parity.py and the
    parity tests use the registered oracle_fn, which threads the live
    footer-gated count."""
    bucket = _lsh_bucket_expr(lambda k: f"embedding[{k}]", extra)
    sim = (
        f"cast(floor(({_dot_expr('duckdb', 'a.embedding', 'b.embedding')} / (a.nrm * b.nrm))"
        f" * cast(1000000 as double)) as bigint)"
    )
    return f"""
    WITH n AS (
        SELECT vec_id, embedding, {_norm_expr('duckdb', 'embedding')} AS nrm
        FROM embeddings
    ),
    banded AS (
        SELECT vec_id, band, {bucket} AS bucket
        FROM n CROSS JOIN (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS band) bs
    ),
    cands AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, {sim} AS sim_q
    FROM cands c
    JOIN n a ON a.vec_id = c.vec_a
    JOIN n b ON b.vec_id = c.vec_b
    WHERE {sim} >= {NEAR_DUP_MIN_Q}
    ORDER BY vec_a, vec_b
    """


@register(
    "embedding_lsh_near_dup",
    oracle=_embedding_lsh_sql_duckdb(),
    oracle_fn=lambda sf_dir: _embedding_lsh_sql_duckdb(_lsh_extra_bits(sf_dir)),
)
def embedding_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIMARY near-dup query — banded sign-LSH. Each vector gets
    LSH_BANDS buckets (LSH_BAND_BITS dimension-signs each); pairs sharing
    any band bucket are exact-cosine-checked. Tunable recall/cost: more
    bands -> higher recall, more candidates. The candidate join is on
    (band, bucket) — bounded fan-out, no O(n^2) stage. The bucketing is
    deterministic, so a DuckDB oracle verifies it exactly; recall vs the
    exact baseline is measured in tests/test_llm.py.

    Corpus-scaling gate: above LSH_TARGET_BUCKET_LOAD * 2^8 vectors the
    band signatures gain _lsh_extra_bits footer-gated hyperplane bits,
    keeping bucket load (and hence the candidate join) LINEAR in the
    corpus — the fixed-2^8 version measured 702M candidate pairs at
    200k vectors (see the LSH_TARGET_BUCKET_LOAD comment). The gate is
    0 at every oracle scale factor, so this plan and the DuckDB twin
    stay bit-identical where the driver hash-compares them."""
    n, cands = _lsh_stages(spark, sf_dir)
    return _lsh_verify(cands, n)


def _lsh_stages(spark: SparkSession, sf_dir: str):
    """The LSH pipeline's frames: (normed vectors, distinct candidate
    pairs)."""
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    n = emb.selectExpr("vec_id", "embedding", f"{_norm_expr('spark', 'embedding')} AS nrm")
    bucket = _lsh_bucket_expr(lambda k: f"element_at(embedding, {k})", _lsh_extra_bits(sf_dir))
    # bands carry only (vec_id, band, bucket): the candidate self-join
    # shuffles narrow rows, and the cosine runs ONCE per DISTINCT pair
    # after dedupe (the old form computed the 64-dim dot per candidate
    # occurrence, up to once per shared band, before deduping)
    banded = n.selectExpr(
        "vec_id", "embedding", f"explode(sequence(0, {LSH_BANDS - 1})) AS band"
    ).selectExpr("vec_id", "band", f"{bucket} AS bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    return n, cands


def _lsh_verify(cands: DataFrame, n: DataFrame) -> DataFrame:
    """Exact-cosine verification of the candidate pairs (stage 3)."""
    sim = (
        f"cast(floor(({_dot_expr('spark', 'ea', 'eb')} / (na * nb)) "
        f"* cast(1000000 as double)) as bigint)"
    )
    return (
        cands.join(n.selectExpr("vec_id AS vec_a", "embedding AS ea", "nrm AS na"), "vec_a")
        .join(n.selectExpr("vec_id AS vec_b", "embedding AS eb", "nrm AS nb"), "vec_b")
        .selectExpr("vec_a", "vec_b", f"{sim} AS sim_q")
        .filter(F.col("sim_q") >= NEAR_DUP_MIN_Q)
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus preparation (the composite an LLM-data engineer runs)
# ---------------------------------------------------------------------------


def _corpus_prep_parts(dialect: str) -> tuple[str, str]:
    """Shared inner/outer select lists for the corpus-prep pipeline:
    stage 1 computes fingerprint + quality metrics + language scores in one
    map-only pass; stage 2 resolves the lang argmax. Both dialects compile
    from the same builders so the oracle is the same arithmetic."""
    quality = _quality_sql(dialect)  # doc_id, n_tokens, n_stop, ratios, quality_ok
    fp = (
        "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp"
        if dialect == "duckdb"
        else "md5(lower(regexp_replace(trim(text), '\\s+', ' '))) AS fp"
    )
    scores = textops.lang_score_exprs(dialect, "__t")  # over _tok_layer's array
    langs = sorted(scores)
    inner = quality + [fp] + [f"{scores[lang]} AS s_{lang}" for lang in langs]
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    cases = " ".join(f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs)
    outer = f"(CASE {cases} END) AS lang_pred"
    return ", ".join(inner), outer


def _corpus_prep_sql_duckdb() -> str:
    inner, outer = _corpus_prep_parts("duckdb")
    return f"""
    WITH tokd AS (
        SELECT {', '.join(_tok_layer('duckdb'))} FROM documents WHERE n_chars > 0
    ),
    scored AS (
        SELECT {inner} FROM tokd
    ),
    pred AS (
        SELECT doc_id, fp, n_tokens, stop_ratio_q, quality_ok, {outer}
        FROM scored
    ),
    kept AS (
        SELECT * FROM pred
        QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    )
    SELECT lang_pred,
           count(*) AS n_docs,
           cast(sum(n_tokens) as bigint) AS total_tokens,
           cast(floor(avg(stop_ratio_q)) as bigint) AS mean_stop_ratio_q
    FROM kept
    WHERE quality_ok
    GROUP BY lang_pred
    ORDER BY lang_pred
    """


@register(
    "corpus_prep_rollup",
    oracle=_corpus_prep_sql_duckdb(),
    doc="End-to-end corpus preparation: quality metrics + language ID in "
    "one map-only pass, exact dedup (min doc_id per normalized-text "
    "fingerprint), quality gate, per-language token rollup. Two shuffles "
    "total at any scale: the fingerprint window and the final small "
    "groupBy — the composite inherits each stage's linear plan",
)
def corpus_prep_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, ("documents",))["documents"]
    inner, outer = _corpus_prep_parts("spark")
    tokd = docs.filter(F.col("n_chars") > 0).selectExpr(*_tok_layer("spark"))
    scored = tokd.selectExpr(*_split_exprs(inner))
    pred = scored.selectExpr(
        "doc_id", "fp", "n_tokens", "stop_ratio_q", "quality_ok", *_split_exprs(outer)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = pred.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        kept.filter(F.col("quality_ok"))
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.floor(F.avg("stop_ratio_q")).alias("mean_stop_ratio_q"),
        )
        .orderBy("lang_pred")
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting (whitespace counting lives in text_quality)
# ---------------------------------------------------------------------------

# One pattern, two literal encodings: DuckDB string literals pass
# backslashes through verbatim; Spark SQL literals consume one escape level.
_BPE_RE_DUCK = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"
_BPE_RE_SPARK = "[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]"


@register(
    "token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           cast(len(regexp_extract_all(text, '{_BPE_RE_DUCK}')) as bigint) AS n_pieces,
           cast(coalesce(list_sum(list_transform(
                    regexp_extract_all(text, '{_BPE_RE_DUCK}'),
                    t -> cast(ceil(length(t) / 4.0) as bigint))), 0) as bigint)
               AS n_bpe_est
    FROM documents
    ORDER BY doc_id
    """,
    doc="BPE-ish token estimate: lex into word/punctuation pieces with one "
    "regex, charge ceil(len/4) subwords per piece (the ~4-chars-per-token "
    "rule). Map-only array lambdas, no shuffle, no Python — the budget "
    "pass a corpus-sizing job runs before training",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, ("documents",))["documents"]
    pieces = f"regexp_extract_all(text, '{_BPE_RE_SPARK}', 0)"
    # materialize the piece array once: inlining `pieces` into both
    # output expressions would run the regex lexer twice per row
    return docs.selectExpr("doc_id", f"{pieces} AS __p").selectExpr(
        "doc_id",
        "cast(size(__p) as bigint) AS n_pieces",
        "aggregate(__p, cast(0 as bigint), (a, t) -> a + cast(ceil(length(t) / 4.0) as bigint)) AS n_bpe_est",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Incremental ingest dedup: new batch vs already-ingested corpus
# ---------------------------------------------------------------------------

BATCH_START = 400  # doc_id >= BATCH_START plays the "newly arrived" batch


@register(
    "incremental_dedup_ingest",
    oracle=f"""
    WITH {_jaccard_ctes_duckdb()},
    batch AS (SELECT doc_id FROM documents WHERE doc_id >= {BATCH_START}),
    vs_existing AS (
        SELECT DISTINCT doc_b AS doc_id FROM jpairs
        WHERE doc_a < {BATCH_START} AND doc_b >= {BATCH_START}
    ),
    vs_batch AS (
        SELECT DISTINCT doc_b AS doc_id FROM jpairs
        WHERE doc_a >= {BATCH_START}
    )
    SELECT b.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'near_dup'
                WHEN i.doc_id IS NOT NULL THEN 'intra_batch_dup'
                ELSE 'new' END AS verdict
    FROM batch b
    LEFT JOIN vs_existing e ON e.doc_id = b.doc_id
    LEFT JOIN vs_batch i ON i.doc_id = b.doc_id
    ORDER BY b.doc_id
    """,
)
def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the nightly-batch shape of a 100 TB
    pipeline: newly arrived documents (doc_id >= {BATCH_START}) are
    checked against the already-ingested corpus via MinHash-LSH
    candidates verified by exact 3-gram Jaccard, and against EACH OTHER
    (keep-lowest-id within the batch), then labeled near_dup /
    intra_batch_dup / new. Reuses the bucketed LSH+verify pipeline —
    candidate generation never compares all pairs — and resolves
    verdicts with two left joins on doc_id. The reference's analog is
    add_configs' uid anti-join dedupe (matdb/database/active.py:181-198)."""
    # one pass over the verified pairs: both verdict sources fold into a
    # single per-doc min-priority aggregate, so the (expensive) LSH+verify
    # subtree is scanned once, not once per join branch
    pairs = _jaccard_pairs_df(spark, sf_dir)
    docs = load(spark, sf_dir, ("documents",))["documents"]
    batch = docs.filter(F.col("doc_id") >= BATCH_START).select("doc_id")
    flags = (
        pairs.filter(F.col("doc_b") >= BATCH_START)
        .select(
            F.col("doc_b").alias("f_id"),
            F.when(F.col("doc_a") < BATCH_START, 1).otherwise(2).alias("pri"),
        )
        .groupBy("f_id")
        .agg(F.min("pri").alias("pri"))
    )
    return (
        batch.join(flags, F.col("f_id") == F.col("doc_id"), "left")
        .select(
            "doc_id",
            F.when(F.col("pri") == 1, "near_dup")
            .when(F.col("pri") == 2, "intra_batch_dup")
            .otherwise("new")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Arrow-vectorized batch inference over embeddings (mapInPandas)
# ---------------------------------------------------------------------------

EMB_DIM = 64
# deterministic dyadic-free weights, exact float64 literals shared with the
# oracle (Knuth multiplicative-hash counter, centered)
SCORE_W = [((i * 2654435761) % 2**31) / 2**31 - 0.5 for i in range(EMB_DIM)]


@register(
    "embedding_score_batch",
    oracle=f"""
    SELECT vec_id, label,
           cast(floor(list_reduce(list_transform(
                    list_zip(embedding, {[repr(w) for w in SCORE_W]}::DOUBLE[]),
                    x -> cast(x[1] as double) * cast(x[2] as double)),
                (p, q) -> p + q) * cast(1000000 as double)) as bigint) AS score_q,
           (list_reduce(list_transform(
                    list_zip(embedding, {[repr(w) for w in SCORE_W]}::DOUBLE[]),
                    x -> cast(x[1] as double) * cast(x[2] as double)),
                (p, q) -> p + q) > 0) AS pred
    FROM embeddings
    ORDER BY vec_id
    """.replace("'", ""),
)
def embedding_score_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference over an embedding column — the Spark shape
    of classifier scoring / reranking a 100 TB corpus: mapInPandas with
    an Arrow-batched linear scorer (stand-in for any model whose
    weights broadcast with the task closure). The kernel is one
    vectorized matrix product per batch; the final fold uses
    np.cumsum's sequential accumulation so each score is bit-identical
    to the oracle's left-to-right list_reduce — vectorized AND exactly
    checkable. Map-only: no shuffle at any scale."""
    import numpy as np
    import pandas as pd

    w = np.array(SCORE_W, dtype=np.float64)

    def score(batches):
        for pdf in batches:
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            prods = E * w  # exact per-element float64 products
            s = np.cumsum(prods, axis=1)[:, -1]  # sequential fold == list_reduce
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "score_q": np.floor(s * 1e6).astype("int64"),
                    "pred": s > 0,
                }
            )

    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    return (
        emb.select("vec_id", "label", "embedding")
        .mapInPandas(score, "vec_id bigint, label int, score_q bigint, pred boolean")
        .orderBy("vec_id")
    )


@register(
    "classifier_eval_metrics",
    oracle=f"""
    WITH scored AS (
        SELECT label,
               (list_reduce(list_transform(
                        list_zip(embedding, {[repr(w) for w in SCORE_W]}::DOUBLE[]),
                        x -> cast(x[1] as double) * cast(x[2] as double)),
                    (p, q) -> p + q) > 0) AS pred
        FROM embeddings
    )
    SELECT cast(sum(CASE WHEN pred AND label = 1 THEN 1 ELSE 0 END) as bigint) AS tp,
           cast(sum(CASE WHEN pred AND label = 0 THEN 1 ELSE 0 END) as bigint) AS fp,
           cast(sum(CASE WHEN NOT pred AND label = 1 THEN 1 ELSE 0 END) as bigint) AS fn,
           cast(sum(CASE WHEN NOT pred AND label = 0 THEN 1 ELSE 0 END) as bigint) AS tn
    FROM scored
    """.replace("'", ""),
    doc="Confusion-matrix rollup of the batch scorer against the labeled "
    "column — distributed model validation (the reference's analog is "
    "the fit-vs-holdout RMS, matdb/fitting/basic.py:450-488). One "
    "conditional-sum aggregate over the map-only scoring stage; "
    "precision/recall derive driver-side from four scalars.",
)
def classifier_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = embedding_score_batch(spark, sf_dir)
    flag = lambda c, n: F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(n)
    p, l = F.col("pred"), F.col("label")
    return scored.agg(
        flag(p & (l == 1), "tp"),
        flag(p & (l == 0), "fp"),
        flag(~p & (l == 1), "fn"),
        flag(~p & (l == 0), "tn"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): cluster
# embeddings around K centroids, then search for near-duplicates ONLY among
# each point's W neighbors in within-cluster centroid-similarity order —
# the published recipe for semantic dedup without an all-pairs stage.
# ---------------------------------------------------------------------------

SEMDEDUP_W = 4  # neighbors compared per point (window lags)
# Fixture-scaled duplicate threshold (quantized cosine * 1e6). Real
# corpora run ~0.95; the driver's 500 synthetic embeddings top out near
# 0.5 pairwise, so 0.30 exercises the dup/keep split end-to-end.
SEMDEDUP_T = 300000


def _semdedup_sql_duckdb() -> str:
    simc = (
        f"cast(floor(({_dot_expr('duckdb', 'v.embedding', 'c.cv')} / (v.nrm * c.cnrm))"
        f" * cast(1000000 as double)) as bigint)"
    )
    comb = _IVF_COMBINE.format(sim=simc, cid="c.cid")
    lag_sims = ", ".join(
        f"cast(floor(({_dot_expr('duckdb', 'embedding', f'lag(embedding, {i}) OVER w')}"
        f" / (nrm * lag(nrm, {i}) OVER w)) * cast(1000000 as double)) as bigint)"
        f" AS s{i}"
        for i in range(1, SEMDEDUP_W + 1)
    )
    best = "greatest(" + ", ".join(
        f"coalesce(s{i}, -2000000)" for i in range(1, SEMDEDUP_W + 1)
    ) + ")"
    return f"""
    WITH base AS (
        SELECT vec_id, embedding, {_norm_expr('duckdb', 'embedding')} AS nrm
        FROM embeddings WHERE vec_id <> 0
    ),
    cents AS (
        SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm FROM base
        WHERE vec_id BETWEEN 1 AND {IVF_K}
    ),
    assign AS (
        SELECT v.vec_id, v.embedding, v.nrm,
               15 - (max({comb}) % 16) AS cid,
               (max({comb}) // 16) - 2000000 AS csim
        FROM base v CROSS JOIN cents c
        GROUP BY v.vec_id, v.embedding, v.nrm
    ),
    lagged AS (
        SELECT vec_id, cid, csim, {lag_sims}
        FROM assign
        WINDOW w AS (PARTITION BY cid ORDER BY csim DESC, vec_id)
    )
    SELECT vec_id, cast(cid as int) AS cid, csim,
           {best} >= {SEMDEDUP_T} AS is_dup
    FROM lagged ORDER BY vec_id
    """


@register(
    "semantic_dedup",
    oracle=_semdedup_sql_duckdb(),
    doc="SemDeDup (arXiv:2303.09540): K-centroid assignment (same "
    "deterministic integer-argmax combine as the IVF index), then "
    "near-duplicate detection only among each point's W=4 preceding "
    "neighbors in within-cluster centroid-similarity order — linear in "
    "corpus size, no all-pairs stage. At 100 TB, K grows ~sqrt(N) "
    "(SemDeDup uses ~100k clusters) so the per-cluster window sort "
    "stays bounded; the window is keyed on cluster id.",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    base = emb.filter(F.col("vec_id") != 0).selectExpr(
        "vec_id", "embedding", f"{_norm_expr('spark', 'embedding')} AS nrm"
    )
    cents = base.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= IVF_K)).selectExpr(
        "vec_id AS cid", "embedding AS cv", "nrm AS cnrm"
    )
    simc = (
        f"cast(floor(({_dot_expr('spark', 'embedding', 'cv')} / (nrm * cnrm))"
        f" * cast(1000000 as double)) as bigint)"
    )
    comb = _IVF_COMBINE.format(sim=simc, cid="cid")
    # every crossJoin copy carries the identical embedding/nrm for a
    # given vec_id, so first() is value-deterministic (no re-join scan)
    assign = (
        base.crossJoin(F.broadcast(cents))
        .selectExpr("vec_id", "embedding", "nrm", f"{comb} AS combined")
        .groupBy("vec_id")
        .agg(
            F.max("combined").alias("mc"),
            F.first("embedding").alias("embedding"),
            F.first("nrm").alias("nrm"),
        )
        .select(
            "vec_id",
            "embedding",
            "nrm",
            (F.lit(15) - (F.col("mc") % 16)).cast("int").alias("cid"),
            (F.expr("mc div 16") - 2000000).alias("csim"),
        )
    )
    w = Window.partitionBy("cid").orderBy(F.col("csim").desc(), "vec_id")
    lagged = assign
    for i in range(1, SEMDEDUP_W + 1):
        lagged = lagged.withColumn(f"e{i}", F.lag("embedding", i).over(w)).withColumn(
            f"n{i}", F.lag("nrm", i).over(w)
        )
    sim_i = lambda i: (  # noqa: E731
        f"coalesce(cast(floor(({_dot_expr('spark', 'embedding', f'e{i}')} / "
        f"(nrm * n{i})) * cast(1000000 as double)) as bigint), -2000000)"
    )
    best = "greatest(" + ", ".join(sim_i(i) for i in range(1, SEMDEDUP_W + 1)) + ")"
    return (
        lagged.selectExpr(
            "vec_id", "cid", "csim", f"({best}) >= {SEMDEDUP_T} AS is_dup"
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment pairs (Broder): quote / subsumption detection
# ---------------------------------------------------------------------------

CONTAIN_MIN_Q = 500_000  # 0.5 quantized: half of the smaller doc quoted


@register(
    "ngram_containment_pairs",
    oracle=f"""
    WITH {{ctes}},
    cpairs AS (
        SELECT doc_a, doc_b,
               {{ca}} AS contain_a_q,
               {{cb}} AS contain_b_q
        FROM (
            SELECT doc_a, doc_b, common, sa.nsh AS na, sb.nsh AS nb
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        )
        WHERE {{ca}} >= {CONTAIN_MIN_Q} OR {{cb}} >= {CONTAIN_MIN_Q}
    )
    SELECT doc_a, doc_b, contain_a_q, contain_b_q FROM cpairs
    ORDER BY doc_a, doc_b
    """.format(
        ctes=_jaccard_ctes_duckdb().split(",\n    jpairs AS")[0],
        ca=textops.quant_ratio_expr("common", "na"),
        cb=textops.quant_ratio_expr("common", "nb"),
    ),
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment (Broder 1997): c(A,B) = |A n B| / |A| over
    word-3-gram shingle sets — the quote/subsumption detector symmetric
    Jaccard misses (a tweet fully quoted inside an article has tiny
    Jaccard but containment ~1). Same LSH-gated candidate substrate as
    ngram_jaccard_pairs: the intersection is computed once per LSH
    candidate pair, then divided by EACH side's size; pairs where
    either direction >= 0.5 survive. At 100 TB the candidate gate keeps
    the verify stage linear in candidates — identical scale shape to
    the Jaccard verify, one extra map-side division."""
    # the shingle table feeds the LSH candidate stage AND both sides of
    # the common-shingle verify AND the size rollup (~5 plan references):
    # cut lineage so tokenize+shingle runs once (2.5 -> 1.7 s at sf0.1;
    # minhash alone doesn't benefit — its shingles are read once)
    # gated (r12): ~90 shingle rows/doc — the 5M-doc corpus OOMs a 24g
    # heap when this materializes to executor storage; above the gate
    # each consumer recomputes the tokenize+shingle map work instead
    shingles = gated_local_checkpoint(_shingles_df(spark, sf_dir), sf_dir)
    cands = _lsh_candidate_pairs(shingles)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    sca = lambda df: _corpus_scaled_side(df, sf_dir)  # noqa: E731
    common = (
        cands.join(sca(shingles.selectExpr("doc_id AS doc_a", "sh")), "doc_a")
        .join(sca(shingles.selectExpr("doc_id AS doc_b", "sh")), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = textops.quant_ratio_expr("common", "na")
    cb = textops.quant_ratio_expr("common", "nb")
    return (
        common.join(sca(sizes.selectExpr("doc_id AS doc_a", "nsh AS na")), "doc_a")
        .join(sca(sizes.selectExpr("doc_id AS doc_b", "nsh AS nb")), "doc_b")
        .withColumn("contain_a_q", F.expr(ca))
        .withColumn("contain_b_q", F.expr(cb))
        .filter(
            (F.col("contain_a_q") >= CONTAIN_MIN_Q)
            | (F.col("contain_b_q") >= CONTAIN_MIN_Q)
        )
        .select("doc_a", "doc_b", "contain_a_q", "contain_b_q")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Scalar-quantized (int8) kNN — the memory-bound ANN scale path
# ---------------------------------------------------------------------------

SQ_DIM = 64
SQ_TOP = 10


@register(
    "knn_quantized_embeddings",
    oracle=f"""
    WITH pos AS (SELECT unnest(generate_series(1, {SQ_DIM})) AS p),
    e AS (SELECT vec_id, p, cast(embedding[p] as double) AS v
         FROM embeddings CROSS JOIN pos),
    stats AS (SELECT p, min(v) AS mn, max(v) AS mx FROM e GROUP BY p),
    codes AS (SELECT e.vec_id, e.p,
                     cast(floor((e.v - s.mn) * 255.0 / (s.mx - s.mn)) as bigint) AS c
              FROM e JOIN stats s USING (p)),
    q AS (SELECT p, c AS qc FROM codes WHERE vec_id = 0),
    dist AS (SELECT codes.vec_id,
                    sum((codes.c - q.qc) * (codes.c - q.qc)) AS d2
             FROM codes JOIN q USING (p)
             WHERE codes.vec_id <> 0
             GROUP BY codes.vec_id)
    SELECT vec_id, cast(d2 as bigint) AS d2
    FROM dist ORDER BY d2, vec_id LIMIT {SQ_TOP}
    """,
)
def knn_quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized kNN: per-dimension min/max train -> uint8 codes
    -> exact integer L2^2 on codes -> top-{SQ_TOP}. The ANN memory-bound
    scale path (FAISS SQ8): the float corpus (4 bytes/dim) shrinks 4x
    and the distance loop is integer arithmetic — and because codes are
    integers, the whole pipeline is EXACTLY oracle-checkable, unlike
    float-distance ANN where ties and ulps differ.

    Shape: the stats table is O(dim) rows — broadcast; codes are one
    explode + keyed join; distances are one groupBy(vec_id) with
    map-side partial sums; top-N is TakeOrderedAndProject. At 100 TB
    the codes table is the materialized index (written bucketed by an
    IVF cell, see knn_ivf_embeddings) and the query probes it."""
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    e = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("p0", "v"),
    ).selectExpr("vec_id", "p0 + 1 AS p", "cast(v as double) AS v")
    stats = e.groupBy("p").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    codes = e.join(F.broadcast(stats), "p").selectExpr(
        "vec_id", "p", "cast(floor((v - mn) * 255.0 / (mx - mn)) as bigint) AS c"
    )
    q = codes.filter(F.col("vec_id") == 0).selectExpr("p", "c AS qc")
    return (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), "p")
        .groupBy("vec_id")
        .agg(F.sum(F.expr("(c - qc) * (c - qc)")).cast("long").alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(SQ_TOP)
    )


@register(
    "knn_quantization_recall",
    oracle=f"""
    WITH pos AS (SELECT unnest(generate_series(1, {SQ_DIM})) AS p),
    e AS (SELECT vec_id, p, cast(embedding[p] as double) AS v
          FROM embeddings CROSS JOIN pos),
    stats AS (SELECT p, min(v) AS mn, max(v) AS mx FROM e GROUP BY p),
    codes AS (SELECT e.vec_id, e.p,
                     cast(floor((e.v - s.mn) * 255.0 / (s.mx - s.mn)) as bigint) AS c
              FROM e JOIN stats s USING (p)),
    qc AS (SELECT p, c AS qcode FROM codes WHERE vec_id = 0),
    quant AS (SELECT codes.vec_id
              FROM codes JOIN qc USING (p)
              WHERE codes.vec_id <> 0
              GROUP BY codes.vec_id
              ORDER BY sum((codes.c - qc.qcode) * (codes.c - qc.qcode)), codes.vec_id
              LIMIT {SQ_TOP}),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    exact AS (SELECT vec_id
              FROM embeddings CROSS JOIN q
              WHERE vec_id <> 0
              ORDER BY cast(floor(({{dot}} / ({{na}} * {{nq}}))
                       * cast(1000000 as double)) as bigint) DESC, vec_id
              LIMIT {SQ_TOP})
    SELECT cast((SELECT count(*) FROM quant JOIN exact USING (vec_id)) as bigint)
               AS n_overlap,
           cast({SQ_TOP} as bigint) AS k
    """.format(
        dot="{dot}", na="{na}", nq="{nq}"
    ).format(
        dot=_dot_expr("duckdb", "embedding", "qv"),
        na=_norm_expr("duckdb", "embedding"),
        nq=_norm_expr("duckdb", "qv"),
    ),
)
def knn_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{SQ_TOP} of int8-quantized kNN against exact float cosine
    — the evaluation every ANN deployment runs before trading accuracy
    for memory. Both retrievals are the REGISTERED queries' plans
    (knn_quantized_embeddings, knn_embeddings), composed and joined;
    output is the overlap count, deterministic because both top-k lists
    are (quantized-int, ppm-floored-float) deterministic with vec_id
    tiebreaks."""
    quant = knn_quantized_embeddings(spark, sf_dir).select("vec_id")
    exact = knn_embeddings(spark, sf_dir).select("vec_id")
    return quant.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        F.lit(SQ_TOP).cast("long").alias("k"),
    )


# ---------------------------------------------------------------------------
# Fixed-point k-means (iterative ML beyond PageRank: assign/update rounds)
# ---------------------------------------------------------------------------

KM_K = 4  # centroids (seed: vec_id 1..K)
# argmin combine: dist * 16 + cid (dist <= 64 * (2e6)^2 * 16 < 2^63);
# min() picks lowest distance, ties to the SMALLEST centroid id.


def _km_q(dialect: str, col: str) -> str:
    """Quantize a float embedding to micro-unit bigints."""
    if dialect == "spark":
        return f"transform({col}, x -> cast(floor(cast(x as double) * 1000000) as bigint))"
    return f"list_transform({col}, x -> cast(floor(cast(x as double) * 1000000) as bigint))"


def _km_dist(dialect: str, a: str, b: str) -> str:
    """Integer squared euclidean distance between quantized arrays."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (p, q) -> (p - q) * (p - q)), "
            f"cast(0 as bigint), (acc, x) -> acc + x)"
        )
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x)"
    )


def _km_oracle_sql() -> str:
    d0 = _km_dist("duckdb", "v.qv", "c.qc")
    return f"""
    WITH base AS (SELECT vec_id, {_km_q('duckdb', 'embedding')} AS qv FROM embeddings),
    c0 AS (SELECT vec_id AS cid, qv AS qc FROM base WHERE vec_id BETWEEN 1 AND {KM_K}),
    a1 AS (SELECT v.vec_id, cast(min({d0} * 16 + c.cid) % 16 as bigint) AS cid
           FROM base v CROSS JOIN c0 c GROUP BY v.vec_id),
    m1 AS (SELECT a1.cid, p.pos, cast(floor(avg(p.val)) as bigint) AS cval
           FROM a1 JOIN base v ON v.vec_id = a1.vec_id
           CROSS JOIN LATERAL (SELECT unnest(v.qv) AS val,
                                      generate_subscripts(v.qv, 1) AS pos) p
           GROUP BY a1.cid, p.pos),
    c1 AS (SELECT cid, list(cval ORDER BY pos) AS qc FROM m1 GROUP BY cid),
    a2 AS (SELECT v.vec_id, cast(min({d0} * 16 + c.cid) % 16 as bigint) AS cid,
                  cast(min({d0} * 16 + c.cid) // 16 as bigint) AS dist
           FROM base v CROSS JOIN c1 c GROUP BY v.vec_id)
    SELECT cid, cast(count(*) as bigint) AS n_assigned,
           cast(sum(vec_id) as bigint) AS sum_vec_ids,
           cast(sum(dist) as bigint) AS inertia_q
    FROM a2 GROUP BY cid ORDER BY cid
    """


@register(
    "kmeans_fixed_point",
    oracle=_km_oracle_sql(),
    doc="Two rounds of Lloyd's k-means (K={KM_K}, seed centroids = vec "
    "ids 1..K) in INTEGER fixed point: embeddings quantize to micro-unit "
    "bigints, assignment is an integer-argmin (dist*16+cid combine, "
    "ties to min cid) over a broadcast K-row centroid table, the update "
    "step is a per-(centroid, position) floor-mean rebuilt into arrays, "
    "and the final rollup reports cluster sizes + integer inertia — "
    "bit-identical in both engines, so the classic iterative-ML loop "
    "(assign -> update -> assign) hash-verifies end-to-end the way "
    "pagerank_bipartite does. Scale shape: each assignment is one "
    "narrow broadcast-K pass (allowlisted bounded BNL, the IVF "
    "pattern); the update shuffles (cid, pos) keyed rows with map-side "
    "combine — K*dim output rows; no quadratic stage.",
)
def kmeans_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    base = emb.selectExpr(
        "vec_id", f"{_km_q('spark', 'embedding')} AS qv"
    ).localCheckpoint(eager=False)  # three passes read one quantized copy
    dist = _km_dist("spark", "qv", "qc")
    c0 = base.filter(F.col("vec_id").between(1, KM_K)).selectExpr(
        "vec_id AS cid", "qv AS qc"
    )

    def assign(cents):
        return (
            base.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(F.min(F.expr(f"{dist} * 16 + cid")).alias("__m"))
            .selectExpr(
                "vec_id",
                "cast(__m % 16 as bigint) AS cid",
                "cast(__m div 16 as bigint) AS dist",
            )
        )

    a1 = assign(c0)
    m1 = (
        a1.join(base, "vec_id")
        .select("cid", F.posexplode("qv").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.expr("cast(floor(avg(val)) as bigint)").alias("cval"))
    )
    c1 = m1.groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, cval))), s -> s.cval) AS qc"
        )
    )
    a2 = assign(c1)
    return (
        a2.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum("vec_id").cast("long").alias("sum_vec_ids"),
            F.sum("dist").cast("long").alias("inertia_q"),
        )
        .orderBy("cid")
    )


@register(
    "source_duplication_stats",
    oracle="""
    WITH fp AS (SELECT source,
                       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
                FROM documents),
    per AS (SELECT source, cast(count(*) as bigint) AS n_docs,
                   cast(count(DISTINCT f) as bigint) AS n_unique
            FROM fp GROUP BY source)
    SELECT source, n_docs, n_unique,
           (n_docs - n_unique) * 1000000 // n_docs AS dup_ratio_q
    FROM per ORDER BY source
    """,
    doc="Per-source duplication profile: exact-dup ratio (ppm) from "
    "normalized content fingerprints — the first diagnostic a corpus "
    "curator reads per feed (a high-dup source gets downweighted or "
    "re-crawled). One two-phase distinct aggregate keyed on (source, "
    "fingerprint) with map-side combine; output is O(sources).",
)
def source_duplication_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, ("documents",))["documents"]
    fp = docs.select(
        "source",
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))).alias("f"),
    )
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("f").cast("long").alias("n_unique"),
        )
        .selectExpr(
            "source", "n_docs", "n_unique",
            "(n_docs - n_unique) * 1000000 div n_docs AS dup_ratio_q",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sketch + distortion audit (embedding compression)
# ---------------------------------------------------------------------------

JL_D = 64  # input embedding dimensionality (driver testdata)
JL_K = 16  # sketch dimensionality


def _jl_sign(dialect: str) -> str:
    """±1 projection-matrix entry R[i][j], derived from the
    cross-engine-identical 60-bit md5 hash of 'i_j' (textops.tok_hash60,
    salt 'jl') — the matrix is a pure function of (i, j), so both
    engines materialize the SAME matrix without storing it."""
    if dialect == "spark":
        cell = "concat(cast(i as string), '_', cast(j as string))"
    else:
        cell = "(cast(i as varchar) || '_' || cast(j as varchar))"
    h = textops.tok_hash60(dialect, cell, salt="jl")
    return f"(CASE WHEN ({h}) % 2 = 0 THEN 1 ELSE -1 END)"


@register(
    "jl_projection_distortion",
    oracle=f"""
    WITH xqt AS (SELECT vec_id, label,
                        list_transform(embedding,
                            x -> cast(floor(cast(x as double) * 1000000.0) as bigint)) AS xq
                 FROM embeddings),
    proj AS (SELECT vec_id, label,
                    cast(list_sum(list_transform(xq, x -> x * x)) as bigint) AS norm2q,
                    list_transform(range(0, {JL_K}), j ->
                        cast(list_sum(list_transform(range(0, {JL_D}), i ->
                            {_jl_sign('duckdb')} * xq[i + 1])) as bigint)) AS projq
             FROM xqt),
    per AS (SELECT vec_id, label, norm2q,
                   cast(list_sum(list_transform(projq, p -> p * p)) as bigint) AS pnorm2q
            FROM proj),
    d AS (SELECT label,
                 cast(floor(1000000.0 * cast(pnorm2q as double)
                      / ({JL_K}.0 * cast(norm2q as double))) as bigint) AS dist_ppm
          FROM per WHERE norm2q > 0)
    SELECT label, cast(count(*) as bigint) AS n_vecs,
           cast(sum(dist_ppm) // count(*) as bigint) AS mean_dist_ppm,
           cast(min(dist_ppm) as bigint) AS min_dist_ppm,
           cast(max(dist_ppm) as bigint) AS max_dist_ppm
    FROM d GROUP BY label ORDER BY label
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketching (Achlioptas 2003 ±1 database-
    friendly projections): compress every {JL_D}-d embedding to a
    {JL_K}-d sketch with a sign matrix derived from md5(i_j) parity,
    and report per-label norm-preservation distortion — the acceptance
    audit a pipeline runs before swapping full vectors for sketches in
    a first-pass ANN or dedup stage (E[||Rx||^2] = k * ||x||^2 for ±1
    entries; dist_ppm ~ 1e6 means perfectly preserved).

    Exactness: components are ppm-quantized INTEGERS (xq = floor(x *
    1e6)); each sketch coordinate is an exact +-xq integer sum, both
    norms are exact integer sums of squares, and the only float op is
    one final ratio with identical IEEE operands in both engines. The
    per-label mean is an integer sum of per-vector ppm ratios divided
    by count — no float accumulation anywhere.

    Plan shape: ZERO joins — the projection matrix is a pure hash
    function of (i, j), then one keyed agg on label. Until round 10 the
    md5 parity was evaluated INLINE per row ({JL_K}x{JL_D} = 1024 md5s
    per vector, 205M at the sf10 200k-vector corpus — measured 258 s,
    the sweep's slowest query); since the matrix is constant, it is now
    computed ONCE driver-side (hashlib md5, verified bit-identical to
    the SQL expression for all 1024 cells) and inlined as a literal
    array-of-rows Catalyst constant-folds — the scan evaluates pure
    integer multiply-adds. The DuckDB oracle keeps the expression form:
    same matrix, same sums."""
    import hashlib

    xq = "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint))"
    # R[j][i] literal: sign = parity of the top-60-bit md5 of 'jl|i_j',
    # exactly textops.tok_hash60(salt='jl') — parity equality with the
    # SQL form is pinned by tests/test_llm.py::test_jl_matrix_literal
    rows = []
    for j in range(JL_K):
        signs = ", ".join(
            "1L"
            if int(hashlib.md5(f"jl|{i}_{j}".encode()).hexdigest()[:15], 16) % 2 == 0
            else "-1L"
            for i in range(JL_D)
        )
        rows.append(f"array({signs})")
    r_lit = f"array({', '.join(rows)})"
    proj_j = (
        f"aggregate(zip_with(element_at({r_lit}, j + 1), xq, (s, x) -> s * x), "
        f"0L, (acc, v) -> acc + v)"
    )
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    per = (
        emb.selectExpr("vec_id", "label", f"{xq} AS xq")
        .selectExpr(
            "vec_id",
            "label",
            "aggregate(xq, 0L, (acc, x) -> acc + x * x) AS norm2q",
            f"aggregate(transform(sequence(0, {JL_K - 1}), j -> {proj_j}), "
            f"0L, (acc, p) -> acc + p * p) AS pnorm2q",
        )
    )
    return (
        per.filter(F.col("norm2q") > 0)
        .selectExpr(
            "label",
            f"cast(floor(1000000.0 * cast(pnorm2q as double) "
            f"/ ({JL_K}.0 * cast(norm2q as double))) as bigint) AS dist_ppm",
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.expr("cast(sum(dist_ppm) div count(*) as bigint)").alias(
                "mean_dist_ppm"
            ),
            F.min("dist_ppm").cast("long").alias("min_dist_ppm"),
            F.max("dist_ppm").cast("long").alias("max_dist_ppm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Streaming MinHash-LSH ingest dedup (typed-state, checkpoint-resumed)
# ---------------------------------------------------------------------------

SMD_BATCHES = 3


def _band_rows_stateless(df: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH band rows computed WITHOUT any
    aggregation — per-permutation minhashes via array_min over the
    shingle array instead of explode+groupBy min (identical result:
    min over a multiset equals min over its distinct set) — so the same
    expression chain runs on a STREAMING DataFrame, where a pre-state
    aggregation would be illegal. Mirrors _lsh_candidate_pairs'
    signature math exactly (same md5('p|'||shingle) space)."""
    toks = textops.toks_expr("spark")
    sh_arr = "transform(sequence(1, size(toks) - 2), i -> array_join(slice(toks, i, 3), ' '))"
    mins = [
        f"array_min(transform(sh_arr, sh -> md5(concat('{p}|', sh)))) AS mh{p}"
        for p in range(N_PERM)
    ]
    n_bands = N_PERM // BAND_SIZE
    bands = ", ".join(
        "named_struct('band', {b}, 'sig', md5(concat_ws('|', {cols})))".format(
            b=band,
            cols=", ".join(
                f"mh{p}" for p in range(band * BAND_SIZE, (band + 1) * BAND_SIZE)
            ),
        )
        for band in range(n_bands)
    )
    return (
        df.selectExpr("doc_id", f"{toks} AS toks")
        .filter(F.expr("size(toks) >= 3"))
        .selectExpr("doc_id", f"{sh_arr} AS sh_arr")
        .selectExpr("doc_id", *mins)
        .selectExpr("doc_id", f"explode(array({bands})) AS bs")
        .selectExpr("doc_id", "bs.band AS band", "bs.sig AS sig")
    )


@register(
    "streaming_minhash_dedup_tws",
    oracle=f"""
    WITH {_lsh_ctes_duckdb()},
    bmin AS (SELECT band, sig, min(doc_id) AS first_doc
             FROM bands GROUP BY band, sig),
    res AS (SELECT b.doc_id,
                   cast(count(*) as bigint) AS n_bands,
                   cast(sum(CASE WHEN bmin.first_doc < b.doc_id THEN 1 ELSE 0 END) as bigint) AS n_conflicts
            FROM bands b JOIN bmin USING (band, sig)
            GROUP BY b.doc_id)
    SELECT doc_id, n_bands, n_conflicts,
           cast(CASE WHEN n_conflicts = 0 THEN 1 ELSE 0 END as bigint) AS kept
    FROM res ORDER BY doc_id
    """,
    doc="Streaming MinHash-LSH ingest dedup: documents arrive in "
    "3 staged micro-batches across 3 SEPARATE availableNow "
    "runs sharing one checkpoint (typed-state ValueState per LSH "
    "band-bucket, RocksDB store) — so bucket state is persisted and "
    "RESUMED across query restarts, the production ingest shape. A doc "
    "conflicts in a band iff a smaller doc_id occupies that band-bucket; "
    "kept iff zero conflicts, which equals the batch rule 'doc_id is "
    "the bucket minimum in every band' verified by the oracle. The "
    "processor emits delta rows (late smaller ids reconcile the old "
    "bucket owner), so the sums below match the oracle under ANY "
    "arrival order.",
)
def streaming_minhash_dedup_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `doc`. State is sharded by (band, sig) — the same key the
    batch LSH join shuffles on — so the state store scales with occupied
    buckets, not stream length (streaming/windows.py:
    streaming_lsh_first_seen). Since round 10 the processor is
    ORDER-FREE (reconciliation deltas instead of an ascending-arrival
    guard), so the staged ranges need no ordering discipline; ascending
    staging is kept because it's the natural ingest shape, not a
    correctness requirement."""
    import os
    import shutil
    import tempfile

    from tracy_matdb_spark.streaming.windows import streaming_lsh_first_seen

    docs = load(spark, sf_dir, ("documents",))["documents"]
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    step = (int(max_id) + SMD_BATCHES) // SMD_BATCHES
    base = tempfile.mkdtemp(prefix="smd_tws_")
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stage = os.path.join(base, "stage")
        drop = os.path.join(base, "drop")
        ckpt = os.path.join(base, "ckpt")
        sink = os.path.join(base, "sink")
        os.makedirs(drop, exist_ok=True)
        for i in range(SMD_BATCHES):
            docs.filter(
                (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
            ).write.parquet(os.path.join(stage, f"b{i}"))
        for i in range(SMD_BATCHES):
            shutil.move(os.path.join(stage, f"b{i}"), os.path.join(drop, f"b{i}"))
            stream = (
                spark.readStream.schema(docs.schema)
                .option("recursiveFileLookup", "true")
                .parquet(drop)
            )
            # append mode + parquet sink: the only sink family that
            # supports RESUMING from the shared checkpoint across the
            # three runs (memory sink rejects recovery)
            q = (
                streaming_lsh_first_seen(_band_rows_stateless(stream))
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if i == SMD_BATCHES - 1:
                # final resumed run: its state store holds EVERY
                # occupied (band, sig) bucket across all three runs —
                # the number the "state scales with occupied buckets,
                # not stream length" claim is checked against
                # (tools/scaling.py's typed-state rows read this)
                from tracy_matdb_spark.streaming.windows import record_stream_progress

                record_stream_progress(q, "streaming_minhash_dedup_tws")
            # No micro-batch-count pin anymore: the round-9 version
            # required each staged range to land in ONE micro-batch
            # (ascending-arrival precondition); the order-free
            # reconciliation processor makes any split or reordering
            # produce the same sums.
        out = (
            spark.read.parquet(sink)
            .groupBy("doc_id")
            .agg(
                F.sum("arrival").cast("long").alias("n_bands"),
                F.sum("conflict").cast("long").alias("n_conflicts"),
            )
            .selectExpr(
                "doc_id",
                "n_bands",
                "n_conflicts",
                "cast(CASE WHEN n_conflicts = 0 THEN 1 ELSE 0 END as bigint) AS kept",
            )
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        shutil.rmtree(base, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Product-quantized kNN (PQ/ADC) — the compressed-index ANN scale path
# (Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011). Next to the scalar-quantized path (SQ8, 4x
# compression) and the IVF coarse path, PQ is the 16x-compression tier:
# the 64-dim float vector (256 bytes) becomes M=16 one-byte codes. All
# arithmetic is micro-unit integer fixed point, so the entire
# train->encode->ADC-search pipeline hash-verifies against DuckDB.
#
# The retrieval pipeline is the paper's full serving shape (its §V
# "re-ranking" variant, IVFADC+R): Lloyd-trained codebook -> ADC scan of
# the compressed codes for a top-R shortlist -> exact re-rank of only
# those R full vectors. On the isotropic synthetic embeddings (worst
# case for PQ — no cluster structure) pure ADC recall@10 plateaus at
# 6-7/10 no matter the layout (measured across M/D/K/iteration sweeps);
# one Lloyd round + R=30 re-rank measures 10/10 while still scanning
# only the 16x-compressed codes for the corpus-sized pass.
# ---------------------------------------------------------------------------

PQ_M = 16  # subspaces
PQ_D = 4  # dims per subspace (PQ_M * PQ_D = 64 = embedding dim)
PQ_K = 64  # centroids per subspace
PQ_TOP = 10
PQ_LLOYD_ITERS = 1  # k-means refinement rounds on the init codebook
PQ_RERANK = 30  # ADC shortlist size fed to the exact re-rank
# Codebook-training sample bound: Lloyd assignment is the one PQ stage
# whose intermediate grows as corpus x M x K (the explode-join-agg
# form), and the r14 sf100 probe measured the failure mode — at 2M
# vectors the (vec_id, m, cid) hash aggregate spilled >58 GB and filled
# the disk. Real PQ deployments train on a bounded sample anyway
# (Jegou 2011 trains on a held-out learn set); above this bound the
# trainer samples vec_id <= PQ_TRAIN_MAX (footer-stat gate, oracle_fn
# mirrors the predicate) and ENCODING — which must touch every vector —
# runs as a per-row codegen expression against the collected codebook
# instead of the exploded join, so no corpus-sized K-way intermediate
# exists anywhere at any scale.
PQ_TRAIN_MAX = 32_768
# Layout chosen empirically: on the isotropic synthetic embeddings
# M=16/D=4/K=64 measures ADC recall@10 = 7/10 after one Lloyd round vs
# 1/10 for M=8/D=8/K=16 at the same 500-vector corpus; finer subspaces
# cut quantization error. More Lloyd rounds don't help (6-7/10 at
# iters 0..3) — the re-rank is what closes the gap to 10/10.
# integer argmin combine: d2 <= 4*(4e6)^2 = 6.4e13; *128 + cid < 2^63;
# min() picks lowest d2, ties to the SMALLEST centroid id (cid in 1..64).


def _pq_sub_cte(dialect: str) -> str:
    """Rows (vec_id, m, i, qv): micro-int value of dim i of subvector m."""
    if dialect == "duckdb":
        return f"""
    pos AS (SELECT unnest(generate_series(1, {PQ_M * PQ_D})) AS p),
    sub AS (SELECT vec_id,
                   cast((p - 1) // {PQ_D} as bigint) AS m,
                   cast((p - 1) % {PQ_D} as bigint) AS i,
                   cast(floor(cast(embedding[p] as double) * 1000000) as bigint) AS qv
            FROM embeddings CROSS JOIN pos)"""
    raise ValueError(dialect)


def _pq_train_bound(sf_dir: str) -> int | None:
    """None below the gate (train on the whole corpus — every driver SF),
    else PQ_TRAIN_MAX: train on the deterministic vec_id <= bound prefix
    (the key-shifted copy structure makes the prefix a whole-copy
    subset). Footer-stat read, no Spark job; stat failure assumes a
    LARGE corpus and samples — bounded work is the conservative
    direction here (an unbounded Lloyd assignment is the measured
    disk-filling failure, sf100 probe r14)."""
    n = footer_stat(sf_dir, "embeddings")
    return None if n is not None and n <= PQ_TRAIN_MAX else PQ_TRAIN_MAX


def _pq_body_sql(train_bound: int | None = None) -> str:
    """CTE chain: init codebook -> PQ_LLOYD_ITERS k-means rounds ->
    encode -> query distance table -> ADC distances. The Lloyd update is
    hash-exact in both engines: per-dim mean = floor(double division of
    an exact integer sum) — identical IEEE ops on identical integers.
    An empty cluster keeps its INIT centroid (cb0 LEFT JOIN update).
    train_bound mirrors _pq_train_bound's sample predicate on the
    TRAINING ctes only (encode/dt always cover the full corpus)."""
    tb = f" AND s.vec_id <= {train_bound}" if train_bound is not None else ""
    ctes = [
        _pq_sub_cte("duckdb"),
        f"""cb0 AS (SELECT m, i, vec_id AS cid, qv AS cv FROM sub
           WHERE vec_id BETWEEN 1 AND {PQ_K})""",
    ]
    prev = "cb0"
    for t in range(PQ_LLOYD_ITERS):
        ctes.append(
            f"""a{t} AS (SELECT vec_id, m, cast(min(d2 * 128 + cid) % 128 as bigint) AS cid
        FROM (SELECT s.vec_id, s.m, c.cid, sum((s.qv - c.cv) * (s.qv - c.cv)) AS d2
              FROM sub s JOIN {prev} c ON s.m = c.m AND s.i = c.i
              WHERE s.vec_id <> 0{tb} GROUP BY s.vec_id, s.m, c.cid) t
        GROUP BY vec_id, m)"""
        )
        ctes.append(
            f"""u{t} AS (SELECT s.m, a.cid, s.i,
               cast(floor(cast(sum(s.qv) as double) / count(*)) as bigint) AS cv
        FROM sub s JOIN a{t} a ON a.vec_id = s.vec_id AND a.m = s.m
        WHERE s.vec_id <> 0{tb} GROUP BY s.m, a.cid, s.i)"""
        )
        ctes.append(
            f"""cb{t + 1} AS (SELECT c.m, c.i, c.cid, coalesce(u.cv, c.cv) AS cv
        FROM cb0 c LEFT JOIN u{t} u ON u.m = c.m AND u.i = c.i AND u.cid = c.cid)"""
        )
        prev = f"cb{t + 1}"
    ctes.append(
        f"""d2 AS (SELECT s.vec_id, s.m, c.cid,
                  sum((s.qv - c.cv) * (s.qv - c.cv)) AS d2
           FROM sub s JOIN {prev} c ON s.m = c.m AND s.i = c.i
           WHERE s.vec_id <> 0
           GROUP BY s.vec_id, s.m, c.cid)"""
    )
    ctes.append(
        """enc AS (SELECT vec_id, m, cast(min(d2 * 128 + cid) % 128 as bigint) AS code
            FROM d2 GROUP BY vec_id, m)"""
    )
    ctes.append(
        f"""dt AS (SELECT c.m, c.cid, sum((s.qv - c.cv) * (s.qv - c.cv)) AS qd2
           FROM sub s JOIN {prev} c ON s.m = c.m AND s.i = c.i
           WHERE s.vec_id = 0
           GROUP BY c.m, c.cid)"""
    )
    ctes.append(
        """adc AS (SELECT e.vec_id, sum(dt.qd2) AS ad2
            FROM enc e JOIN dt ON dt.m = e.m AND dt.cid = e.code
            GROUP BY e.vec_id)"""
    )
    return "\n    WITH " + ",\n    ".join(ctes)


def _pq_rerank_ctes() -> str:
    """shortlist -> exact micro-int cosine re-rank CTEs (shared by the
    top-k oracle and the recall oracle)."""
    sim = (
        f"cast(floor(({_dot_expr('duckdb', 'e.embedding', 'q.qv')} /"
        f" ({_norm_expr('duckdb', 'e.embedding')} * {_norm_expr('duckdb', 'q.qv')}))"
        f" * cast(1000000 as double)) as bigint)"
    )
    return f"""
    short AS (SELECT vec_id, cast(ad2 as bigint) AS ad2
              FROM adc ORDER BY ad2, vec_id LIMIT {PQ_RERANK}),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    rr AS (SELECT e.vec_id, s.ad2, {sim} AS sim_q
           FROM embeddings e JOIN short s USING (vec_id) CROSS JOIN qv q)
    """


def _pq_topk_sql(train_bound: int | None = None) -> str:
    return (
        _pq_body_sql(train_bound)
        + ","
        + _pq_rerank_ctes()
        + f"""
    SELECT vec_id, ad2, sim_q
    FROM rr ORDER BY sim_q DESC, vec_id LIMIT {PQ_TOP}
    """
    )


def _pq_sub_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    return emb.select("vec_id", F.posexplode("embedding").alias("p0", "v")).selectExpr(
        "vec_id",
        f"cast(p0 div {PQ_D} as bigint) AS m",
        f"cast(p0 % {PQ_D} as bigint) AS i",
        "cast(floor(cast(v as double) * 1000000) as bigint) AS qv",
    )


def _pq_codebook_df(sub: DataFrame, corpus: DataFrame) -> DataFrame:
    """Lloyd-trained codebook: init = subvectors of vec_id 1..PQ_K, then
    PQ_LLOYD_ITERS assignment/update rounds. The update's per-dim mean
    is floor(exact-integer-sum / count) via double division — identical
    IEEE ops in Spark and DuckDB, so training is hash-exact. Empty
    clusters keep their INIT centroid (left join + coalesce). All
    codebook-sized frames are M*K*D = 4096 rows — broadcast material.

    Scale note: training is a once-per-index cost and runs on a bounded
    SAMPLE at 100 TB (here: the whole sf corpus); the assignment join
    stays on the corpus vec_id partitioning, and the update agg shuffles
    only M*K*D partial rows per partition (map-side combine)."""
    cb0 = sub.filter(F.col("vec_id").between(1, PQ_K)).selectExpr(
        "m", "i", "vec_id AS cid", "qv AS cv"
    )
    cb = cb0
    for _ in range(PQ_LLOYD_ITERS):
        assign = (
            corpus.join(F.broadcast(cb), ["m", "i"])
            .groupBy("vec_id", "m", "cid")
            .agg(F.sum(F.expr("(qv - cv) * (qv - cv)")).alias("d2"))
            .groupBy("vec_id", "m")
            .agg((F.min(F.expr("d2 * 128 + cid")) % 128).cast("long").alias("acid"))
        )
        upd = (
            corpus.join(assign, ["vec_id", "m"])
            .groupBy("m", "acid", "i")
            .agg(
                F.expr("cast(floor(cast(sum(qv) as double) / count(1)) as bigint)").alias(
                    "cv_new"
                )
            )
        )
        cb = (
            cb0.join(
                upd,
                (cb0["m"] == upd["m"]) & (cb0["i"] == upd["i"]) & (cb0["cid"] == upd["acid"]),
                "left",
            )
            .select(cb0["m"], cb0["i"], cb0["cid"], F.coalesce("cv_new", "cv").alias("cv"))
        )
    return cb


@register(
    "knn_pq_embeddings",
    oracle=_pq_topk_sql(),
    oracle_fn=lambda sf_dir: _pq_topk_sql(_pq_train_bound(sf_dir)),
)
def knn_pq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized kNN: ADC shortlist over compressed codes, exact
    re-rank of the shortlist (Jegou 2011 §V, the IVFADC+R serving shape).

    Train: one Lloyd round from the vec_id 1..{PQ_K} init codebook
    (_pq_codebook_df — hash-exact integer k-means), on a footer-gated
    sample above {PQ_TRAIN_MAX} vectors (the real-deployment shape:
    Jegou trains on a held-out learn set). Encode + search: the trained
    codebook is COLLECTED (M*K*D = 4096 bigints — the bounded
    "ship the index" artifact) and shipped to the executors inside ONE
    Arrow-batched pandas UDF (_pq_adc_short) that computes each vector's
    16 codes and its ADC distance per batch in NumPy, so the corpus is
    never exploded x K. (A codegen'd higher-order-function form was
    tried first and rejected: Spark HOFs are CodegenFallback — the
    nested argmin measured 80 s interpreted at 20k vectors; see
    _pq_adc_short's docstring.) The previous explode-join-agg encode
    materialized a corpus x M x K hash aggregate — 2G groups at the
    sf100 probe's 2M vectors, >58 GB of spill, disk-full abort (the r14
    probe's find). Identical integer arithmetic (fold-order-free sums,
    argmin first-minimum tie == the oracle's packed d2*128+cid min), so
    results are bit-identical to the join form. Re-rank: only the
    top-{PQ_RERANK} ADC candidates' full vectors are fetched and scored
    by exact micro-int cosine.

    Scale shape: serving is ONE scan of the corpus through an
    ArrowEvalPython node (no corpus-side join or shuffle) into a
    TakeOrderedAndProject shortlist; the plan's only exchanges are the
    two broadcast sides of the re-rank, which joins the {PQ_RERANK}-row
    shortlist (broadcast) against the vectors table, so the exact pass
    touches R rows, not the corpus. At 100 TB the codes table is the
    materialized index (written once, bucketed), a query is ONE scan of
    the 16x-smaller codes, and the re-rank is R point lookups."""
    cb_np, dt_np, emb = _pq_driver_index(spark, sf_dir)
    short = _pq_adc_short(emb, cb_np, dt_np)
    return _pq_rerank(emb, short)


def _pq_driver_index(spark: SparkSession, sf_dir: str):
    """Stage 1 of knn_pq_embeddings — train the codebook and build the
    query-side ADC distance table, both driver-resident: (cb (M,K,D)
    int64, dt (M,K) int64, lazy embeddings DF). Scale-CONSTANT above
    the {PQ_TRAIN_MAX} footer gate: training always touches <= the
    gated prefix, and the artifacts are 4096 bigints."""
    import math

    import numpy as np

    sub = _pq_sub_df(spark, sf_dir)
    bound = _pq_train_bound(sf_dir)
    tsub = sub if bound is None else sub.filter(F.col("vec_id") <= bound)
    # HashPartitioning(vec_id) satisfies both training groupBys and the
    # (vec_id, m) Lloyd-assignment join on the (bounded) training set
    corpus_t = tsub.filter(F.col("vec_id") != 0).repartition(F.col("vec_id"))
    cb_rows = _pq_codebook_df(tsub, corpus_t).collect()  # 4096 rows, bounded
    cbmap = {(r["m"], r["cid"], r["i"]): int(r["cv"]) for r in cb_rows}
    cb_nested = [
        [[cbmap[(m, cid, i)] for i in range(PQ_D)] for cid in range(1, PQ_K + 1)]
        for m in range(PQ_M)
    ]
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    # query-side ADC distance table, computed driver-side from the
    # collected codebook + 1 query row with the oracle's exact integer
    # arithmetic (micro-quantize per dim, integer squared distance)
    qemb = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qv = [int(math.floor(float(v) * 1_000_000.0)) for v in qemb]
    dt_nested = [
        [
            sum((qv[m * PQ_D + i] - cb_nested[m][c][i]) ** 2 for i in range(PQ_D))
            for c in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]
    cb_np = np.asarray(cb_nested, dtype=np.int64)  # (M, K, D)
    dt_np = np.asarray(dt_nested, dtype=np.int64)  # (M, K)
    return cb_np, dt_np, emb


def _pq_adc_short(emb: DataFrame, cb_np, dt_np) -> DataFrame:
    """Stage 2 — the corpus ADC scan to a {PQ_RERANK}-row shortlist.
    Encode + ADC as ONE Arrow-batched pandas UDF over the raw vector
    column. Spark's higher-order functions (transform/aggregate) are
    CodegenFallback — a nested-HOF argmin measured 80 s interpreted at
    20k vectors — and the explode-join-agg form is the corpus x M x K
    spill bomb the sf100 probe caught, so this is the case the
    pandas-UDF escape hatch exists for. All arithmetic is int64 after
    the per-dim micro quantization (identical floor(double*1e6)), and
    np.argmin's first-minimum tie matches the oracle's min-cid packed
    tie-break because centroids are laid out in ascending cid order."""
    import numpy as np

    @F.pandas_udf("long")
    def pq_adc(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        q = np.floor(mat * 1_000_000.0).astype(np.int64)
        q = q.reshape(len(embs), PQ_M, PQ_D)
        out = np.zeros(len(embs), dtype=np.int64)
        for m in range(PQ_M):  # per-subspace: bounds the temp at N*K*D
            d = q[:, m, None, :] - cb_np[m][None, :, :]
            codes = np.argmin(np.sum(d * d, axis=2), axis=1)
            out += dt_np[m][codes]
        return pd.Series(out)

    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", pq_adc("embedding").alias("ad2"))
        .orderBy("ad2", "vec_id")
        .limit(PQ_RERANK)
    )


def _pq_rerank(emb: DataFrame, short: DataFrame) -> DataFrame:
    """Stage 3 — exact micro-int cosine re-rank of the broadcast
    {PQ_RERANK}-row shortlist; the exact pass touches R rows, not the
    corpus."""
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sim = (
        f"cast(floor(({_dot_expr('spark', 'embedding', 'qv')} / "
        f"({_norm_expr('spark', 'embedding')} * {_norm_expr('spark', 'qv')})) "
        f"* cast(1000000 as double)) as bigint)"
    )
    return (
        emb.join(F.broadcast(short), "vec_id")
        .crossJoin(F.broadcast(q))
        .selectExpr("vec_id", "ad2", f"{sim} AS sim_q")
        .orderBy(F.col("sim_q").desc(), "vec_id")
        .limit(PQ_TOP)
    )


def _pq_recall_sql(train_bound: int | None = None) -> str:
    exact_sim = (
        f"cast(floor(({_dot_expr('duckdb', 'embedding', 'qv')} /"
        f" ({_norm_expr('duckdb', 'embedding')} * {_norm_expr('duckdb', 'qv')}))"
        f" * cast(1000000 as double)) as bigint)"
    )
    return (
        _pq_body_sql(train_bound)
        + ","
        + _pq_rerank_ctes()
        + f""",
    pq AS (SELECT vec_id FROM rr ORDER BY sim_q DESC, vec_id LIMIT {PQ_TOP}),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    exact AS (SELECT vec_id FROM embeddings CROSS JOIN q
              WHERE vec_id <> 0
              ORDER BY {exact_sim} DESC, vec_id LIMIT {PQ_TOP})
    SELECT cast((SELECT count(*) FROM pq JOIN exact USING (vec_id)) as bigint)
               AS n_overlap,
           cast({PQ_TOP} as bigint) AS k
    """
    )


@register(
    "knn_pq_recall",
    oracle=_pq_recall_sql(),
    oracle_fn=lambda sf_dir: _pq_recall_sql(_pq_train_bound(sf_dir)),
)
def knn_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{PQ_TOP} of the PQ pipeline (ADC shortlist + exact re-rank)
    against exact float cosine — the accuracy-vs-16x-compression readout
    every PQ deployment measures before shipping the index (measures
    10/10 at this layout; pure ADC plateaued at 6-7/10 on the isotropic
    synthetic corpus). Both retrievals are the registered queries' own
    plans (knn_pq_embeddings, knn_embeddings), composed and joined;
    deterministic because both top-k lists are integer-keyed with vec_id
    tiebreaks."""
    pq = knn_pq_embeddings(spark, sf_dir).select("vec_id")
    exact = knn_embeddings(spark, sf_dir).select("vec_id")
    return pq.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        F.lit(PQ_TOP).cast("long").alias("k"),
    )


# ---------------------------------------------------------------------------
# Late-interaction retrieval (MaxSim) — ColBERT-style scoring (Khattab &
# Zaharia, "ColBERT: Efficient and Effective Passage Search via
# Contextualized Late Interaction over BERT", SIGIR 2020). Each document
# keeps a token-level embedding MATRIX rather than one pooled vector;
# score(q, d) = sum over query tokens of the max dot product against any
# document token. Here the 64-dim embedding column is viewed as T=8
# token vectors x 8 dims (the same layout a real pipeline would store as
# array<array<float>>); micro-int fixed point keeps it hash-exact.
# ---------------------------------------------------------------------------

MAXSIM_T = 8  # token vectors per document
MAXSIM_D = 8  # dims per token vector
MAXSIM_TOP = 10


def _maxsim_sql() -> str:
    return f"""
    WITH pos AS (SELECT unnest(generate_series(1, {MAXSIM_T * MAXSIM_D})) AS p),
    tok AS (SELECT vec_id,
                   cast((p - 1) // {MAXSIM_D} as bigint) AS t,
                   cast((p - 1) % {MAXSIM_D} as bigint) AS i,
                   cast(floor(cast(embedding[p] as double) * 1000000) as bigint) AS qv
            FROM embeddings CROSS JOIN pos),
    qtok AS (SELECT t AS qt, i, qv AS qval FROM tok WHERE vec_id = 0),
    dots AS (SELECT d.vec_id, d.t AS dt, q.qt,
                    sum(d.qv * q.qval) AS dot
             FROM tok d JOIN qtok q ON d.i = q.i
             WHERE d.vec_id <> 0
             GROUP BY d.vec_id, d.t, q.qt),
    best AS (SELECT vec_id, qt, max(dot) AS best_dot
             FROM dots GROUP BY vec_id, qt),
    score AS (SELECT vec_id, cast(sum(best_dot) as bigint) AS maxsim
              FROM best GROUP BY vec_id)
    SELECT vec_id, maxsim FROM score
    ORDER BY maxsim DESC, vec_id LIMIT {MAXSIM_TOP}
    """


@register("maxsim_late_interaction", oracle=_maxsim_sql())
def maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxSim late-interaction top-k: per (document token, query token)
    integer dot products, max over document tokens, sum over query
    tokens, global top-{MAXSIM_TOP}.

    Scale shape: the query's token matrix is {MAXSIM_T * MAXSIM_D} rows
    — broadcast; the corpus side is ONE narrow explode with the
    three-level agg (dot -> max -> sum) all keyed by vec_id, so the
    partial aggregations chain on one partitioning with no extra
    shuffle; top-k is TakeOrderedAndProject. At 100 TB the token
    matrices are the stored representation and a query is one scan +
    broadcast join — the candidate-generation stage in front of it is
    the ANN family (IVF/PQ/LSH) already in this registry."""
    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    tok = emb.select("vec_id", F.posexplode("embedding").alias("p0", "v")).selectExpr(
        "vec_id",
        f"cast(p0 div {MAXSIM_D} as bigint) AS t",
        f"cast(p0 % {MAXSIM_D} as bigint) AS i",
        "cast(floor(cast(v as double) * 1000000) as bigint) AS qv",
    )
    qtok = tok.filter(F.col("vec_id") == 0).selectExpr("t AS qt", "i", "qv AS qval")
    # one shuffle total: HashPartitioning(vec_id) satisfies every
    # downstream groupBy's ClusteredDistribution ((vec_id,t,qt) ->
    # (vec_id,qt) -> (vec_id)), so dot -> max -> sum chain shuffle-free.
    dots = (
        tok.filter(F.col("vec_id") != 0)
        .repartition(F.col("vec_id"))
        .join(F.broadcast(qtok), "i")
        .groupBy("vec_id", "t", "qt")
        .agg(F.sum(F.expr("qv * qval")).alias("dot"))
    )
    return (
        dots.groupBy("vec_id", "qt")
        .agg(F.max("dot").alias("best_dot"))
        .groupBy("vec_id")
        .agg(F.sum("best_dot").cast("long").alias("maxsim"))
        .orderBy(F.col("maxsim").desc(), "vec_id")
        .limit(MAXSIM_TOP)
    )


# ---------------------------------------------------------------------------
# Batch-query retrieval — the serving-scale shape. Single-query top-k
# (knn_embeddings, maxsim_late_interaction) is the unit semantics; a
# real retrieval tier scores a BATCH of Q queries per corpus pass: one
# broadcast of all Q query representations, one corpus scan, exact
# top-k PER QUERY. Per-query top-k uses the two-phase sharded rank
# (operators/rank.py per_group_topk) instead of a single-task
# window-per-query — at 100 TB a per-query partition would be one task
# sorting the whole score column.
# ---------------------------------------------------------------------------

BATCH_NQ = 4  # query batch: vec_id 0..3; corpus: vec_id >= 4
BATCH_TOP = 10
BATCH_SHARDS = 8


def _knn_batch_sql() -> str:
    sim = (
        f"cast(floor(({_dot_expr('duckdb', 'e.embedding', 'q.qv')} /"
        f" ({_norm_expr('duckdb', 'e.embedding')} * {_norm_expr('duckdb', 'q.qv')}))"
        f" * cast(1000000 as double)) as bigint)"
    )
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < {BATCH_NQ}),
    sims AS (SELECT q.qid, e.vec_id, {sim} AS sim_q
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id >= {BATCH_NQ}),
    ranked AS (SELECT qid, vec_id, sim_q,
                      cast(row_number() OVER (PARTITION BY qid
                           ORDER BY sim_q DESC, vec_id) as bigint) AS rnk
               FROM sims)
    SELECT qid, vec_id, sim_q, rnk FROM ranked
    WHERE rnk <= {BATCH_TOP} ORDER BY qid, rnk
    """


@register("knn_batch_embeddings", oracle=_knn_batch_sql())
def knn_batch_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{BATCH_TOP} for a BATCH of {BATCH_NQ}
    query vectors in one corpus pass: broadcast the Q-row query table,
    score every (corpus, query) pair in the scan's project (no
    shuffle), then exact per-query top-k via the two-phase sharded
    rank. At 100 TB the score pass stays one scan regardless of Q; the
    rank's phase-1 discards all but Q*shards*k rows before any
    per-query sort."""
    from tracy_matdb_spark.operators.rank import per_group_topk

    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    q = emb.filter(F.col("vec_id") < BATCH_NQ).selectExpr(
        "vec_id AS qid", "embedding AS qv"
    )
    sim = (
        f"cast(floor(({_dot_expr('spark', 'embedding', 'qv')} / "
        f"({_norm_expr('spark', 'embedding')} * {_norm_expr('spark', 'qv')})) "
        f"* cast(1000000 as double)) as bigint)"
    )
    sims = (
        emb.filter(F.col("vec_id") >= BATCH_NQ)
        .crossJoin(F.broadcast(q))
        .selectExpr("qid", "vec_id", f"{sim} AS sim_q")
    )
    return per_group_topk(
        sims,
        ["qid"],
        [F.col("sim_q").desc()],
        ["vec_id"],
        BATCH_TOP,
        shard_on="vec_id",
        n_shards=BATCH_SHARDS,
    ).orderBy("qid", "rnk")


def _maxsim_batch_sql() -> str:
    return f"""
    WITH pos AS (SELECT unnest(generate_series(1, {MAXSIM_T * MAXSIM_D})) AS p),
    tok AS (SELECT vec_id,
                   cast((p - 1) // {MAXSIM_D} as bigint) AS t,
                   cast((p - 1) % {MAXSIM_D} as bigint) AS i,
                   cast(floor(cast(embedding[p] as double) * 1000000) as bigint) AS qv
            FROM embeddings CROSS JOIN pos),
    qtok AS (SELECT vec_id AS qid, t AS qt, i, qv AS qval FROM tok
             WHERE vec_id < {BATCH_NQ}),
    dots AS (SELECT d.vec_id, q.qid, d.t AS dt, q.qt, sum(d.qv * q.qval) AS dot
             FROM tok d JOIN qtok q ON d.i = q.i
             WHERE d.vec_id >= {BATCH_NQ}
             GROUP BY d.vec_id, q.qid, d.t, q.qt),
    best AS (SELECT vec_id, qid, qt, max(dot) AS best_dot
             FROM dots GROUP BY vec_id, qid, qt),
    score AS (SELECT qid, vec_id, cast(sum(best_dot) as bigint) AS maxsim
              FROM best GROUP BY qid, vec_id),
    ranked AS (SELECT qid, vec_id, maxsim,
                      cast(row_number() OVER (PARTITION BY qid
                           ORDER BY maxsim DESC, vec_id) as bigint) AS rnk
               FROM score)
    SELECT qid, vec_id, maxsim, rnk FROM ranked
    WHERE rnk <= {BATCH_TOP} ORDER BY qid, rnk
    """


@register("maxsim_batch_late_interaction", oracle=_maxsim_batch_sql())
def maxsim_batch_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxSim late-interaction for a BATCH of {BATCH_NQ} queries in one
    corpus pass: ALL Q query token matrices ride one broadcast
    ({BATCH_NQ} * {MAXSIM_T} * {MAXSIM_D} rows), and the dot -> max ->
    sum chain gains a qid key — every groupBy still has vec_id as its
    leading key, so the whole score computation runs shuffle-free on
    the single corpus repartition exactly like the single-query plan.
    Per-query exact top-k via the two-phase sharded rank. This is the
    join the serving workload needs: corpus cost amortizes across the
    query batch instead of rescanning per query."""
    from tracy_matdb_spark.operators.rank import per_group_topk

    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    tok = emb.select("vec_id", F.posexplode("embedding").alias("p0", "v")).selectExpr(
        "vec_id",
        f"cast(p0 div {MAXSIM_D} as bigint) AS t",
        f"cast(p0 % {MAXSIM_D} as bigint) AS i",
        "cast(floor(cast(v as double) * 1000000) as bigint) AS qv",
    )
    qtok = tok.filter(F.col("vec_id") < BATCH_NQ).selectExpr(
        "vec_id AS qid", "t AS qt", "i", "qv AS qval"
    )
    dots = (
        tok.filter(F.col("vec_id") >= BATCH_NQ)
        .repartition(F.col("vec_id"))
        .join(F.broadcast(qtok), "i")
        .groupBy("vec_id", "qid", "t", "qt")
        .agg(F.sum(F.expr("qv * qval")).alias("dot"))
    )
    score = (
        dots.groupBy("vec_id", "qid", "qt")
        .agg(F.max("dot").alias("best_dot"))
        .groupBy("vec_id", "qid")
        .agg(F.sum("best_dot").cast("long").alias("maxsim"))
        .select("qid", "vec_id", "maxsim")
    )
    return per_group_topk(
        score,
        ["qid"],
        [F.col("maxsim").desc()],
        ["vec_id"],
        BATCH_TOP,
        shard_on="vec_id",
        n_shards=BATCH_SHARDS,
    ).orderBy("qid", "rnk")


def _hard_negative_sql() -> str:
    sim = (
        f"cast(floor(({_dot_expr('duckdb', 'e.embedding', 'q.qv')} /"
        f" ({_norm_expr('duckdb', 'e.embedding')} * {_norm_expr('duckdb', 'q.qv')}))"
        f" * cast(1000000 as double)) as bigint)"
    )
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
               FROM embeddings WHERE vec_id < {BATCH_NQ}),
    sims AS (SELECT q.qid, e.vec_id, {sim} AS sim_q
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id >= {BATCH_NQ} AND e.label <> q.qlabel),
    ranked AS (SELECT qid, vec_id, sim_q,
                      cast(row_number() OVER (PARTITION BY qid
                           ORDER BY sim_q DESC, vec_id) as bigint) AS rnk
               FROM sims)
    SELECT qid, vec_id, sim_q, rnk FROM ranked
    WHERE rnk <= {BATCH_TOP} ORDER BY qid, rnk
    """


@register("hard_negative_mining", oracle=_hard_negative_sql())
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    anchor in the query batch, the top-{BATCH_TOP} most-similar corpus
    vectors whose LABEL DIFFERS from the anchor's — the near-boundary
    negatives that make a contrastive batch informative (the easy
    random negatives contribute ~zero gradient). Same one-pass batch
    shape as knn_batch_embeddings with the label-mismatch predicate
    pushed into the scored scan (filtered before any top-k state), and
    the same two-phase sharded per-anchor top-k. At 100 TB this is the
    nightly mining pass that regenerates training triplets: one corpus
    scan for the whole anchor batch."""
    from tracy_matdb_spark.operators.rank import per_group_topk

    emb = load(spark, sf_dir, ("embeddings",))["embeddings"]
    q = emb.filter(F.col("vec_id") < BATCH_NQ).selectExpr(
        "vec_id AS qid", "embedding AS qv", "label AS qlabel"
    )
    sim = (
        f"cast(floor(({_dot_expr('spark', 'embedding', 'qv')} / "
        f"({_norm_expr('spark', 'embedding')} * {_norm_expr('spark', 'qv')})) "
        f"* cast(1000000 as double)) as bigint)"
    )
    sims = (
        emb.filter(F.col("vec_id") >= BATCH_NQ)
        .crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .selectExpr("qid", "vec_id", f"{sim} AS sim_q")
    )
    return per_group_topk(
        sims,
        ["qid"],
        [F.col("sim_q").desc()],
        ["vec_id"],
        BATCH_TOP,
        shard_on="vec_id",
        n_shards=BATCH_SHARDS,
    ).orderBy("qid", "rnk")
