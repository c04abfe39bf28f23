"""Domain operators from the reference, as registered queries.

Covers SURVEY.md §2: reproducible splits (§2.9), the AFLOW filter DSL
(§2.4), generator transformations (§2.3), MD frame subsampling (§2.1),
status rollups and content-hash verification (§2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tracy_matdb_spark.catalog import load
from tracy_matdb_spark.frames import literal_frame
from tracy_matdb_spark.functions.prng import hash60
from tracy_matdb_spark.operators import generators
from tracy_matdb_spark.operators.aflow_dsl import aflow_query
from tracy_matdb_spark.operators.split import assign_split, oracle_split_sql
from tracy_matdb_spark.queries import register


@register(
    "split_assign_orders",
    headline=True,
    oracle=oracle_split_sql("orders", "o_orderkey", 0.4, seed=42) + " ORDER BY o_orderkey",
    doc="Reproducible split assignment (matdb/database/utility.py:42-165)",
)
def split_assign_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout/super assignment over orders; exact
    ceil-based counts and counter-hash shuffle per SURVEY.md §2.9."""
    orders = load(spark, sf_dir, ("orders",))["orders"].select("o_orderkey")
    return (
        # single_scan measured ~2x on this query (round-4 plan audit)
        assign_split(orders, "o_orderkey", 0.4, seed=42, single_scan=True)
        .select("o_orderkey", "label")
        .orderBy("o_orderkey")
    )


@register(
    "aflow_dsl_filter",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE ((p_type LIKE '%ECO%' AND p_size > 20) OR p_brand = 'Brand#13')
      AND NOT p_type LIKE 'PROMO%'
    ORDER BY p_retailprice DESC, p_partkey
    LIMIT 25
    """,
    doc="AFLOW filter DSL compiled to Catalyst (matdb/database/aflux.py:84-129)",
)
def aflow_dsl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's remote-query shape — filter DSL -> select -> orderby ->
    limit (aflux.py:263-316) — compiled to one pushdown-friendly plan."""
    part = load(spark, sf_dir, ("part",))["part"]
    spec = [
        "&",
        ["|", ["&", ["p_type", "%", "ECO"], ["p_size", ">", 20]], ["p_brand", "==", "Brand#13"]],
        ["~", ["p_type", ">", "PROMO"]],
    ]
    return aflow_query(
        part,
        filters=spec,
        select=["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
        orderby="p_retailprice",
        reverse=True,
        limit=25,
        tiebreak="p_partkey",
    ).drop("p_retailprice")


@register(
    "distortion_generate",
    headline=True,
    oracle=generators.distortion_oracle_sql(),
    doc="Volume-preserving lattice distortion generator (distortion.py:220-263)",
)
def distortion_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return generators.distortion_generate(spark)


@register(
    "vacancy_enumerate",
    oracle=generators.vacancy_oracle_sql(),
    doc="Vacancy index-set enumeration + vuid hash (vacancy.py:254-318)",
)
def vacancy_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return generators.vacancy_enumerate(spark)


@register(
    "substitution_generate",
    oracle=generators.substitution_oracle_sql(),
    doc="Exact-stoichiometry relabeling generator (substitution.py:196-302)",
)
def substitution_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return generators.substitution_generate(spark)


@register(
    "param_grid_expand",
    oracle=generators.param_grid_oracle_sql(),
    doc="ParameterGrid cartesian expansion + suffix naming (utility.py:766-819)",
)
def param_grid_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return generators.param_grid_expand(spark)


@register(
    "md_frame_subsample",
    oracle="""
    SELECT event_id AS frame, epoch_us(ts) AS ts_us, user_id AS run_id, value AS energy
    FROM events
    WHERE event_id % 100 = 0
    ORDER BY frame
    """,
    doc="MD trajectory subsampling: keep every samplerate-th frame (md.py:204-209)",
)
def md_frame_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-Nth-frame trajectory subsampling (md.py:204-209). The modulo
    predicate is pushed into the scan; no shuffle at any scale."""
    from tracy_matdb_spark.catalog import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.filter(F.col("event_id") % 100 == 0)
        .select(
            F.col("event_id").alias("frame"),
            F.expr("ts_ns div 1000").alias("ts_us"),
            F.col("user_id").alias("run_id"),
            F.col("value").alias("energy"),
        )
        .orderBy("frame")
    )


@register(
    "status_rollup",
    oracle="""
    SELECT o_orderstatus AS status,
           count(*) AS n_total,
           cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) as bigint) AS n_ready,
           cast(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) as bigint) AS n_done
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY status
    """,
    doc="Conditional-count status rollup (matdb/database/__init__.py:930-982)",
)
def status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `status()` — per-group ready/done counts — as a single
    conditional aggregation (one scan, map-side partials)."""
    orders = load(spark, sf_dir, ("orders",))["orders"]
    return (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).alias("n_ready"),
            F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)).alias("n_done"),
        )
        .orderBy("status")
    )


HESS_SEEDS = [("fcc", 2), ("bcc", 3), ("hcp", 4)]


def _hessian_checksum_literals() -> str:
    """Closed-form per-seed checksums for the random-PSD eigen UDTF,
    derived WITHOUT eigh: sum of retained eigenvalues = trace(H), sum of
    their squares = trace(H^2) (the 3 acoustic zero modes contribute
    ~1e-14, far below the 4-dp rounding), retained count = 3n-3 by the
    acoustic sum rule, and the eigenvector-norm-square sum = retained
    count (eigh returns an orthonormal basis). The Spark side computes
    all four from the eigh OUTPUT; this oracle pins the same numbers
    from trace identities on the INPUT matrix — independent paths, so a
    hash match genuinely verifies the decomposition."""
    import numpy as np

    from tracy_matdb_spark.operators.hessian import synth_hessian

    rows = []
    for s, n in HESS_SEEDS:
        h = synth_hessian(s, n)
        tr = round(float(np.trace(h)), 4)
        fr = round(float(np.trace(h @ h)), 4)
        k = 3 * n - 3
        rows.append(f"('{s}', {n}, cast({k} as bigint), {tr}, {fr}, cast({k} as double))")
    return ", ".join(rows)


@register(
    "hessian_eigen",
    # Until round 6 this was the registry's sole oracle=None entry
    # (per-eigenpair rows of a random-PSD matrix have no closed form).
    # Reshaped per the round-6 verdict into a checksum projection whose
    # oracle IS closed-form — see _hessian_checksum_literals.
    oracle=f"""
    SELECT * FROM (VALUES {_hessian_checksum_literals()})
        t(seed_id, n, n_modes, sum_lambda, sumsq_lambda, vec_normsq_sum)
    ORDER BY seed_id
    """,
    doc="Hessian eigenpair UDTF: applyInPandas eigh + explode "
    "(hessian.py:243-269), hash-checked via trace-identity checksums "
    "(sum lam = tr H, sum lam^2 = tr H^2, orthonormal eigenbasis)",
)
def hessian_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.hessian import eigen_explode

    seeds = literal_frame(spark, HESS_SEEDS, "seed_id string, n_atoms int")
    ex = eigen_explode(seeds).select(
        "seed_id",
        "n",
        "eigenvalue",
        F.aggregate(
            F.flatten("eigenvector"), F.lit(0.0), lambda a, x: a + x * x
        ).alias("vnorm2"),
    )
    return (
        ex.groupBy("seed_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_modes"),
            F.round(F.sum("eigenvalue"), 4).alias("sum_lambda"),
            F.round(F.sum(F.col("eigenvalue") * F.col("eigenvalue")), 4).alias(
                "sumsq_lambda"
            ),
            F.round(F.sum("vnorm2"), 4).alias("vec_normsq_sum"),
        )
        .orderBy("seed_id")
    )


HESS_EXACT_SEEDS = [("fcc", 2), ("bcc", 3), ("hcp", 4)]


@register(
    "hessian_eigen_exact",
    # H is constructed as Q diag(lam) Q^T with lam_i = i + 1.125 (see
    # householder_hessian), so DuckDB re-derives the full expected output
    # from the spectrum alone — the eigen UDTF becomes hash-checkable.
    oracle=f"""
    SELECT seed_id, n, cast(idx.i as int) AS eig_index,
           cast(idx.i as double) + 1.125 AS eigenvalue_r,
           true AS resid_ok, true AS unit_ok
    FROM (VALUES {', '.join(f"('{s}', {n})" for s, n in HESS_EXACT_SEEDS)}) t(seed_id, n)
    JOIN (SELECT unnest(generate_series(0, 11)) AS i) idx
      ON idx.i < 3 * n
    ORDER BY seed_id, eig_index
    """,
    doc="Known-spectrum eigen UDTF: applyInPandas eigh over a Householder-"
    "constructed Hessian; spectrum + residual identities verified exactly "
    "(hessian.py:243-269)",
)
def hessian_eigen_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.hessian import eigen_exact_explode

    seeds = literal_frame(spark, HESS_EXACT_SEEDS, "seed_id string, n_atoms int")
    return eigen_exact_explode(seeds).orderBy("seed_id", "eig_index")


@register(
    "validation_rms",
    oracle="""
    SELECT o_orderstatus AS status,
           round(sqrt(avg((o_totalprice - (o_totalprice * 0.98 + 500)) *
                          (o_totalprice - (o_totalprice * 0.98 + 500)))), 2) AS rms,
           round(avg(o_totalprice - (o_totalprice * 0.98 + 500)), 2) AS residual_mean,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY status
    """,
    doc="Trainer validation RMS aggregation (fitting/basic.py:450-488)",
)
def validation_rms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMS of (ref - predicted) per group; `predicted` synthesized from the
    ref column so the oracle can reproduce it."""
    orders = load(spark, sf_dir, ("orders",))["orders"]
    df = orders.withColumn("pred", F.col("o_totalprice") * 0.98 + 500)
    delta = F.col("o_totalprice") - F.col("pred")
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.round(F.sqrt(F.avg(delta * delta)), 2).alias("rms"),
            F.round(F.avg(delta), 2).alias("residual_mean"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("status")
    )


@register(
    "dbfilter_exclude",
    oracle="""
    SELECT l_returnflag, count(*) AS n_kept,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE NOT (l_quantity > 45)
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Trainer dbfilter exclusion semantics (fitting/basic.py:164-204, 347-391)",
)
def dbfilter_exclude_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.fitting import dbfilter_exclude

    li = load(spark, sf_dir, ("lineitem",))["lineitem"]
    kept = dbfilter_exclude(li, "l_quantity", ">", 45)
    return (
        kept.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy("l_returnflag")
    )


@register(
    "active_learning_iterations",
    # The loop is fully deterministic (counter-based PRNG, content-hash
    # dedupe, ordered truncation), so the expected counts are provable
    # arithmetic: 3 seeds x 10 configs = 30/iteration with distinct md5
    # duids (no cross-batch collisions: the group salt differs per
    # iteration), target 75 -> stop after iteration 2 (90 >= 75), then
    # orderBy(iteration, duid).limit(75) keeps 30 + 30 + 15.
    oracle="""
    SELECT * FROM (VALUES
        (0, cast(30 as bigint)), (1, cast(30 as bigint)), (2, cast(15 as bigint))
    ) t(iteration, n_configs)
    ORDER BY iteration
    """,
    doc="Active-learning append + anti-join dedupe loop (active.py:158-205)",
)
def active_learning_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.active import generate_until_count
    from tracy_matdb_spark.operators.generators import _seeds_df, distortion_transform

    seeds = _seeds_df(spark)

    def make_batch(it: int) -> DataFrame:
        return distortion_transform(seeds, nconfigs=10, ran_seed=42, group=f"al-{it}")

    history, iters = generate_until_count(make_batch, target=75, uid="duid")
    return (
        history.groupBy("iteration")
        .agg(F.count(F.lit(1)).alias("n_configs"))
        .orderBy("iteration")
    )


def _multimodal_oracle_sql(n: int = 48) -> str:
    """Expected-output fixture: the synthetic payloads are deterministic
    (operators/multimodal.py synth_media), so content_sha/n_bytes are exact
    and hash-verifiable even though the codec decode itself is stubbed."""
    import hashlib

    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = hashlib.sha256(f"media-{i}".encode()).digest() * (4 + i % 5)
        rows.append(f"({i}, '{kind}', '{hashlib.sha256(payload).hexdigest()}', {len(payload)})")
    return (
        "SELECT cast(media_id as bigint) AS media_id, kind, content_sha, "
        "cast(n_bytes as int) AS n_bytes "
        f"FROM (VALUES {', '.join(rows)}) t(media_id, kind, content_sha, n_bytes) "
        "ORDER BY media_id"
    )


@register(
    "multimodal_features",
    oracle=_multimodal_oracle_sql(),
    doc="Multimodal binary columns: mapInPandas decode/feature sketch (north star)",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=48)
    return (
        extract_features(media)
        .select("media_id", "kind", "content_sha", "n_bytes")
        .orderBy("media_id")
    )


@register(
    "multimodal_decode_stats",
    # Closed-form oracle: pixel/sample constructions are linear ramps
    # (no modulo wrap by design), so channel sums have exact integer
    # closed forms and the mean is one double division — any defect in
    # the PNG encoder, filter logic, decoder, or WAV framing breaks the
    # identity. Images: w = 8 + pk % 5, h = 6, R(x,y) = pk % 200 + x,
    # G(x,y) = 10 * y, B = pk % 97. Audio: 100 samples, s_i = pk % 500 + i.
    oracle="""
    SELECT cast(p_partkey as bigint) AS media_id,
           CASE WHEN p_partkey % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
           cast(CASE WHEN p_partkey % 2 = 0 THEN 8 + p_partkey % 5 ELSE 0 END as int) AS w,
           cast(CASE WHEN p_partkey % 2 = 0 THEN 6 ELSE 0 END as int) AS h,
           cast(CASE WHEN p_partkey % 2 = 0
                THEN 3 * 6 * (8 + p_partkey % 5) ELSE 100 END as bigint) AS n_vals,
           CASE WHEN p_partkey % 2 = 0
                THEN cast(6 * (8 + p_partkey % 5) * (p_partkey % 200)
                          + 6 * (8 + p_partkey % 5) * (8 + p_partkey % 5 - 1) / 2
                          + (8 + p_partkey % 5) * 150
                          + 6 * (8 + p_partkey % 5) * (p_partkey % 97) as double)
                     / cast(3 * 6 * (8 + p_partkey % 5) as double)
                ELSE cast(100 * (p_partkey % 500) + 4950 as double) / 100.0
           END AS mean_val
    FROM part WHERE p_partkey <= 120
    ORDER BY media_id
    """,
    doc="Real codec decode end-to-end (operators/codecs.py): PNG images "
    "encoded with all five scanline filters and PCM16 WAV audio are "
    "built from part rows in one Arrow-batched stage, decoded by the "
    "pure-Python decoders in a second, and reduced to exact per-media "
    "stats the oracle recomputes in closed form.",
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    from tracy_matdb_spark.catalog import load as _load

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    stats_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("n_vals", T.LongType()),
            T.StructField("mean_val", T.DoubleType()),
        ]
    )

    def encode(batches):
        import numpy as np

        from tracy_matdb_spark.operators import codecs

        for pdf in batches:
            out = []
            for pk in pdf["p_partkey"]:
                pk = int(pk)
                if pk % 2 == 0:
                    w, h = 8 + pk % 5, 6
                    x = np.arange(w)
                    y = np.arange(h)
                    img = np.empty((h, w, 3), dtype=np.uint8)
                    img[:, :, 0] = (pk % 200) + x[None, :]
                    img[:, :, 1] = 10 * y[:, None]
                    img[:, :, 2] = pk % 97
                    payload = codecs.encode_png(img, filter_mode="cycle")
                    out.append((pk, "image", bytearray(payload)))
                else:
                    s = (pk % 500) + np.arange(100)
                    payload = codecs.encode_wav(s.astype(np.int16))
                    out.append((pk, "audio", bytearray(payload)))
            yield pd.DataFrame(out, columns=["media_id", "kind", "payload"])

    def decode(batches):
        import numpy as np

        from tracy_matdb_spark.operators.multimodal import decode_real

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = decode_real(bytes(r.payload), r.kind)
                if r.kind == "image":
                    h, w, _c = arr.shape
                else:
                    h = w = 0
                n = int(arr.size)
                mean = float(arr.astype(np.int64).sum()) / n
                out.append((int(r.media_id), r.kind, w, h, n, mean))
            yield pd.DataFrame(
                out, columns=["media_id", "kind", "w", "h", "n_vals", "mean_val"]
            )

    part = _load(spark, sf_dir, ("part",))["part"].filter(F.col("p_partkey") <= 120)
    media = part.select("p_partkey").mapInPandas(encode, media_schema)
    return media.mapInPandas(decode, stats_schema).orderBy("media_id")


PHASH_N = 60  # synthetic image count (consecutive id pairs are near-dups)
PHASH_HAM_T = 8  # max Hamming distance for a verified near-dup pair
PHASH_BANDS = 4  # 4 x 16-bit bands over the 64-bit hash


def _phash_pairs_oracle_sql(n: int = PHASH_N, ham_t: int = PHASH_HAM_T) -> str:
    """Expected near-dup pairs, derived INDEPENDENTLY of the production
    path: pixels come straight from the closed-form phash_pixel formula
    (no PNG encode/decode — so codec bugs surface as a mismatch), the
    aHash/banding/Hamming logic is plain-Python loops here vs
    numpy+JVM-SQL in the operator. Only the pixel formula itself is
    shared — it is the fixture definition, not machinery under test."""
    from tracy_matdb_spark.operators.multimodal import phash_pixel

    hashes = []
    for i in range(n):
        small = [phash_pixel(i, 2 * xx, 2 * yy) for yy in range(8) for xx in range(8)]
        mean = sum(small) // 64
        hashes.append(sum(1 << idx for idx, v in enumerate(small) if v > mean))
    rows = []
    for a in range(n):
        for b in range(a + 1, n):
            same_band = any(
                (hashes[a] >> (16 * j)) & 0xFFFF == (hashes[b] >> (16 * j)) & 0xFFFF
                for j in range(PHASH_BANDS)
            )
            if not same_band:
                continue
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= ham_t:
                rows.append(f"({a}, {b}, {d})")
    return (
        "SELECT cast(media_a as bigint) AS media_a, cast(media_b as bigint) AS media_b, "
        "cast(hamming as bigint) AS hamming "
        f"FROM (VALUES {', '.join(rows)}) t(media_a, media_b, hamming) "
        "ORDER BY media_a, media_b"
    )


@register(
    "image_phash_near_dup",
    oracle=_phash_pairs_oracle_sql(),
    doc="Perceptual-hash (aHash) image near-dup via banded LSH join over "
    "real PNG decode (north star: multimodal dedup)",
)
def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection: decode each PNG payload with the
    pure-Python codec, compute a 64-bit average hash (integer-exact:
    floor-mean threshold over an 8x8 floor-map downsample), then find
    pairs within Hamming distance {PHASH_HAM_T} WITHOUT an all-pairs
    stage: the hash splits into {PHASH_BANDS} 16-bit bands and
    candidate pairs must share one exact band — guaranteed recall for
    distance <= 3 (pigeonhole), probabilistic above (standard LSH
    recall trade-off; the oracle applies the identical banding, so the
    check is exact over the same candidate set) — and the exact
    Hamming check runs on candidates only via bit_count(xor) in
    codegen.

    Scale: the decode+hash is one Arrow-batched mapInPandas pass; the
    band join shuffles on (band_idx, band_value) — 2^16 buckets per
    band keep collisions sparse exactly like simhash_near_dup's
    banding; dedup of candidate pairs and the verify are keyed
    aggregations/joins. This is the image twin of the text MinHash-LSH
    pipeline, sharing its no-quadratic-stage discipline."""
    from tracy_matdb_spark.operators.multimodal import phash_features, synth_images

    feats = phash_features(synth_images(spark, n=PHASH_N)).localCheckpoint(eager=False)
    bands = feats.select(
        "media_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.expr(f"(phash >> {16 * j}) & 65535").alias("bv"),
                )
                for j in range(PHASH_BANDS)
            ])
        ).alias("band"),
    ).select("media_id", "band.j", "band.bv")
    cands = (
        bands.selectExpr("media_id AS media_a", "j", "bv")
        .join(bands.selectExpr("media_id AS media_b", "j", "bv"), ["j", "bv"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b")
        .distinct()
    )
    return (
        cands.join(feats.selectExpr("media_id AS media_a", "phash AS ha"), "media_a")
        .join(feats.selectExpr("media_id AS media_b", "phash AS hb"), "media_b")
        .withColumn("hamming", F.expr("bit_count(ha ^ hb)").cast("long"))
        .filter(F.col("hamming") <= PHASH_HAM_T)
        .select("media_a", "media_b", "hamming")
        .orderBy("media_a", "media_b")
    )


@register(
    "group_content_hash",
    oracle="""
    SELECT l_returnflag AS grp,
           bit_xor(('0x' || substr(md5(concat_ws('|', cast(42 as varchar),
                    cast(l_orderkey as varchar), cast(l_linenumber as varchar))), 1, 15))::bigint)
               AS content_hash,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY grp
    """,
    doc="Order-independent group content hash / verify (database/__init__.py:461-470, 1944-1976)",
)
def group_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash integrity per group. The reference hashes a sorted
    concatenation (utility.py:985-1002) — an inherently sequential fold; the
    scale-safe redesign is an order-independent XOR of per-row counter hashes,
    which Spark computes with map-side partial aggregation and no sort."""
    li = load(spark, sf_dir, ("lineitem",))["lineitem"]
    row_hash = hash60(F.lit(42), F.col("l_orderkey"), F.col("l_linenumber"))
    return (
        li.select(F.col("l_returnflag").alias("grp"), row_hash.alias("h"))
        .groupBy("grp")
        .agg(F.expr("bit_xor(h)").alias("content_hash"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy("grp")
    )


@register(
    "hnf_enumerate",
    oracle=None,  # set below after import (needs max_det constant)
    doc="HNF supercell enumeration (database/utility.py:383-496, transforms.py:54-99)",
)
def hnf_enumerate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer HNF enumeration as a codegen'd explode chain — the engine
    form of the reference's supercell search; one narrow stage, no UDF."""
    from tracy_matdb_spark.operators.crystal import hnf_enumerate

    return hnf_enumerate(spark, max_det=6).orderBy("det", "a", "b", "c", "d", "e", "f")


# fill the oracle in-place (function needed the constant)
from tracy_matdb_spark.operators.crystal import hnf_oracle_sql as _hnf_sql  # noqa: E402
from tracy_matdb_spark.queries import REGISTRY as _REG  # noqa: E402

_REG["hnf_enumerate"].oracle = _hnf_sql(6) + " ORDER BY det, a, b, c, d, e, f"


@register(
    "legacy_subset",
    oracle="""
    SELECT p_partkey AS pid, p_name AS name, p_retailprice AS energy
    FROM part
    ORDER BY ('0x' || substr(md5(7 || '|' || p_partkey), 1, 15))::bigint, p_partkey
    LIMIT 40
    """,
    doc="Legacy ingest: rename + seeded random subset (legacy.py:76-282, 141-151)",
)
def legacy_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LegacyDatabase adaptation: column renames to the engine schema plus
    the reference's seeded random `limit` subset — the shuffle is a
    deterministic hash order, so the subset is reproducible anywhere."""
    from tracy_matdb_spark.functions.prng import hash60

    part = load(spark, sf_dir, ("part",))["part"]
    return (
        part.select(
            F.col("p_partkey").alias("pid"),
            F.col("p_name").alias("name"),
            F.col("p_retailprice").alias("energy"),
        )
        .orderBy(hash60(F.lit(7), F.col("pid")), "pid")
        .limit(40)
    )


@register(
    "prototypes_crossjoin",
    oracle="""
    SELECT s.structure, p.perm,
           md5(concat(s.structure, '|', p.perm)) AS puuid
    FROM (VALUES ('L10'), ('L12'), ('B2'), ('D019')) s(structure)
    CROSS JOIN (VALUES ('AB'), ('BA')) p(perm)
    ORDER BY structure, perm
    """,
    doc="Prototypes: structures x species-permutations (prototype.py:244-256)",
)
def prototypes_crossjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's prototype expansion — product(structures, perms) with
    a puuid content hash (prototype.py:249-252) — as a broadcast crossJoin."""
    structures = spark.createDataFrame([("L10",), ("L12",), ("B2",), ("D019",)], "structure string")
    perms = spark.createDataFrame([("AB",), ("BA",)], "perm string")
    return (
        structures.crossJoin(F.broadcast(perms))
        .withColumn("puuid", F.md5(F.concat(F.col("structure"), F.lit("|"), F.col("perm"))))
        .orderBy("structure", "perm")
    )


@register(
    "vegard_lattice",
    oracle="""
    SELECT alloy, cast(floor(lat * cast(1000000 as double)) as bigint) AS lat_q
    FROM (VALUES
        ('Ag0.5-Pd0.5', (4.09 * 0.5 + 3.89 * 0.5) / (0.5 + 0.5)),
        ('Cu0.25-Ni0.75', (3.61 * 0.25 + 3.52 * 0.75) / (0.25 + 0.75)),
        ('Au1', (4.08 * 1.0) / 1.0)
    ) t(alloy, lat)
    ORDER BY alloy
    """,
    doc="Vegard's-law lattice mixing (matdb/data.py:30-40)",
)
def vegard_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("Ag0.5-Pd0.5", (4.09 * 0.5 + 3.89 * 0.5) / (0.5 + 0.5)),
        ("Cu0.25-Ni0.75", (3.61 * 0.25 + 3.52 * 0.75) / (0.25 + 0.75)),
        ("Au1", (4.08 * 1.0) / 1.0),
    ]
    df = spark.createDataFrame(rows, "alloy string, lat double")
    return df.select(
        "alloy", F.expr("cast(floor(lat * cast(1000000 as double)) as bigint)").alias("lat_q")
    ).orderBy("alloy")


@register(
    "enumerated_generate",
    # Independent oracle: Burnside's lemma. For the translation group
    # G = Z^3/HZ^3 acting on itself, #labeling classes =
    # (1/n) * sum_{g in G} 2^(n/ord(g)). Per size:
    #   n=1: 1 HNF (trivial G)            -> 1 * 2                    = 2
    #   n=2: 7 HNFs, G=Z2                 -> 7 * (2^2 + 2)/2          = 21
    #   n=3: 13 HNFs, G=Z3                -> 13 * (2^3 + 2*2)/3       = 52
    #   n=4: 35 HNFs; 7 have G=Z2xZ2 (one per order-2 subgroup of
    #        (Z/2)^3), 28 have G=Z4:
    #        7*(2^4+3*2^2)/4 + 28*(2^4+2^2+2*2)/4 = 7*7 + 28*6        = 217
    oracle="""
    SELECT * FROM (VALUES
        (1, cast(1 as bigint), cast(2 as bigint)),
        (2, cast(7 as bigint), cast(21 as bigint)),
        (3, cast(13 as bigint), cast(52 as bigint)),
        (4, cast(35 as bigint), cast(217 as bigint))
    ) t(size, n_hnfs, n_unique)
    ORDER BY size
    """,
    doc="Derivative-structure enumeration with translation-group euid "
    "dedupe; counts independently predicted by Burnside's lemma "
    "(matdb/database/enumerated.py:33-449, _enumerate 387-429)",
)
def enumerated_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.enumerated import enumerated_counts

    return enumerated_counts(spark, max_size=4, k=2)


@register(
    "enumerated_point_group",
    # Full Hart-Forcade reduction (phenum's semantics): HNF classes and
    # labelings reduced under the parent lattice's 48-op Oh point group
    # (semidirect with translations), superperiodic labelings removed.
    # Constants independently derived by exhaustive disjoint-set orbit
    # union (tools/derive_enum_oracle.py — no shared canonical-min code
    # path) and they reproduce the published Hart & Forcade PRB 77,
    # 224115 table: binary fcc sizes 1..8 sum to the well-known 631
    # structures, with HNF class counts 1,2,3,7,5,10,7,20.
    oracle="""
    SELECT * FROM (VALUES
        ('bcc', 1, cast(1 as bigint), cast(2 as bigint)),
        ('bcc', 2, cast(2 as bigint), cast(2 as bigint)),
        ('bcc', 3, cast(3 as bigint), cast(6 as bigint)),
        ('bcc', 4, cast(7 as bigint), cast(19 as bigint)),
        ('bcc', 5, cast(5 as bigint), cast(28 as bigint)),
        ('bcc', 6, cast(10 as bigint), cast(80 as bigint)),
        ('bcc', 7, cast(7 as bigint), cast(104 as bigint)),
        ('bcc', 8, cast(20 as bigint), cast(390 as bigint)),
        ('fcc', 1, cast(1 as bigint), cast(2 as bigint)),
        ('fcc', 2, cast(2 as bigint), cast(2 as bigint)),
        ('fcc', 3, cast(3 as bigint), cast(6 as bigint)),
        ('fcc', 4, cast(7 as bigint), cast(19 as bigint)),
        ('fcc', 5, cast(5 as bigint), cast(28 as bigint)),
        ('fcc', 6, cast(10 as bigint), cast(80 as bigint)),
        ('fcc', 7, cast(7 as bigint), cast(104 as bigint)),
        ('fcc', 8, cast(20 as bigint), cast(390 as bigint)),
        ('sc', 1, cast(1 as bigint), cast(2 as bigint)),
        ('sc', 2, cast(3 as bigint), cast(3 as bigint)),
        ('sc', 3, cast(3 as bigint), cast(6 as bigint)),
        ('sc', 4, cast(9 as bigint), cast(24 as bigint)),
        ('sc', 5, cast(5 as bigint), cast(28 as bigint)),
        ('sc', 6, cast(13 as bigint), cast(104 as bigint)),
        ('sc', 7, cast(7 as bigint), cast(104 as bigint)),
        ('sc', 8, cast(24 as bigint), cast(491 as bigint))
    ) t(lattice, size, n_hnfs, n_unique)
    ORDER BY lattice, size
    """,
    headline=True,  # perf-track the applyInPandas orbit stage — the
    # repo's biggest Python-side compute (round-4 verdict item #5)
    doc="Point-group (full Hart-Forcade) derivative-structure "
    "enumeration for sc/fcc/bcc, sizes <= 8: rotation+translation "
    "symmetry reduction and superperiodic removal, matching phenum "
    "(matdb/database/enumerated.py:387-429). Physics spot checks: "
    "fcc n=2 yields exactly L1_0 and L1_1; bcc n=2 yields B2 and B32; "
    "fcc/bcc binary <=8 total 631 each.",
)
def enumerated_point_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.enumerated import enumerated_reduced_counts

    return enumerated_reduced_counts(spark, max_size=8, k=2)


@register(
    "enumerated_point_group_hcp",
    # hcp extends the Hart-Forcade reduction to a MULTILATTICE parent:
    # two basis atoms, D6h point group (24 ops), and space-group ops
    # with fractional translations — half the classes (the 6_3 screw /
    # c-glide of P6_3/mmc) only map the crystal to itself composed with
    # the tau_1 translation, which operators/enumerated.space_ops
    # resolves exactly in rational arithmetic. Constants independently
    # derived by exhaustive orbit union (tools/derive_enum_oracle.py,
    # basis-aware transport). Physics anchor: one formula-unit cell has
    # exactly 3 structures — AA, BB, AB — because the screw swaps the
    # two sublattices, collapsing AB with BA.
    oracle="""
    SELECT * FROM (VALUES
        ('hcp', 1, cast(1 as bigint), cast(3 as bigint)),
        ('hcp', 2, cast(3 as bigint), cast(10 as bigint)),
        ('hcp', 3, cast(5 as bigint), cast(50 as bigint)),
        ('hcp', 4, cast(11 as bigint), cast(270 as bigint)),
        ('hcp', 5, cast(7 as bigint), cast(651 as bigint)),
        ('hcp', 6, cast(19 as bigint), cast(4793 as bigint))
    ) t(lattice, size, n_hnfs, n_unique)
    ORDER BY lattice, size
    """,
    doc="Point-group (full Hart-Forcade) derivative-structure "
    "enumeration for the hcp MULTILATTICE, sizes <= 6: 2-atom basis, "
    "D6h ops with screw/glide fractional translations, superperiodic "
    "removal — completes the reference's lattice list "
    "(matdb/database/enumerated.py:147-184: fcc/bcc/sc/hcp).",
)
def enumerated_point_group_hcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.enumerated import _reduced_structs

    structs = _reduced_structs(spark, 6, 2, ("hcp",))
    return (
        structs.groupBy("lattice", "size")
        .agg(
            F.countDistinct("hnf").alias("n_hnfs"),
            F.count(F.lit(1)).alias("n_unique"),
        )
        .orderBy("lattice", "size")
    )


@register(
    "enumerated_point_group_custom",
    # The reference's CUSTOM lattice case (matdb/database/enumerated.py:
    # 147-184: a user-supplied lattice instead of a named one), end to
    # end: the lattice is a custom[...] Gram spec string riding the
    # distributed plan; its point group is found at orbit time by the
    # generic Gram-preservation search (operators/enumerated.
    # lattice_point_group) — here simple tetragonal (c^2/a^2 = 2),
    # whose D4h group (16 ops) is a strict subgroup of Oh, so every
    # count differs from sc (e.g. 5 HNF classes at n=2 vs sc's 3: fewer
    # ops merge fewer superlattices). Constants independently derived
    # by the import-free exhaustive orbit union in
    # tools/derive_enum_oracle.py (local Gram search + DSU).
    oracle="""
    SELECT * FROM (VALUES
        (1, cast(1 as bigint), cast(2 as bigint)),
        (2, cast(5 as bigint), cast(5 as bigint)),
        (3, cast(5 as bigint), cast(10 as bigint)),
        (4, cast(17 as bigint), cast(46 as bigint)),
        (5, cast(9 as bigint), cast(52 as bigint)),
        (6, cast(29 as bigint), cast(232 as bigint))
    ) t(size, n_hnfs, n_unique)
    ORDER BY size
    """,
    doc="Point-group (full Hart-Forcade) derivative-structure "
    "enumeration for a CUSTOM lattice given as a Gram-matrix spec "
    "(simple tetragonal, D4h found by generic Gram-preservation "
    "search), sizes <= 6 — the reference's custom-lattice case "
    "(matdb/database/enumerated.py:147-184) end to end.",
)
def enumerated_point_group_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.enumerated import _reduced_structs

    structs = _reduced_structs(spark, 6, 2, ("custom[1,0,0,1,0,2]",))
    return (
        structs.groupBy("size")
        .agg(
            F.countDistinct("hnf").alias("n_hnfs"),
            F.count(F.lit(1)).alias("n_unique"),
        )
        .orderBy("size")
    )


@register(
    "enumerated_until_nconfigs",
    # retry-until-nconfigs (enumerated.py:376-379): sizes grow until the
    # cumulative unique count reaches 60 (2 + 21 + 52 = 75 >= 60 at
    # size 3); the first 60 by (size, euid) keep all of sizes 1-2 and a
    # deterministic 37 of size 3.
    oracle="""
    SELECT * FROM (VALUES
        (1, cast(2 as bigint)), (2, cast(21 as bigint)), (3, cast(37 as bigint))
    ) t(size, n_taken)
    ORDER BY size
    """,
    doc="Enumerated retry loop: grow size range until nconfigs unique "
    "structures, deterministic truncation (enumerated.py:376-379)",
)
def enumerated_until_nconfigs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.enumerated import enumerated_until_nconfigs

    taken = enumerated_until_nconfigs(spark, nconfigs=60, k=2)
    return taken.groupBy("size").agg(F.count(F.lit(1)).alias("n_taken")).orderBy("size")


@register(
    "mllib_fit_validate",
    # the synthetic data lies EXACTLY on y = 2.5*x1 - 1.25*x2 + 0.5, so
    # the normal-equation OLS recovers the coefficients to ~1e-12 and the
    # holdout RMS is ~1e-13; rounding at 6 dp lands exactly on the dyadic
    # truth in any engine. Split arithmetic: N=200, p=0.6 -> Ntrain =
    # ceil(120) = 120, Nhold = ceil(80 * 0.6) = 48.
    oracle="""
    SELECT 2.5 AS coef_x1, -1.25 AS coef_x2, 0.5 AS intercept,
           0.0 AS holdout_rms, cast(120 as bigint) AS n_train,
           cast(48 as bigint) AS n_holdout
    """,
    doc="Trainer integration: reproducible split -> MLlib OLS fit -> "
    "holdout validation RMS (SURVEY §3.2; reference fitting/basic.py:"
    "393-488 with mlp replaced by the built-in path)",
)
def mllib_fit_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.fitting import fit_linear, predict_with, validation_rms
    from tracy_matdb_spark.operators.split import assign_split

    data = spark.range(200).select(
        F.col("id"),
        ((F.col("id") % 16) / 4.0).alias("x1"),
        (((F.col("id") * 7) % 8) / 2.0).alias("x2"),
    ).withColumn("y", 2.5 * F.col("x1") - 1.25 * F.col("x2") + 0.5)
    labeled = assign_split(data, "id", 0.6, seed=11)
    train = labeled.filter(F.col("label") == "train")
    holdout = labeled.filter(F.col("label") == "holdout")
    model, va = fit_linear(train, ["x1", "x2"], "y")
    rms = (
        validation_rms(predict_with(model, va, holdout), "y", "prediction")
        .select("rms", "n")
        .collect()[0]
    )
    c1, c2 = (float(v) for v in model.coefficients)
    row = (
        round(c1, 6),
        round(c2, 6),
        round(float(model.intercept), 6),
        round(float(rms["rms"]), 6),
        train.count(),
        int(rms["n"]),
    )
    return spark.createDataFrame(
        [row],
        "coef_x1 double, coef_x2 double, intercept double, holdout_rms double, "
        "n_train bigint, n_holdout bigint",
    )


# ---------------------------------------------------------------------------
# Snapshot diff: which groups changed between two catalog versions
# (incremental form of the reference's verify, database/__init__.py:1965-1976)
# ---------------------------------------------------------------------------

_SNAP_HASH_DUCK = (
    "bit_xor(('0x' || substr(md5(concat_ws('|', cast(42 as varchar), "
    "cast(l_orderkey as varchar), cast(l_linenumber as varchar))), 1, 15))::bigint)"
)


@register(
    "snapshot_diff_groups",
    oracle=f"""
    WITH snap_a AS (
        SELECT l_returnflag AS grp, {_SNAP_HASH_DUCK} AS h, count(*) AS n
        FROM lineitem GROUP BY l_returnflag
    ),
    snap_b AS (
        SELECT l_returnflag AS grp, {_SNAP_HASH_DUCK} AS h, count(*) AS n
        FROM lineitem WHERE l_orderkey % 97 <> 0 GROUP BY l_returnflag
    )
    SELECT coalesce(a.grp, b.grp) AS grp,
           cast(coalesce(a.n, 0) as bigint) AS n_rows_a,
           cast(coalesce(b.n, 0) as bigint) AS n_rows_b,
           (a.h IS DISTINCT FROM b.h) AS changed
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.grp = b.grp
    ORDER BY grp
    """,
    doc="Incremental catalog verify: per-group order-independent content "
    "hashes of two snapshots (snapshot B simulates a partial re-extract "
    "— rows with l_orderkey % 97 == 0 missing), full-outer-joined on "
    "group to flag exactly the groups needing re-sync. Each snapshot is "
    "one map-side-partial XOR rollup; the join is a tiny group-keyed "
    "hash join — the pattern that verifies a 100 TB catalog without "
    "re-reading unchanged groups' data twice (hashes can be persisted "
    "per manifest version and compared across runs).",
)
def snapshot_diff_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, ("lineitem",))["lineitem"]

    def rollup(df: DataFrame) -> DataFrame:
        h = hash60(F.lit(42), F.col("l_orderkey"), F.col("l_linenumber"))
        return (
            df.select(F.col("l_returnflag").alias("grp"), h.alias("h"))
            .groupBy("grp")
            .agg(F.expr("bit_xor(h)").alias("h"), F.count(F.lit(1)).alias("n"))
        )

    a = rollup(li).select(F.col("grp"), F.col("h").alias("h_a"), F.col("n").alias("n_a"))
    b = rollup(li.filter(F.col("l_orderkey") % 97 != 0)).select(
        F.col("grp"), F.col("h").alias("h_b"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, "grp", "full_outer")
        .select(
            "grp",
            F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_rows_a"),
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_rows_b"),
            (~F.col("h_a").eqNullSafe(F.col("h_b"))).alias("changed"),
        )
        .orderBy("grp")
    )


@register(
    "multimodal_resize_stats",
    # Closed-form oracle for floor-indexed nearest-neighbor resize of
    # the ramp images (R = pk%200 + x, G = 10y, B = pk%97, w = 8+pk%5,
    # h = 6) to 4x3: src_x = (X*w) div 4, src_y = 2Y, so
    # sum = 12*(pk%200 + pk%97) + 3*sum_X((X*w) div 4) + 240.
    oracle="""
    WITH img AS (SELECT p_partkey AS pk, 8 + p_partkey % 5 AS w
                 FROM part WHERE p_partkey <= 120 AND p_partkey % 2 = 0),
    sx AS (SELECT pk, sum((x.x * w) // 4) AS sum_sx
           FROM img CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS x) x
           GROUP BY pk),
    tot AS (SELECT img.pk,
                   12 * (img.pk % 200 + img.pk % 97) + 3 * sx.sum_sx + 240
                       AS sum_resized
            FROM img JOIN sx USING (pk))
    SELECT cast(pk as bigint) AS media_id,
           cast(4 as int) AS out_w, cast(3 as int) AS out_h,
           cast(sum_resized as bigint) AS sum_resized,
           cast(sum_resized as double) / 36.0 AS mean_resized
    FROM tot ORDER BY media_id
    """,
    doc="Multimodal RESIZE stage (the brief's decode/feature/resize/"
    "frame-sample checklist): encode ramp PNGs -> real decode -> "
    "floor-indexed nearest-neighbor resize to 4x3 (operators/"
    "multimodal.py resize_nearest) -> exact pixel-sum stats, all in "
    "Arrow-batched mapInPandas stages. The oracle recomputes the "
    "resized sums in closed form from the floor-index identity, so the "
    "encoder, decoder, AND the resize index mapping are all under "
    "exact parity.",
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    from tracy_matdb_spark.catalog import load as _load

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("out_w", T.IntegerType()),
            T.StructField("out_h", T.IntegerType()),
            T.StructField("sum_resized", T.LongType()),
            T.StructField("mean_resized", T.DoubleType()),
        ]
    )

    def encode(batches):
        import numpy as np

        from tracy_matdb_spark.operators import codecs

        for pdf in batches:
            out = []
            for pk in pdf["p_partkey"]:
                pk = int(pk)
                w, h = 8 + pk % 5, 6
                x = np.arange(w)
                y = np.arange(h)
                img = np.empty((h, w, 3), dtype=np.uint8)
                img[:, :, 0] = (pk % 200) + x[None, :]
                img[:, :, 1] = 10 * y[:, None]
                img[:, :, 2] = pk % 97
                out.append((pk, bytearray(codecs.encode_png(img, filter_mode="cycle"))))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    def resize_stats(batches):
        import numpy as np

        from tracy_matdb_spark.operators import codecs
        from tracy_matdb_spark.operators.multimodal import resize_nearest

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(bytes(r.payload))
                small = resize_nearest(arr, 4, 3)
                s = int(small.astype(np.int64).sum())
                out.append((int(r.media_id), 4, 3, s, s / 36.0))
            yield pd.DataFrame(
                out,
                columns=["media_id", "out_w", "out_h", "sum_resized", "mean_resized"],
            )

    part = (
        _load(spark, sf_dir, ("part",))["part"]
        .filter((F.col("p_partkey") <= 120) & (F.col("p_partkey") % 2 == 0))
    )
    media = part.select("p_partkey").mapInPandas(encode, media_schema)
    return media.mapInPandas(resize_stats, out_schema).orderBy("media_id")
