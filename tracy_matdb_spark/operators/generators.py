"""Configuration generators as deterministic Spark transformations.

The reference's Group generators (SURVEY.md §2.3) produce N candidate
configurations from seeds + parameters with numpy RNG and content-hash
dedupe (distortion matdb/database/distortion.py:220-263, vacancy
vacancy.py:254-318, substitution substitution.py:196-302). Here each
generator is a pure DataFrame transformation:

    seeds  x  explode(sequence(1, nconfigs))  ->  per-row counter PRNG
          ->  physics arithmetic (JVM-side, codegen)  ->  uid hash
          ->  dropDuplicates(uid)

Randomness is the counter-based md5 PRNG (functions/prng.py) so every
row is reproducible independently of partitioning — and every generator
is *oracle-checkable*: `*_SQL` renders the identical formula tree for
DuckDB. No Python UDF anywhere: at 100 TB the generation is a narrow
map stage with no shuffle (the dedupe is the only exchange, and uid
cardinality == row cardinality so AQE handles it).

Float parity notes: outputs are quantized as floor(x * 1e6) BIGINTs
(and /1e6 doubles) rather than round(), so Spark and DuckDB agree
bit-for-bit; uid hashes are computed over the quantized integers, never
over float strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tracy_matdb_spark.frames import literal_frame

# -- shared literal seed lattices (the reference's seed POSCARs, e.g.
#    tests/Pd/POSCAR; exact decimal literals so both engines parse the
#    same doubles) --
SEED_CELLS: list[tuple[str, list[list[float]]]] = [
    ("fcc", [[0.0, 2.025, 2.025], [2.025, 0.0, 2.025], [2.025, 2.025, 0.0]]),
    ("bcc", [[-1.6, 1.6, 1.6], [1.6, -1.6, 1.6], [1.6, 1.6, -1.6]]),
    ("sc", [[3.25, 0.0, 0.0], [0.0, 3.25, 0.0], [0.0, 0.0, 3.25]]),
]

RAN_SEED = 42
SIGMA = 0.05
NCONFIGS = 20
GEN_CHUNK = 4096  # cid-axis chunk size: above this the fan-out goes two-level


def _cast_str(expr: str, dialect: str) -> str:
    return f"cast({expr} as {'string' if dialect == 'spark' else 'varchar'})"


def _h60(canon: str, dialect: str) -> str:
    if dialect == "spark":
        return f"cast(conv(substring(md5({canon}), 1, 15), 16, 10) as bigint)"
    return f"(('0x' || substr(md5({canon}), 1, 15))::bigint)"


def _u01(canon: str, dialect: str) -> str:
    # NB: the divisor must be an explicit DOUBLE — Spark parses a large
    # numeric literal as DECIMAL and decimal division truncates at ~1e-6.
    return f"({_h60(canon, dialect)} / cast(1152921504606846976 as double))"


def _gauss(key: str, dialect: str) -> str:
    """key: SQL expr for the canonical '|'-joined draw key (string)."""
    terms = " + ".join(_u01(f"concat({key}, '|g{i}')", dialect) for i in range(12))
    return f"({terms} - 6.0)"


def _seed_values_sql(dialect: str) -> str:
    rows = []
    for sid, cell in SEED_CELLS:
        flat = ", ".join(repr(v) for row in cell for v in row)
        rows.append(f"('{sid}', {flat})")
    cols = "seed_id, " + ", ".join(f"b{j}{k}" for j in range(3) for k in range(3))
    return f"(VALUES {', '.join(rows)}) AS seeds({cols})" if dialect == "duckdb" else ""


def _seeds_df(spark: SparkSession) -> DataFrame:
    rows = [(sid, *[v for row in cell for v in row]) for sid, cell in SEED_CELLS]
    cols = ["seed_id"] + [f"b{j}{k}" for j in range(3) for k in range(3)]
    schema = "seed_id string, " + ", ".join(f"{c} double" for c in cols[1:])
    return literal_frame(spark, rows, schema, partitions=len(rows))  # one task per seed, see distortion_transform


# ---------------------------------------------------------------------------
# Distortion (matdb/database/distortion.py:220-263): volume-preserving random
# lattice distortion. M = I + sigma*G, det-normalized, C' = (M/det^(1/3)) @ B.
# ---------------------------------------------------------------------------


def _distortion_stages(dialect: str, ran_seed: int = RAN_SEED, sigma: float = SIGMA) -> list[list[str]]:
    """Stage-wise projection expressions (same tree for spark/duckdb)."""
    seed_lit = "'" + str(ran_seed).replace("'", "") + "'"  # literal, not identifier
    key = lambda j, k: (  # noqa: E731
        f"concat_ws('|', {seed_lit}, seed_id, {_cast_str('cid', dialect)}, '{j}', '{k}')"
    )
    m_stage = [
        f"({'1.0' if j == k else '0.0'} + {sigma!r} * {_gauss(key(j, k), dialect)}) AS m{j}{k}"
        for j in range(3)
        for k in range(3)
    ]
    det = (
        "(m00 * (m11 * m22 - m12 * m21) - m01 * (m10 * m22 - m12 * m20)"
        " + m02 * (m10 * m21 - m11 * m20)) AS det"
    )
    # cast(-1 as double)/3: Spark would otherwise parse -1.0/3.0 as DECIMAL
    # division (scale 6), skewing the exponent by ~3e-7.
    f_stage = ["power(det, cast(-1 as double) / cast(3 as double)) AS f"]
    cprime = [
        f"(f * (m{j}0 * b0{k} + m{j}1 * b1{k} + m{j}2 * b2{k})) AS cp{j}{k}" for j in range(3) for k in range(3)
    ]
    quant = [f"cast(floor(cp{j}{k} * 1000000) as bigint) AS q{j}{k}" for j in range(3) for k in range(3)]
    qcols = ", ".join(_cast_str(f"q{j}{k}", dialect) for j in range(3) for k in range(3))
    out = (
        ["seed_id", "cid AS config_id"]
        + [f"(cast(q{j}{k} as double) / cast(1000000 as double)) AS c{j}{k}" for j in range(3) for k in range(3)]
        + [f"md5(concat_ws('|', {qcols})) AS duid"]
    )
    return [m_stage, [det], f_stage, cprime, quant, out]


def distortion_transform(
    seeds: DataFrame,
    nconfigs: int = NCONFIGS,
    sigma: float = SIGMA,
    ran_seed: int = RAN_SEED,
    group: str = "",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Seeds (seed_id + b00..b22 cell) -> nconfigs distorted cells each.

    Pure narrow transformation + codegen'd arithmetic, then a duid
    dropDuplicates (the only exchange; duid cardinality == rows so
    AQE-balanced). `group` salts the PRNG key space so different groups
    draw independent streams from one ran_seed (the reference reseeds
    numpy per group, distortion.py:82-83).

    Fan-out shape: a flat explode(sequence(1, nconfigs)) materializes
    an nconfigs-element array per seed row and runs every downstream
    expression in ONE TASK PER SEED — measured 15.6k rows/s at
    nconfigs=333k from 3 seeds, and at 10^8 configs the array itself
    OOMs a task. Above GEN_CHUNK the fan-out therefore goes in two
    levels: explode the CHUNK INDEX (a tiny array), round-robin
    repartition the (seed, chunk) rows across the cluster, then
    explode each chunk's bounded cid range — measured 5.5x at 1e6
    configs (the physics math + duid shuffle dominate thereafter),
    no join, one extra exchange. Values are identical either way:
    the PRNG keys on (seed_id, cid) only, and registered queries all
    use nconfigs <= GEN_CHUNK, keeping their plans unchanged."""
    if nconfigs <= GEN_CHUNK:
        df = seeds.withColumn("cid", F.explode(F.sequence(F.lit(1), F.lit(nconfigs))))
    else:
        nch = -(-nconfigs // GEN_CHUNK)
        df = (
            seeds.withColumn("__ch", F.explode(F.sequence(F.lit(0), F.lit(nch - 1))))
            .repartition(seeds.sparkSession.sparkContext.defaultParallelism)
            .withColumn(
                "cid",
                F.explode(
                    F.expr(
                        f"sequence(1 + __ch * {GEN_CHUNK}, "
                        f"least({nconfigs}, (__ch + 1) * {GEN_CHUNK}))"
                    )
                ),
            )
            .drop("__ch")
        )
    salted = ran_seed if not group else f"{ran_seed}-{group}"
    stages = _distortion_stages("spark", ran_seed=salted, sigma=sigma)  # type: ignore[arg-type]
    carry = df
    for stage in stages[:-1]:
        carry = carry.select("*", *[F.expr(e) for e in stage])
    final = carry.select(*[F.expr(e) for e in stages[-1]], *carry_cols)
    # duid dedupe within the batch (reference distortion.py:210-215); the
    # hash covers the full quantized cell so collisions == true duplicates.
    return final.dropDuplicates(["duid"])


def distortion_generate(spark: SparkSession) -> DataFrame:
    return distortion_transform(_seeds_df(spark)).orderBy("seed_id", "config_id")


def distortion_oracle_sql() -> str:
    stages = _distortion_stages("duckdb")
    sql = (
        f"SELECT seeds.*, gs.cid FROM {_seed_values_sql('duckdb')} "
        "CROSS JOIN (SELECT unnest(generate_series(1, %d)) AS cid) gs" % NCONFIGS
    )
    for i, stage in enumerate(stages[:-1]):
        sql = f"SELECT *, {', '.join(stage)} FROM ({sql}) s{i}"
    sql = f"SELECT {', '.join(stages[-1])} FROM ({sql}) sfinal"
    return (
        f"SELECT * FROM (SELECT DISTINCT ON (duid) * FROM ({sql}) x ORDER BY duid) y"
        " ORDER BY seed_id, config_id"
    )


# ---------------------------------------------------------------------------
# Vacancy (matdb/database/vacancy.py:254-318): enumerate unique sets of
# removed-atom indices; vuid = hash of the index set.
# ---------------------------------------------------------------------------

VACANCY_SEEDS = [("fcc", 6), ("bcc", 8), ("hcp", 9), ("sc", 7)]  # (seed_id, n_atoms)
MAX_N = 16


def vacancy_enumerate(spark: SparkSession) -> DataFrame:
    seeds = literal_frame(spark, VACANCY_SEEDS, "seed_id string, n_atoms int")
    pairs = (
        seeds.withColumn("i", F.explode(F.sequence(F.lit(0), F.col("n_atoms") - 2)))
        .withColumn("j", F.explode(F.sequence(F.col("i") + 1, F.col("n_atoms") - 1)))
    )
    return pairs.select(
        "seed_id",
        "i",
        "j",
        F.md5(F.concat_ws("|", "seed_id", F.col("i").cast("string"), F.col("j").cast("string"))).alias("vuid"),
    ).orderBy("seed_id", "i", "j")


def vacancy_transform(seeds: DataFrame) -> DataFrame:
    """Seeds (seed_id, n_atoms) -> one config per removed index-pair
    (exact C(n,2) enumeration, vacancy.py:307-312). config_id encodes the
    pair; vuid is its content hash. Seeds with n_atoms < 2 have no pairs
    (Spark's sequence() would otherwise run DESCENDING for start > stop
    and fabricate junk rows)."""
    pairs = (
        seeds.filter(F.col("n_atoms") >= 2)
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.col("n_atoms") - 2)))
        .withColumn("j", F.explode(F.sequence(F.col("i") + 1, F.col("n_atoms") - 1)))
    )
    return pairs.select(
        "seed_id",
        (F.col("i") * 1000 + F.col("j")).alias("config_id"),
        "i",
        "j",
        F.md5(F.concat_ws("|", "seed_id", F.col("i").cast("string"), F.col("j").cast("string"))).alias("duid"),
        *[c for c in pairs.columns if c not in ("seed_id", "i", "j")],
    )


def substitution_transform(
    seeds: DataFrame, nconfigs: int = 12, frac_a: float = 0.5, ran_seed: int = RAN_SEED
) -> DataFrame:
    """Seeds (seed_id, n_atoms) -> nconfigs exact-stoichiometry relabelings
    (shuffle-by-hash-rank, substitution.py:196-302)."""
    from pyspark.sql import Window

    atoms = (
        seeds.withColumn("cid", F.explode(F.sequence(F.lit(1), F.lit(nconfigs))))
        .withColumn("atom", F.explode(F.sequence(F.lit(0), F.col("n_atoms") - 1)))
        .withColumn(
            "h",
            F.expr(
                _h60(
                    f"concat_ws('|', {_cast_str(ran_seed, 'spark')}, seed_id, "
                    f"{_cast_str('cid', 'spark')}, {_cast_str('atom', 'spark')})",
                    "spark",
                )
            ),
        )
    )
    w = Window.partitionBy("seed_id", "cid").orderBy("h", "atom")
    labeled = atoms.withColumn("rk", F.row_number().over(w)).withColumn(
        "species",
        F.when(F.col("rk") <= F.ceil(F.col("n_atoms") * F.lit(frac_a)), F.lit("A")).otherwise(F.lit("B")),
    )
    # duid hashes the assignment CONTENT (seed, atom, species) — never cid —
    # so two configs that drew the same relabeling collide and dedupe, the
    # reference's `combs` set semantics (substitution.py:224-231).
    h_content = F.expr(
        _h60("concat_ws('|', seed_id, cast(atom as string), species)", "spark")
    )
    return (
        labeled.withColumn("hc", h_content)
        .groupBy("seed_id", F.col("cid").alias("config_id"))
        .agg(
            F.expr("bit_xor(hc)").alias("duid"),
            F.sum(F.when(F.col("species") == "A", 1).otherwise(0)).alias("n_a"),
            F.count(F.lit(1)).alias("n_atoms"),
        )
        .withColumn("duid", F.col("duid").cast("string"))
    )


def vacancy_oracle_sql() -> str:
    rows = ", ".join(f"('{s}', {n})" for s, n in VACANCY_SEEDS)
    return f"""
    SELECT seed_id, i, j,
           md5(concat_ws('|', seed_id, cast(i as varchar), cast(j as varchar))) AS vuid
    FROM (VALUES {rows}) AS seeds(seed_id, n_atoms)
    CROSS JOIN (SELECT unnest(generate_series(0, {MAX_N - 1})) AS i) gi
    CROSS JOIN (SELECT unnest(generate_series(0, {MAX_N - 1})) AS j) gj
    WHERE i < j AND j <= n_atoms - 1
    ORDER BY seed_id, i, j
    """


# ---------------------------------------------------------------------------
# Substitution (matdb/database/substitution.py:196-302): exact-stoichiometry
# random relabelings. The reference shuffles a fixed multiset of labels; here
# the shuffle is "order atoms by counter-hash, first n_a get species A" — a
# rank over a window partitioned by (seed, config), fully parallel.
# ---------------------------------------------------------------------------

SUB_SEEDS = [("AgPd", 8), ("CoNi", 10)]
SUB_NCONFIGS = 12
SUB_FRAC_A = 0.5


def substitution_generate(spark: SparkSession) -> DataFrame:
    from pyspark.sql import Window

    seeds = literal_frame(spark, SUB_SEEDS, "seed_id string, n_atoms int")
    atoms = (
        seeds.withColumn("cid", F.explode(F.sequence(F.lit(1), F.lit(SUB_NCONFIGS))))
        .withColumn("atom", F.explode(F.sequence(F.lit(0), F.col("n_atoms") - 1)))
        .withColumn(
            "h",
            F.expr(
                _h60(
                    f"concat_ws('|', {_cast_str(RAN_SEED, 'spark')}, seed_id, "
                    f"{_cast_str('cid', 'spark')}, {_cast_str('atom', 'spark')})",
                    "spark",
                )
            ),
        )
    )
    w = Window.partitionBy("seed_id", "cid").orderBy("h", "atom")
    labeled = atoms.withColumn("rk", F.row_number().over(w)).withColumn(
        "species",
        F.when(F.col("rk") <= F.ceil(F.col("n_atoms") * F.lit(SUB_FRAC_A)), F.lit("A")).otherwise(F.lit("B")),
    )
    return (
        labeled.groupBy("seed_id", F.col("cid").alias("config_id"))
        .agg(
            F.expr("bit_xor(h)").alias("suid_xor"),
            F.sum(F.when(F.col("species") == "A", 1).otherwise(0)).alias("n_a"),
            F.count(F.lit(1)).alias("n_atoms"),
        )
        .orderBy("seed_id", "config_id")
    )


def substitution_oracle_sql() -> str:
    rows = ", ".join(f"('{s}', {n})" for s, n in SUB_SEEDS)
    h = _h60(
        "concat_ws('|', cast(42 as varchar), seed_id, cast(cid as varchar), cast(atom as varchar))",
        "duckdb",
    )
    return f"""
    WITH atoms AS (
        SELECT seed_id, n_atoms, cid, atom, {h} AS h
        FROM (VALUES {rows}) AS seeds(seed_id, n_atoms)
        CROSS JOIN (SELECT unnest(generate_series(1, {SUB_NCONFIGS})) AS cid) gc
        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS atom) ga
        WHERE atom <= n_atoms - 1
    ),
    labeled AS (
        SELECT *, row_number() OVER (PARTITION BY seed_id, cid ORDER BY h, atom) AS rk
        FROM atoms
    )
    SELECT seed_id, cid AS config_id,
           bit_xor(h) AS suid_xor,
           -- cast: DuckDB sum(INTEGER) is HUGEINT, Spark's is BIGINT; the
           -- driver's value-hash is type-sensitive.
           cast(sum(CASE WHEN rk <= ceil(n_atoms * {SUB_FRAC_A}) THEN 1 ELSE 0 END) as bigint) AS n_a,
           count(*) AS n_atoms
    FROM labeled
    GROUP BY seed_id, cid
    ORDER BY seed_id, config_id
    """


# ---------------------------------------------------------------------------
# ParameterGrid (matdb/utility.py:766-819, suffix naming 737-764): cartesian
# expansion of `key*` YAML parameters into named sub-groups.
# ---------------------------------------------------------------------------

GRID = {"lattice": ["fcc", "bcc", "sc"], "rattle": [0.01, 0.05], "nconfigs": [10, 50]}


def param_grid_expand(spark: SparkSession) -> DataFrame:
    df = spark.range(1).select(F.lit(1).alias("one"))
    for k, vals in sorted(GRID.items()):
        lits = F.array(*[F.lit(v) for v in vals])
        df = df.withColumn(k, F.explode(lits))
    suffix = F.concat_ws(
        "-", *[F.concat_ws("-", F.lit(k), F.col(k).cast("string")) for k in sorted(GRID)]
    )
    return df.select(*sorted(GRID), suffix.alias("suffix")).orderBy("suffix")


def param_grid_oracle_sql() -> str:
    selects = []
    for k in sorted(GRID):
        vals = ", ".join(f"({v!r})" for v in GRID[k])
        selects.append(f"(VALUES {vals}) AS t_{k}({k})")
    keys = sorted(GRID)
    suffix = " || '-' || ".join(f"'{k}' || '-' || cast({k} as varchar)" for k in keys)
    return f"""
    SELECT {', '.join(keys)}, {suffix} AS suffix
    FROM {' CROSS JOIN '.join(selects)}
    ORDER BY suffix
    """


def liquid_transform(frames: DataFrame, samplerate: int) -> DataFrame:
    """LiquidGroup (matdb/database/liquid.py:24-116): one DFT
    configuration per subsampled MD frame, gated downstream of the MD
    group. The reference reads the subsample file and `create()`s a
    folder per POSCAR; here the subsample filter and the config-row
    projection compose into one narrow Catalyst stage over the parsed
    trajectory — no files, no driver loop."""
    sub = frames.filter(F.col("frame") % samplerate == 0)
    return sub.select(
        F.md5(F.concat_ws("|", "source_file", F.col("frame").cast("string"))).alias("uuid"),
        (F.col("frame") / samplerate).cast("int").alias("config_id"),
        F.lit("liq").alias("config_type"),
        "frame",
        "n",
        "species",
        "cell",
        "frac_positions",
    )
