"""CORRECTNESS registrations for operators previously covered by pytest only.

Round-1 verdict: "the bar is a green CORRECTNESS row per operator". This
module registers the XYZ/CFG parse+export round-trips, quantity
projection, conform_supercell, special_values expansion, the pipeline
find/status/split lifecycle, DOS-convergence selection, and the small
aggregation sweep (energy-key scan, split-average, BZ band error).

Oracle strategy, per operator class:
- Pure functions of literal inputs (conform_supercell, dos_convergence,
  small aggs): literal VALUES on both sides, DuckDB recomputes the
  aggregation independently.
- special_values: DuckDB recomputes linspace/logspace/range/random from
  generate_series + the same md5 counter PRNG — fully independent.
- Text-format round-trips: fixture records (exact dyadic rationals, so
  text formatting and float parsing are bit-exact) are formatted, written
  to files, re-parsed through the Spark binaryFile+mapInPandas reader;
  the oracle is the ground-truth VALUES of the original records. Any
  parser/formatter defect breaks the round-trip identity.
- Pipeline lifecycle: a deterministic 3-group spec materialized under
  /tmp; counts are hand-computable from the generator definitions
  (explode cardinalities + ceil split arithmetic), so the oracle VALUES
  are independent arithmetic, not captured output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tracy_matdb_spark.catalog import load
from tracy_matdb_spark.operators import textops
from tracy_matdb_spark.queries import register

# ---------------------------------------------------------------------------
# XYZ / CFG round-trips (sources/textformats.py; reference matdb/io.py:57-343)
# ---------------------------------------------------------------------------

# All coordinates/energies are dyadic rationals: exact in binary doubles,
# exact through %.10g text and back — so round-trip parity is bit-exact.
TEXT_FIXTURE: list[tuple[str, list[dict]]] = [
    (
        "fx_a",
        [
            {
                "n": 2,
                "cell": [[4.0, 0.0, 0.0], [0.0, 4.0, 0.0], [0.0, 0.0, 4.0]],
                "species": ["Ag", "Pd"],
                "positions": [[0.0, 0.0, 0.0], [2.0, 2.0, 2.0]],
                "forces": [[0.5, -0.25, 0.0], [0.125, 0.0, -1.5]],
                "energy": -3.5,
            },
            {
                "n": 1,
                "cell": [[2.5, 0.0, 0.0], [0.0, 2.5, 0.0], [0.0, 0.0, 2.5]],
                "species": ["Cu"],
                "positions": [[1.25, 0.5, 0.75]],
                "forces": None,
                "energy": 0.625,
            },
        ],
    ),
    (
        "fx_b",
        [
            {
                "n": 3,
                "cell": [[3.0, 0.5, 0.0], [0.0, 3.0, 0.0], [0.25, 0.0, 3.0]],
                "species": ["Ni", "Ni", "Pt"],
                "positions": [[0.0, 0.0, 0.0], [1.5, 1.5, 0.0], [0.75, 0.25, 1.5]],
                "forces": [[0.0, 0.0, 0.0], [0.5, 0.5, -0.5], [-0.5, -0.5, 0.5]],
                "energy": -7.25,
            }
        ],
    ),
]

SPECIES_TYPES = {"Ag": 0, "Pd": 1, "Cu": 2, "Ni": 3, "Pt": 4}
TYPE_SPECIES = {v: k for k, v in SPECIES_TYPES.items()}

from tracy_matdb_spark.fixtures import FIXTURE_ROOT  # noqa: F401  (pid-suffixed, see fixtures.py)


def _write_text_fixture(fmt: str) -> str:
    """Format the fixture records to <fmt> files (idempotent)."""
    from tracy_matdb_spark.sources.textformats import format_cfg, format_xyz

    out_dir = os.path.join(FIXTURE_ROOT, fmt)
    os.makedirs(out_dir, exist_ok=True)
    for fname, recs in TEXT_FIXTURE:
        if fmt == "xyz":
            body = "\n".join(format_xyz(r) for r in recs)
        else:
            body = "\n".join(format_cfg(r, type_of=SPECIES_TYPES) for r in recs)
        with open(os.path.join(out_dir, f"{fname}.{fmt}"), "w") as f:
            f.write(body + "\n")
    return out_dir


def _roundtrip_projection(df: DataFrame) -> DataFrame:
    """Flatten a parsed-config DataFrame to exact-comparable scalars."""
    return df.select(
        F.regexp_extract("source_file", r"([^/]+)\.[a-z]+$", 1).alias("fname"),
        "config_id",
        "n",
        F.col("energy").cast("double").alias("energy"),
        F.concat_ws(",", "species").alias("species_str"),
        F.expr("aggregate(flatten(positions), cast(0 as double), (a, x) -> a + x)").alias("pos_sum"),
        F.expr("aggregate(flatten(cell), cast(0 as double), (a, x) -> a + x)").alias("cell_sum"),
        F.expr(
            "CASE WHEN forces IS NULL THEN NULL "
            "ELSE aggregate(flatten(forces), cast(0 as double), (a, x) -> a + x) END"
        ).alias("force_sum"),
    ).orderBy("fname", "config_id")


def _roundtrip_oracle_sql() -> str:
    """Ground-truth VALUES computed from the literal fixture records."""
    rows = []
    for fname, recs in TEXT_FIXTURE:
        for cid, r in enumerate(recs):
            pos_sum = sum(v for row in r["positions"] for v in row)
            cell_sum = sum(v for row in r["cell"] for v in row)
            force_sum = (
                "NULL" if r["forces"] is None else repr(sum(v for row in r["forces"] for v in row))
            )
            rows.append(
                f"('{fname}', {cid}, {r['n']}, {r['energy']!r}, "
                f"'{','.join(r['species'])}', {pos_sum!r}, {cell_sum!r}, {force_sum})"
            )
    return f"""
    SELECT fname, config_id, n, cast(energy as double) AS energy, species_str,
           cast(pos_sum as double) AS pos_sum, cast(cell_sum as double) AS cell_sum,
           cast(force_sum as double) AS force_sum
    FROM (VALUES {', '.join(rows)})
         t(fname, config_id, n, energy, species_str, pos_sum, cell_sum, force_sum)
    ORDER BY fname, config_id
    """


@register(
    "xyz_roundtrip",
    oracle=_roundtrip_oracle_sql(),
    doc="Extended-XYZ export -> binaryFile+mapInPandas parse round-trip "
    "(matdb/io.py:290-343, atoms.py:117-122)",
)
def xyz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.sources.textformats import read_xyz

    out_dir = _write_text_fixture("xyz")
    return _roundtrip_projection(read_xyz(spark, out_dir))


@register(
    "cfg_roundtrip",
    oracle=_roundtrip_oracle_sql(),
    doc="MTP CFG export -> parse round-trip with species type_map "
    "(matdb/io.py:57-141, 204-266)",
)
def cfg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import partial

    from tracy_matdb_spark.sources.files import read_files, text
    from tracy_matdb_spark.sources.textformats import CONFIG_SCHEMA, parse_cfg

    out_dir = _write_text_fixture("cfg")
    parse = text(partial(parse_cfg, type_map=TYPE_SPECIES))
    return _roundtrip_projection(read_files(spark, out_dir, "*.cfg", parse, CONFIG_SCHEMA))


# ---------------------------------------------------------------------------
# Quantity projection (operators/fitting.py; reference fitting/basic.py:292-345)
# ---------------------------------------------------------------------------


@register(
    "quantities_mean",
    oracle="""
    SELECT avg(l_quantity) AS l_quantity_mean
    FROM lineitem
    """,
    doc="Trainer.quantities projection + FQDN aggregator (fitting/basic.py:292-345)",
)
def quantities_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantities() with the numpy.mean aggregator over an integer-valued
    double column — the sum is exact (< 2^53), so the mean is bit-equal
    across engines regardless of partial-aggregation order."""
    from tracy_matdb_spark.operators.fitting import quantities

    li = load(spark, sf_dir, ("lineitem",))["lineitem"]
    return quantities(li, ["l_quantity"], aggregate="numpy.mean")


# ---------------------------------------------------------------------------
# conform_supercell (operators/crystal.py; reference transforms.py:32-52)
# ---------------------------------------------------------------------------

SUPERCELL_FORMS: list[tuple[int, object]] = [
    (0, [2, 3, 4]),                                   # 3 -> diagonal
    (1, [1, 0, 0, 0, 2, 0, 0, 1, 3]),                 # 9 -> rows
    (2, [[2, 1, 0], [0, 2, 0], [0, 0, 5]]),           # 3x3 -> itself
]


@register(
    "conform_supercell_forms",
    oracle="""
    SELECT * FROM (VALUES
        (0, 2, 0, 0, 0, 3, 0, 0, 0, 4),
        (1, 1, 0, 0, 0, 2, 0, 0, 1, 3),
        (2, 2, 1, 0, 0, 2, 0, 0, 0, 5)
    ) t(form_id, s00, s01, s02, s10, s11, s12, s20, s21, s22)
    ORDER BY form_id
    """,
    doc="conform_supercell 3/9/3x3 normalization (transforms.py:32-52)",
)
def conform_supercell_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.crystal import conform_supercell

    rows = []
    for fid, form in SUPERCELL_FORMS:
        m = conform_supercell(form)
        rows.append((fid, *[m[j][k] for j in range(3) for k in range(3)]))
    cols = "form_id int, " + ", ".join(f"s{j}{k} int" for j in range(3) for k in range(3))
    return spark.createDataFrame(rows, cols).orderBy("form_id")


# ---------------------------------------------------------------------------
# special_values expansion (plans/spec.py; reference utility.py:589-654)
# ---------------------------------------------------------------------------

SPECIALS = {
    "lin": "linspace(1,2,5)",
    "log": "logspace(0,2,3)",
    "rng": "range(0,10,2.5)",
    "rnd": "random:4",
}
SPECIALS_SEED = 42


def _special_values_oracle_sql() -> str:
    """DuckDB recomputes every expansion independently: linspace/logspace/
    range from generate_series arithmetic (same operation order as the
    Python expansion, so doubles are bit-equal), random from the identical
    md5 counter PRNG."""
    prng = (
        f"(('0x' || substr(md5('{SPECIALS_SEED}|rnd|' || i), 1, 15))::bigint"
        " / cast(1152921504606846976 as double))"
    )
    return f"""
    WITH lin AS (
        SELECT 'lin' AS name, i, 1.0 + i * ((2.0 - 1.0) / 4) AS v
        FROM (SELECT unnest(generate_series(0, 4)) AS i)
    ),
    log AS (
        SELECT 'log' AS name, i, power(10.0, 0.0 + i * ((2.0 - 0.0) / 2)) AS v
        FROM (SELECT unnest(generate_series(0, 2)) AS i)
    ),
    rng AS (
        SELECT 'rng' AS name, i, 0.0 + i * 2.5 AS v
        FROM (SELECT unnest(generate_series(0, 3)) AS i)
    ),
    rnd AS (
        SELECT 'rnd' AS name, i, {prng} AS v
        FROM (SELECT unnest(generate_series(0, 3)) AS i)
    )
    SELECT name, cast(i as int) AS idx,
           cast(floor(v * cast(1000000 as double)) as bigint) AS value_q
    FROM (SELECT * FROM lin UNION ALL SELECT * FROM log
          UNION ALL SELECT * FROM rng UNION ALL SELECT * FROM rnd)
    ORDER BY name, idx
    """


@register(
    "special_values_expand",
    oracle=_special_values_oracle_sql(),
    doc="special_values parameter expansion: linspace/logspace/range/random "
    "(matdb/utility.py:589-654)",
)
def special_values_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from tracy_matdb_spark.plans.spec import special_values

    # quantization uses the same floor(x * 1e6) convention as the oracle
    rows = []
    for name in sorted(SPECIALS):
        vals = special_values(SPECIALS[name], seed=SPECIALS_SEED, key=name)
        for i, v in enumerate(vals):
            rows.append((name, i, int(math.floor(v * 1_000_000))))
    return spark.createDataFrame(rows, "name string, idx int, value_q bigint").orderBy("name", "idx")


# ---------------------------------------------------------------------------
# Pipeline lifecycle: find / status / split (plans/pipeline.py;
# reference Controller find 1710-1786, Database.status 1328-1347,
# split 1401-1424 + database/utility.py:42-165)
# ---------------------------------------------------------------------------

PIPE_SPEC = {
    "ran_seed": 7,
    "databases": {
        "main": {
            "steps": [
                {
                    "type": "distortion",
                    "name": "dist",
                    "params": {"nconfigs": 8, "sigma*": [0.02, 0.05]},
                    "chain": False,
                },
                {
                    "type": "vacancy",
                    "name": "vac",
                    "params": {},
                    "chain": False,
                    "splittable": False,
                },
            ]
        }
    },
}
PIPE_DIR = os.path.join(FIXTURE_ROOT, "pipeline")


# keyed on the LIVE SparkSession (weak keys): id()-based keys are
# recycled after GC, so a later session could collide with a dead one's
# key and silently skip setup() (round-4 advice)
_PIPE_CACHE: "weakref.WeakKeyDictionary[SparkSession, object]" = None  # type: ignore[assignment]


def _pipeline(spark: SparkSession):
    """Materialize the fixture pipeline (idempotent overwrite), once per
    session: six registered queries consume the same deterministic
    catalog, so re-running setup()'s parquet writes for each is pure
    overhead (it dominated their sweep times). A cache hit is trusted
    only while the written outputs still exist on disk."""
    import weakref

    from tracy_matdb_spark.plans.pipeline import Pipeline

    global _PIPE_CACHE
    if _PIPE_CACHE is None:
        _PIPE_CACHE = weakref.WeakKeyDictionary()
    p = _PIPE_CACHE.get(spark)
    if p is not None:
        expected = (
            os.path.join(PIPE_DIR, "configurations"),
            os.path.join(PIPE_DIR, "groups"),
        )
        if not all(os.path.isdir(d) and os.listdir(d) for d in expected):
            p = None  # fixture files deleted mid-session: redo setup
    if p is None:
        p = Pipeline(PIPE_SPEC, PIPE_DIR)
        p.setup(spark)
        _PIPE_CACHE[spark] = p
    return p


@register(
    "pipeline_status",
    # hand-computed: distortion = 8 configs x 3 builtin seeds per grid combo
    # (duid dedupe cannot collide across distinct (seed, cid) draws);
    # vacancy = C(4,2) + C(2,2) + C(1,2) = 6 + 1 + 0 = 7 index pairs.
    oracle="""
    SELECT * FROM (VALUES
        ('main', 'dist-sigma-0.02', cast(24 as bigint), cast(24 as bigint)),
        ('main', 'dist-sigma-0.05', cast(24 as bigint), cast(24 as bigint)),
        ('main', 'vac', cast(7 as bigint), cast(7 as bigint))
    ) t(database, group_name, n_configs, n_unique)
    ORDER BY database, group_name
    """,
    doc="Pipeline status() rollup over the materialized catalog "
    "(Database.status, matdb/database/__init__.py:1328-1347)",
)
def pipeline_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipeline(spark).status(spark)


@register(
    "pipeline_find",
    oracle="""
    SELECT * FROM (VALUES
        ('main/dist-sigma-0.02'), ('main/dist-sigma-0.05')
    ) t(path) ORDER BY path
    """,
    doc="Pipeline find() glob over catalog metadata (Controller.find, "
    "matdb/database/__init__.py:1710-1786)",
)
def pipeline_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _pipeline(spark)
    matches = p.find(spark, "main/dist*")
    return spark.createDataFrame([(m,) for m in matches], "path string").orderBy("path")


@register(
    "pipeline_split_counts",
    # splittable N = 48 (two distortion groups x 24), p = 0.4:
    #   Ntrain = ceil(19.2) = 20, Nhold = ceil((48-20)*0.4) = 12, Nsuper = 16;
    # vac (splittable=False, 7 rows) is forced into train: 20 + 7 = 27.
    oracle="""
    SELECT * FROM (VALUES
        ('A', 'holdout', cast(12 as bigint)),
        ('A', 'super', cast(16 as bigint)),
        ('A', 'train', cast(27 as bigint))
    ) t(split_name, label, n)
    ORDER BY split_name, label
    """,
    doc="Pipeline split(): reproducible assignment + unsplittable-to-train "
    "(matdb/database/__init__.py:1414-1419; database/utility.py:42-165)",
)
def pipeline_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _pipeline(spark)
    assignments = p.split(spark, {"A": 0.4})
    return (
        assignments.groupBy("split_name", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split_name", "label")
    )


def _fqdn_oracle() -> str:
    """VALUES oracle for the FQDN make_supercell hook: replicate the
    builtin seeds (seed_id, n_atoms, diag/off-diag cells) and apply the
    x2 supercell arithmetic in SQL with the same IEEE double ops."""
    from tracy_matdb_spark.operators.generators import SEED_CELLS

    rows = []
    for (sid, cell), n in zip(SEED_CELLS, (4, 2, 1)):
        rows.append(f"('{sid}', {n}, {cell[0][0]!r}, {cell[0][1]!r}, {cell[2][2]!r})")
    return f"""
    SELECT seed_id, cast(n_atoms * 8 as int) AS n_atoms,
           cast(floor(b00 * 2 * cast(1000000 as double)) as bigint) AS b00_q,
           cast(floor(b01 * 2 * cast(1000000 as double)) as bigint) AS b01_q,
           cast(floor(b22 * 2 * cast(1000000 as double)) as bigint) AS b22_q
    FROM (VALUES {", ".join(rows)}) t(seed_id, n_atoms, b00, b01, b22)
    ORDER BY seed_id
    """


@register(
    "fqdn_transform_supercell",
    oracle=_fqdn_oracle(),
    doc="FQDN-keyed transform hook through the pipeline step runner: a "
    "manual step whose `transforms:` mapping names make_supercell by "
    "fully-qualified dotted name, resolved via importlib and applied to "
    "every created config (functions/registry.py:27-68; reference "
    "matdb/database/__init__.py:77-79,822-826, transforms.py:101-134). "
    "Asserts the x8 atom-count scaling and x2 cell scaling survive the "
    "hook, i.e. the transform composed into the Catalyst plan.",
)
def fqdn_transform_supercell(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.plans.pipeline import Pipeline, builtin_seeds

    step = {
        "type": "manual",
        "name": "seeds",
        "transforms": {
            "tracy_matdb_spark.functions.registry.make_supercell": {"supercell": [2, 2, 2]}
        },
    }
    pipe = Pipeline({"name": "fqdn-demo"}, out_dir="")
    _, out = pipe._run_step(spark, builtin_seeds(spark), step, "", {}, "fqdn-demo")
    q = "cast(floor({c} * cast(1000000 as double)) as bigint)"
    return out.select(
        "seed_id",
        "n_atoms",
        F.expr(q.format(c="b00")).alias("b00_q"),
        F.expr(q.format(c="b01")).alias("b01_q"),
        F.expr(q.format(c="b22")).alias("b22_q"),
    ).orderBy("seed_id")


# ---------------------------------------------------------------------------
# DOS-convergence supercell selection (operators/hessian.py;
# reference hessian.py:341-380)
# ---------------------------------------------------------------------------

BAND_ERRORS = [
    # (seed_id, supercell_size, dos_err, tolerance)
    ("fcc", 8, 0.50, 0.25),
    ("fcc", 27, 0.20, 0.25),
    ("fcc", 64, 0.05, 0.25),
    ("bcc", 8, 0.10, 0.25),
    ("bcc", 27, 0.02, 0.25),
    ("hcp", 8, 0.90, 0.25),
]


@register(
    "dos_convergence",
    oracle="""
    SELECT seed_id,
           arg_min(supercell_size, supercell_size) AS best_supercell,
           min(supercell_size) AS min_size
    FROM (VALUES
        ('fcc', 8, 0.50, 0.25), ('fcc', 27, 0.20, 0.25), ('fcc', 64, 0.05, 0.25),
        ('bcc', 8, 0.10, 0.25), ('bcc', 27, 0.02, 0.25), ('hcp', 8, 0.90, 0.25)
    ) t(seed_id, supercell_size, dos_err, tolerance)
    WHERE dos_err < tolerance
    GROUP BY seed_id
    ORDER BY seed_id
    """,
    doc="Smallest supercell under DOS-error tolerance via min_by "
    "(_best_bands, matdb/database/hessian.py:341-380)",
)
def dos_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.operators.hessian import dos_convergence_select

    df = spark.createDataFrame(
        BAND_ERRORS, "seed_id string, supercell_size int, dos_err double, tolerance double"
    )
    return dos_convergence_select(df).orderBy("seed_id")


# ---------------------------------------------------------------------------
# Small aggregation sweep (SURVEY §2.6 leftovers)
# ---------------------------------------------------------------------------


@register(
    "energy_key_scan",
    oracle="""
    SELECT config,
           cast(coalesce(vasp_energy, qe_energy, dft_energy) as double) AS energy
    FROM (VALUES
        ('c1', 1.5, NULL, NULL),
        ('c2', NULL, -2.25, NULL),
        ('c3', NULL, NULL, 0.75),
        ('c4', NULL, NULL, NULL)
    ) t(config, vasp_energy, qe_energy, dft_energy)
    ORDER BY config
    """,
    doc="First energy-like key scan as coalesce over calculator columns "
    "(matdb/atoms.py:202-208)",
)
def energy_key_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("c1", 1.5, None, None),
        ("c2", None, -2.25, None),
        ("c3", None, None, 0.75),
        ("c4", None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "config string, vasp_energy double, qe_energy double, dft_energy double"
    )
    return df.select(
        "config", F.coalesce("vasp_energy", "qe_energy", "dft_energy").alias("energy")
    ).orderBy("config")


@register(
    "split_average_param",
    oracle="""
    SELECT split_name, avg(cast(fraction as double)) AS mean_fraction, count(*) AS n_dbs
    FROM (VALUES
        ('A', 'db1', 0.5), ('A', 'db2', 0.25), ('A', 'db3', 0.75),
        ('B', 'db1', 0.125), ('B', 'db2', 0.375)
    ) t(split_name, db, fraction)
    GROUP BY split_name
    ORDER BY split_name
    """,
    doc="Mean per-database split fraction (fitting/basic.py:206-217)",
)
def split_average_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("A", "db1", 0.5), ("A", "db2", 0.25), ("A", "db3", 0.75),
        ("B", "db1", 0.125), ("B", "db2", 0.375),
    ]
    df = spark.createDataFrame(rows, "split_name string, db string, fraction double")
    return (
        df.groupBy("split_name")
        .agg(F.avg("fraction").alias("mean_fraction"), F.count(F.lit(1)).alias("n_dbs"))
        .orderBy("split_name")
    )


@register(
    "bz_band_error",
    # std is computed as sqrt(E[d^2] - E[d]^2) rather than stddev_pop: the
    # moment averages are exact dyadic rationals (group sizes are powers of
    # two), so both engines feed identical doubles into one IEEE sqrt —
    # whereas two Welford implementations could differ in the last ulp.
    oracle="""
    SELECT grid,
           avg(abs(d)) AS mean_abs_err,
           sqrt(avg(d * d) - avg(d) * avg(d)) AS err_std,
           count(*) AS n_bands
    FROM (
        SELECT grid, cast(eig_a as double) - cast(eig_b as double) AS d
        FROM (VALUES
            ('g2', 1.0, 0.0), ('g2', 2.0, 5.0), ('g2', 4.0, 3.0), ('g2', 8.0, 9.0),
            ('g3', 1.5, 1.5), ('g3', 2.5, 2.5)
        ) t(grid, eig_a, eig_b)
    )
    GROUP BY grid
    ORDER BY grid
    """,
    doc="BZ band-error compare: mean-abs + std of eigenvalue diffs across "
    "grids (Hessian.compare, matdb/database/hessian.py:319-339)",
)
def bz_band_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("g2", 1.0, 0.0), ("g2", 2.0, 5.0), ("g2", 4.0, 3.0), ("g2", 8.0, 9.0),
        ("g3", 1.5, 1.5), ("g3", 2.5, 2.5),
    ]
    df = spark.createDataFrame(rows, "grid string, eig_a double, eig_b double")
    d = F.col("eig_a") - F.col("eig_b")
    return (
        df.select("grid", d.alias("d"))
        .groupBy("grid")
        .agg(
            F.avg(F.abs(F.col("d"))).alias("mean_abs_err"),
            F.sqrt(F.avg(F.col("d") * F.col("d")) - F.avg("d") * F.avg("d")).alias("err_std"),
            F.count(F.lit(1)).alias("n_bands"),
        )
        .orderBy("grid")
    )


# ---------------------------------------------------------------------------
# Provenance manifests + re-split versioning (plans/provenance.py;
# reference dbcat matdb/utility.py:933-983, re-split archiving
# database/utility.py:76-87)
# ---------------------------------------------------------------------------

PROV_DIR = os.path.join(FIXTURE_ROOT, "pipeline_prov")


def _fresh_prov_pipeline(spark: SparkSession):
    import shutil

    from tracy_matdb_spark.plans.pipeline import Pipeline

    shutil.rmtree(PROV_DIR, ignore_errors=True)
    p = Pipeline(PIPE_SPEC, PROV_DIR)
    p.setup(spark)
    return p


@register(
    "manifest_verify",
    # every group write carries a sidecar manifest whose params round-trip
    # the spec; the groups-table manifest chains each group dir as a
    # (path, version-uuid) source pair with a resolvable version.
    oracle="""
    SELECT * FROM (VALUES
        ('main/dist-sigma-0.02', true, true),
        ('main/dist-sigma-0.05', true, true),
        ('main/vac', true, true),
        ('groups-table', true, true)
    ) t(path, has_version, params_ok)
    ORDER BY path
    """,
    doc="Provenance manifest round-trip: version uuid + chained source "
    "versions on every write (dbcat, matdb/utility.py:933-983)",
)
def manifest_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from tracy_matdb_spark.plans import provenance as P

    p = _fresh_prov_pipeline(spark)
    cfg_path = os.path.join(PROV_DIR, "configurations")
    rows = []
    for g in p.groups:
        gdir = os.path.join(cfg_path, f"database={g['database']}", f"group_name={g['group_name']}")
        m = P.read_manifest(gdir) or {}
        params_ok = _json.dumps(m.get("params", {}), sort_keys=True) == g["params_json"]
        rows.append((f"{g['database']}/{g['group_name']}", bool(m.get("version")), params_ok))
    gm = P.read_manifest(os.path.join(PROV_DIR, "groups")) or {}
    chained = bool(gm.get("sources")) and all(v is not None for _, v in gm["sources"])
    rows.append(("groups-table", bool(gm.get("version")), chained))
    return spark.createDataFrame(rows, "path string, has_version boolean, params_ok boolean").orderBy(
        "path"
    )


@register(
    "split_versioning",
    # re-split (recalc > 0) writes version=2 and leaves version=1 archived;
    # same seed -> identical assignment counts in both versions
    # (splittable N=48, p=0.4 -> 20/12/16; +7 unsplittable into train).
    oracle="""
    SELECT * FROM (VALUES
        (1, 'holdout', cast(12 as bigint)), (1, 'super', cast(16 as bigint)),
        (1, 'train', cast(27 as bigint)),
        (2, 'holdout', cast(12 as bigint)), (2, 'super', cast(16 as bigint)),
        (2, 'train', cast(27 as bigint))
    ) t(split_version, label, n)
    ORDER BY split_version, label
    """,
    doc="Re-split archiving: version=k partitions with per-version "
    "manifests (database/utility.py:76-87)",
)
def split_versioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.plans import provenance as P

    p = _fresh_prov_pipeline(spark)
    p.split(spark, {"A": 0.4})
    p.split(spark, {"A": 0.4}, recalc=1)
    meta = p.split_versions(spark)
    assert [m["split_version"] for m in meta] == [1, 2]
    assert meta[0]["version"] != meta[1]["version"]  # distinct uuids
    root = os.path.join(PROV_DIR, "split_assignments")
    out = None
    for v in (1, 2):
        part = (
            spark.read.parquet(P.version_dir(root, v))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("split_version", F.lit(v))
        )
        out = part if out is None else out.unionByName(part)
    return out.select("split_version", "label", "n").orderBy("split_version", "label")


@register(
    "finalize_snapshot",
    # snapshot = groups x content-hashes: the three fixture groups with
    # their known config counts and a nonzero bit_xor hash each.
    oracle="""
    SELECT * FROM (VALUES
        ('main', 'dist-sigma-0.02', cast(24 as bigint), true),
        ('main', 'dist-sigma-0.05', cast(24 as bigint), true),
        ('main', 'vac', cast(7 as bigint), true)
    ) t(database, group_name, n, hash_nonzero)
    ORDER BY database, group_name
    """,
    doc="Catalog finalize: versioned snapshot of per-group counts + "
    "content hashes with provenance chaining (Controller.finalize, "
    "matdb/database/__init__.py:1978-2006)",
)
def finalize_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.plans import provenance as P

    p = _fresh_prov_pipeline(spark)
    p.split(spark, {"A": 0.4})
    snap = p.finalize(spark)
    meta = P.read_manifest(os.path.join(PROV_DIR, "final", "version=1"))
    assert meta is not None and len(meta["sources"]) == 2  # groups + 1 split version
    return snap.select(
        "database", "group_name", F.col("n"), (F.col("group_hash") != 0).alias("hash_nonzero")
    ).orderBy("database", "group_name")


@register(
    "param_grid_suffix_func",
    # cov matrices [[2,0],[0,3]] and [[1,0],[0,4]] -> linalg:det = 6, 4;
    # reference float suffix format '<key[:3]>-<det:.2f>'
    # (get_suffix, matdb/utility.py:737-764).
    oracle="""
    SELECT * FROM (VALUES
        ('cov-4.00', 4.0), ('cov-6.00', 6.0)
    ) t(suffix, det_val)
    ORDER BY suffix
    """,
    doc="special_functions suffix naming: linalg:det over a reshaped "
    "matrix parameter (matdb/utility.py:658-699, 737-764)",
)
def param_grid_suffix_func(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.plans.spec import expand_grid, special_functions

    params = {
        "cov*": [[2.0, 0.0, 0.0, 3.0], [1.0, 0.0, 0.0, 4.0]],
        "cov_suffix": {"func": "linalg:det", "reshape": [2, 2]},
    }
    rows = [
        (suffix, float(special_functions(params["cov_suffix"], combo["cov"])))
        for suffix, combo in expand_grid(params)
    ]
    return spark.createDataFrame(rows, "suffix string, det_val double").orderBy("suffix")


# ---------------------------------------------------------------------------
# Legacy multi-source glob union with per-source key conforming
# (LegacyDatabase._create_dbfull, matdb/database/legacy.py:166-240)
# ---------------------------------------------------------------------------

# Two "foreign" corpora with incompatible column names, as the reference's
# legacy folders have (energy under `etot` vs `energy_ev`, id under
# `cfg_id` vs `id`); one source lacks the force-norm column entirely.
LEGACY_SOURCES: dict[str, tuple[dict[str, str], list[tuple]]] = {
    "siteA": (
        {"cfg_id": "pid", "etot": "energy", "fnorm": "force_norm"},
        [(1, -3.5, 0.25), (2, -4.0, 0.5), (3, -2.25, 0.125)],
    ),
    "siteB": (
        {"id": "pid", "energy_ev": "energy"},
        [(10, 0.625), (11, -1.5)],
    ),
}


def _write_legacy_fixture() -> str:
    import pandas as pd

    root = os.path.join(FIXTURE_ROOT, "legacy")
    for name, (colmap, rows) in LEGACY_SOURCES.items():
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        pd.DataFrame(rows, columns=list(colmap)).to_parquet(
            os.path.join(d, "part-0.parquet")
        )
    return root


@register(
    "legacy_glob_union",
    oracle="""
    SELECT * FROM (VALUES
        ('siteA', cast(1 as bigint), -3.5, 0.25),
        ('siteA', cast(2 as bigint), -4.0, 0.5),
        ('siteA', cast(3 as bigint), -2.25, 0.125),
        ('siteB', cast(10 as bigint), 0.625, NULL),
        ('siteB', cast(11 as bigint), -1.5, NULL)
    ) t(src, pid, energy, force_norm)
    ORDER BY src, pid
    """,
    doc="Legacy multi-folder union: per-source glob read + key-name "
    "conforming + unionByName with missing columns "
    "(matdb/database/legacy.py:166-240)",
)
def legacy_glob_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each foreign source is glob-read and renamed to the engine schema
    via its own key map, then combined with
    unionByName(allowMissingColumns=True) — the Spark form of the
    reference's conform-then-concat loop. Scans stay partition-parallel
    per source; the union is a no-shuffle plan node."""
    root = _write_legacy_fixture()
    out: DataFrame | None = None
    for name, (colmap, _) in sorted(LEGACY_SOURCES.items()):
        df = spark.read.parquet(os.path.join(root, name))
        for old, new in colmap.items():
            df = df.withColumnRenamed(old, new)
        df = df.select(F.lit(name).alias("src"), "*")
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    assert out is not None
    return out.select(
        "src",
        F.col("pid").cast("long").alias("pid"),
        F.col("energy").cast("double").alias("energy"),
        F.col("force_norm").cast("double").alias("force_norm"),
    ).orderBy("src", "pid")


@register(
    "manual_group",
    # identity transform: one config per builtin seed, config_id=1,
    # uuid = md5(db|group|seed|cid) — recomputed independently by DuckDB.
    oracle="""
    SELECT seed_id, cast(1 as int) AS config_id, n_atoms,
           md5(concat('main', '|', 'man', '|', seed_id, '|', '1')) AS uuid
    FROM (VALUES ('fcc', 4), ('bcc', 2), ('sc', 1)) t(seed_id, n_atoms)
    ORDER BY seed_id
    """,
    doc="Manual group: identity transform on seeds with create()-style "
    "uuid assignment (matdb/database/simple.py:28-187)",
)
def manual_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.plans.pipeline import Pipeline, builtin_seeds

    p = Pipeline({"databases": {}}, "/tmp/tracy_matdb_manual")
    _, out = p._run_step(
        spark, builtin_seeds(spark), {"type": "manual", "name": "man"}, "", {}, "main"
    )
    return out.select("seed_id", "config_id", "n_atoms", "uuid").orderBy("seed_id")


# ---------------------------------------------------------------------------
# atoms.h5 byte-level round-trip (sources/hdf5io.py + sources/hdf5lite.py;
# reference matdb/io.py:442-509 write, atoms.py:366-404 read)
# ---------------------------------------------------------------------------


@register(
    "atoms_h5_roundtrip",
    # The oracle recomputes every aggregate from `part` with independent
    # arithmetic (closed-form position sums instead of per-atom arrays),
    # so any defect in the HDF5 byte writer, the binary parser, or the
    # record canonicalization breaks the identity. All values are dyadic
    # rationals (k * 0.25 / 0.125) — bit-exact in binary doubles.
    oracle="""
    WITH cfg AS (
        SELECT p_partkey AS pk,
               1 + p_partkey % 3 AS n,
               length(p_brand) AS taglen
        FROM part WHERE p_partkey <= 400
    )
    SELECT cast(count(*) as bigint) AS n_cfg,
           cast(sum(n) as bigint) AS sum_n,
           cast(sum(pk * 0.25 - 100.0) as double) AS sum_energy,
           cast(sum(n * pk * 0.25 + 1.5 * (n * (n + 1) / 2)) as double) AS pos_sum,
           cast(sum(12.0 + pk * 0.125) as double) AS cell_sum,
           cast(sum(CASE WHEN pk % 2 = 0 THEN 1 ELSE 0 END + 1
                    + CASE WHEN pk % 3 = 0 THEN 1 ELSE 0 END) as bigint) AS pbc_true,
           cast(sum(CASE WHEN pk % 5 = 0 THEN 1 ELSE 0 END) as bigint) AS force_null,
           cast(sum(taglen) as bigint) AS tag_len
    FROM cfg
    """,
    doc="atoms.h5 export -> binaryFile scan -> parse round-trip through "
    "real HDF5 bytes (pure-Python hdf5lite backend in this image, h5py "
    "when installed; reference matdb/io.py:442-509, atoms.py:366-404). "
    "Configs are derived from `part`, written as one .h5 per row from "
    "the executors, re-ingested, and reduced to exact aggregates.",
)
def atoms_h5_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from tracy_matdb_spark.sources.hdf5io import read_atoms_h5, write_atoms_h5

    part = load(spark, sf_dir, ("part",))["part"]
    cfg = part.filter(F.col("p_partkey") <= 400).select(
        F.concat(F.lit("p-"), F.col("p_partkey").cast("string")).alias("uuid"),
        (F.lit(1) + F.col("p_partkey") % 3).cast("int").alias("n"),
        F.expr("concat('El', cast(p_partkey % 7 as string))").alias("symbols"),
        F.expr(
            "transform(sequence(1, 1 + p_partkey % 3),"
            " i -> concat('El', cast((p_partkey + i) % 7 as string)))"
        ).alias("species"),
        F.expr(
            "array(array(4.0 + p_partkey * 0.125, 0.0, 0.0),"
            " array(0.0, 4.0, 0.0), array(0.0, 0.0, 4.0))"
        ).alias("cell"),
        F.expr(
            "transform(sequence(1, 1 + p_partkey % 3),"
            " i -> array(p_partkey * 0.25 + cast(i as double),"
            " cast(i as double) * 0.5, 0.0))"
        ).alias("positions"),
        F.expr("array(p_partkey % 2 = 0, true, p_partkey % 3 = 0)").alias("pbc"),
        F.expr("cast(p_partkey * 0.25 - 100.0 as double)").alias("ref_energy"),
        F.expr(
            "CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE"
            " transform(sequence(1, 1 + p_partkey % 3),"
            " i -> array(cast(i as double) * 0.5, -0.25, 0.0)) END"
        ).alias("ref_force"),
        F.expr("map('tag', p_brand)").alias("params"),
        F.lit("").alias("source_file"),
    )
    out_dir = os.path.join(
        FIXTURE_ROOT, "atoms_h5", hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    write_atoms_h5(cfg, out_dir)  # executor-side .h5 files (idempotent bytes)
    parsed = read_atoms_h5(spark, out_dir)
    return parsed.agg(
        F.count(F.lit(1)).alias("n_cfg"),
        F.sum("n").cast("bigint").alias("sum_n"),
        F.sum("ref_energy").cast("double").alias("sum_energy"),
        F.sum(
            F.expr("aggregate(flatten(positions), cast(0 as double), (a, x) -> a + x)")
        ).cast("double").alias("pos_sum"),
        F.sum(
            F.expr("aggregate(flatten(cell), cast(0 as double), (a, x) -> a + x)")
        ).cast("double").alias("cell_sum"),
        F.sum(F.expr("size(filter(pbc, b -> b))")).cast("bigint").alias("pbc_true"),
        F.sum(F.expr("CASE WHEN ref_force IS NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("force_null"),
        F.sum(F.length(F.expr("params['tag']"))).cast("bigint").alias("tag_len"),
    )


# ---------------------------------------------------------------------------
# Lakehouse maintenance: small-file compaction + schema-evolution reads
# ---------------------------------------------------------------------------


@register(
    "compaction_roundtrip",
    # file counts are construction-determined (repartition(n) emits
    # exactly n part files); content aggregates recomputed from the
    # original table prove the rewrite is lossless
    oracle="""
    SELECT cast(48 as int) AS files_before, cast(4 as int) AS files_after,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(n_chars) as bigint) AS sum_chars
    FROM documents
    """,
    doc="Small-file compaction (operators/bucketing.py:"
    "compact_parquet_dir): fragment documents into 48 files, compact "
    "to 4, verify the rewrite preserved every row and the file counts "
    "match the repartition contract.",
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import hashlib

    from tracy_matdb_spark.operators.bucketing import compact_parquet_dir

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    frag = os.path.join(FIXTURE_ROOT, "compact", tag, "frag")
    tight = os.path.join(FIXTURE_ROOT, "compact", tag, "tight")
    docs = load(spark, sf_dir, ("documents",))["documents"]
    docs.repartition(48).write.mode("overwrite").parquet(frag)
    compact_parquet_dir(spark, frag, tight, target_files=4)

    def n_parts(d: str) -> int:
        return len(_glob.glob(os.path.join(d, "part-*.parquet")))

    back = spark.read.parquet(tight)
    return back.agg(
        F.lit(n_parts(frag)).cast("int").alias("files_before"),
        F.lit(n_parts(tight)).cast("int").alias("files_after"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


@register(
    "schema_evolution_union",
    # v1 rows (doc_id < 200) lack the quality column entirely on disk;
    # mergeSchema=true must surface them as NULLs next to v2 rows
    oracle="""
    SELECT cast(count(*) as bigint) AS n_docs,
           cast(sum(CASE WHEN doc_id < 200 THEN 1 ELSE 0 END) as bigint) AS n_v1,
           cast(sum(CASE WHEN doc_id < 200 THEN 0 ELSE 1 END) as bigint) AS n_v2,
           cast(sum(CASE WHEN doc_id < 200 THEN 1 ELSE 0 END) as bigint) AS n_quality_null,
           cast(sum(CASE WHEN doc_id >= 200 THEN n_chars * 2 END) as bigint) AS sum_quality
    FROM documents
    """,
    doc="Schema evolution: a table written in two generations (v1: "
    "doc_id/text/n_chars; v2 adds a quality column) read as ONE "
    "DataFrame via mergeSchema — missing columns surface as NULLs, "
    "the operational contract for years-long 100 TB tables whose "
    "schema widens in place.",
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(FIXTURE_ROOT, "schema_evo", tag)
    docs = load(spark, sf_dir, ("documents",))["documents"]
    v1 = docs.filter(F.col("doc_id") < 200).select("doc_id", "text", "n_chars")
    v2 = (
        docs.filter(F.col("doc_id") >= 200)
        .select("doc_id", "text", "n_chars", (F.col("n_chars") * 2).cast("bigint").alias("quality"))
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen=1"), os.path.join(root, "gen=2")
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("doc_id") < 200).cast("int")).cast("bigint").alias("n_v1"),
        F.sum((F.col("doc_id") >= 200).cast("int")).cast("bigint").alias("n_v2"),
        F.sum(F.col("quality").isNull().cast("int")).cast("bigint").alias("n_quality_null"),
        F.sum("quality").cast("bigint").alias("sum_quality"),
    )


@register(
    "xyz_datasource_scan",
    oracle=_roundtrip_oracle_sql(),
    doc="Spark 4 custom Python DataSource (sources/pyds.py): "
    "spark.read.format('xyz') over the text fixture — one "
    "InputPartition per file, executor-side parse — must produce the "
    "identical rows the binaryFile+mapInPandas reader (xyz_roundtrip) "
    "produces, against the same ground-truth VALUES oracle.",
)
def xyz_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tracy_matdb_spark.sources.pyds import register_all

    register_all(spark)
    out_dir = _write_text_fixture("xyz")
    return _roundtrip_projection(spark.read.format("xyz").load(out_dir))


# ---------------------------------------------------------------------------
# Spark 4 Python UDTF (lateral-joinable table function)
# ---------------------------------------------------------------------------

UDTF_DOC_CAP = 40  # bound the lateral slice: the UDTF is API coverage,
# not a hot path (run-length encoding is pure SQL at scale — the oracle)


@register(
    "udtf_token_runs",
    oracle=f"""
    WITH d AS (SELECT doc_id, {{toks}} AS toks FROM documents
               WHERE n_chars > 0 AND doc_id < {UDTF_DOC_CAP}),
    t AS (SELECT doc_id, tok, cast(i as bigint) AS pos
          FROM d, LATERAL (SELECT unnest(toks) AS tok,
                                  generate_subscripts(toks, 1) AS i)),
    isl AS (SELECT doc_id, tok, pos,
                   pos - row_number() OVER (PARTITION BY doc_id, tok
                                            ORDER BY pos) AS grp
            FROM t),
    runs AS (SELECT doc_id, tok,
                    min(pos) AS run_start, cast(count(*) as bigint) AS run_len
             FROM isl GROUP BY doc_id, tok, grp)
    SELECT doc_id, cast(run_start as int) AS run_start, tok AS token,
           cast(run_len as int) AS run_len
    FROM runs
    WHERE run_len >= 2 OR run_start = 1
    ORDER BY doc_id, run_start
    """.format(toks=textops.toks_expr("duckdb")),
)
def udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 native Python UDTF (pyspark.sql.functions.udtf) under a
    SQL LATERAL join: run-length encoding of each document's token
    stream, keeping multi-token runs plus the leading run — the
    repetition-detection primitive, here expressed as a TABLE FUNCTION
    the way a user would ship a custom parser (class with eval()
    yielding rows, registered via spark.udtf.register, invoked as
    `FROM docs, LATERAL token_runs(text)`).

    This is deliberate API-surface coverage of the UDTF slow path on a
    BOUNDED slice (doc_id < {UDTF_DOC_CAP}): row-at-a-time Python is
    never the 100 TB shape — the oracle IS the scale path (the same
    RLE as a gaps-and-islands window over exploded tokens, all
    codegen); the repo's production repetition metrics
    (repetition_ratio) already use that form. The UDTF tokenizer
    mirrors toks_expr ('\\s+' split on trimmed text) so both sides see
    identical tokens."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="run_start: int, token: string, run_len: int")
    class TokenRuns:
        def eval(self, text: str):
            toks = re.split(r"\s+", text.strip()) if text and text.strip() else []
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                if j - i >= 2 or i == 0:
                    yield i + 1, toks[i], j - i
                i = j

    spark.udtf.register("token_runs", TokenRuns)
    docs = load(spark, sf_dir, ("documents",))["documents"].filter(
        (F.col("n_chars") > 0) & (F.col("doc_id") < UDTF_DOC_CAP)
    )
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT doc_id, r.run_start, r.token, r.run_len "
        "FROM __udtf_docs, LATERAL token_runs(text) r "
        "ORDER BY doc_id, run_start"
    )


@register(
    "partitioned_write_prune",
    oracle="""
    SELECT source,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(n_chars) as bigint) AS sum_chars
    FROM documents
    WHERE source IN ('src1', 'src2')
    GROUP BY source ORDER BY source
    """,
    doc="Hive-style partitioned write + partition pruning: documents "
    "written partitionBy(source), read back with a source filter. The "
    "filter must prune to the two matching partition DIRECTORIES "
    "(asserted: the scan's input files all live under source=src1/src2 "
    "— directory-level pruning, not row-group skipping), which is the "
    "layout contract that lets a 100 TB table answer per-source "
    "queries by listing two directories. Dynamic partition overwrite "
    "writes only the partitions present in the batch.",
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(FIXTURE_ROOT, "part_docs", tag)
    docs = load(spark, sf_dir, ("documents",))["documents"]
    (
        docs.select("doc_id", "n_chars", "source")
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(root)
    )
    back = spark.read.parquet(root).filter(F.col("source").isin("src1", "src2"))
    # partition pruning is part of the CONTRACT under test: every file
    # the pruned scan reads must live in one of the two partition dirs
    files = back.select(F.input_file_name().alias("f")).distinct().collect()
    bad = [r["f"] for r in files if "/source=src1/" not in r["f"] and "/source=src2/" not in r["f"]]
    if bad:
        raise AssertionError(f"partition pruning failed; scanned {bad[:3]}")
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Column profiler (the Deequ/dbt-style dataset card)
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)


def _profile_block(dialect: str, col: str, table: str = "orders") -> str:
    """One column's profile row: every engine-portable stat is reduced
    to strings/ints (min/max rendered as varchar so heterogeneous
    column types stack in one result)."""
    cast = "varchar" if dialect == "duckdb" else "string"
    return (
        f"SELECT '{col}' AS col_name, "
        f"cast(count(*) as bigint) AS n_rows, "
        f"cast(count({col}) as bigint) AS n_nonnull, "
        f"cast(count(DISTINCT {col}) as bigint) AS n_distinct, "
        f"cast(min({col}) as {cast}) AS min_s, "
        f"cast(max({col}) as {cast}) AS max_s "
        f"FROM {table}"
    )


@register(
    "table_profile_orders",
    oracle=" UNION ALL ".join(_profile_block("duckdb", c) for c in _PROFILE_COLS)
    + " ORDER BY col_name",
    doc="Dataset-card column profiler (the Deequ/dbt-docs shape): one "
    "row per column with row/non-null/distinct counts and stringified "
    "min/max. Each block is an independent aggregate over the same "
    "scan; Spark shares the scan across the UNION ALL branches and "
    "each count(DISTINCT) is a two-stage partial aggregate — the "
    "profile of a 100 TB table is a handful of full scans with "
    "map-side reduction and KB-sized results. The exact distinct "
    "count is the fidelity choice here; events_distinct_users_approx "
    "is the sketch path when exactness is not worth the shuffle.",
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, ("orders",))["orders"]
    o.createOrReplaceTempView("__profile_orders")
    sql = " UNION ALL ".join(
        _profile_block("spark", c, table="__profile_orders") for c in _PROFILE_COLS
    ) + " ORDER BY col_name"
    return o.sparkSession.sql(sql)
