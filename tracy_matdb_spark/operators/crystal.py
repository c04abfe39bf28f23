"""Crystal-math operators: HNF enumeration, supercell conform, Vegard.

Reference (SURVEY.md §2.10):
- `hermite_normal_form` / HNF-based supercell enumeration
  (matdb/database/utility.py:383-496, transforms.py:54-99): all integer
  upper-triangular matrices [[a,b,d],[0,c,e],[0,0,f]] with a*c*f = n
  enumerate the distinct index-n superlattices.
- `conform_supercell` (transforms.py:32-52): accept 3 / 9 / 3x3 forms,
  normalize to 3x3.
- `vegard` (matdb/data.py:30-40): concentration-weighted mix of
  elemental lattice parameters.

HNF enumeration is a pure integer-arithmetic row generator — built-in
sequence/explode/filter (codegen, no UDF), so it is oracle-checkable and
embarrassingly parallel over determinants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# reference lattice parameters (public Vegard's-law inputs; data.py:30-40
# keys the same quantities by element)
LAT_PARAMS = {"Ag": 4.09, "Au": 4.08, "Cu": 3.61, "Ni": 3.52, "Pd": 3.89, "Pt": 3.92}


def hnf_enumerate(spark: SparkSession, max_det: int) -> DataFrame:
    """All HNFs [[a,0,0],[b,c,0],[d,e,f]] with a*c*f = det for det<=max_det.

    Counts per det follow the classic sum over divisor pairs
    (sum_{a*c*f=n} c*f^2), which the test asserts.
    """
    dets = spark.range(1, max_det + 1).select(F.col("id").cast("int").alias("det"))
    diag = (
        dets.withColumn("a", F.explode(F.sequence(F.lit(1), F.col("det"))))
        .filter(F.col("det") % F.col("a") == 0)
        .withColumn("c", F.explode(F.sequence(F.lit(1), (F.col("det") / F.col("a")).cast("int"))))
        .filter((F.col("det") % (F.col("a") * F.col("c"))) == 0)
        .withColumn("f", (F.col("det") / (F.col("a") * F.col("c"))).cast("int"))
    )
    return (
        diag.withColumn("b", F.explode(F.sequence(F.lit(0), F.col("c") - 1)))
        .withColumn("d", F.explode(F.sequence(F.lit(0), F.col("f") - 1)))
        .withColumn("e", F.explode(F.sequence(F.lit(0), F.col("f") - 1)))
        .select("det", "a", "b", "c", "d", "e", "f")
    )


def hnf_oracle_sql(max_det: int) -> str:
    return f"""
    WITH dets AS (SELECT unnest(generate_series(1, {max_det})) AS det),
    diag AS (
        SELECT det, a.a, c.c, cast(det / (a.a * c.c) as int) AS f
        FROM dets
        JOIN (SELECT unnest(generate_series(1, {max_det})) AS a) a ON det % a.a = 0 AND a.a <= det
        JOIN (SELECT unnest(generate_series(1, {max_det})) AS c) c
          ON c.c <= det / a.a AND (det % (a.a * c.c)) = 0
    )
    SELECT det, a, b.b, c, d.d, e.e, f
    FROM diag
    JOIN (SELECT unnest(generate_series(0, {max_det - 1})) AS b) b ON b.b < c
    JOIN (SELECT unnest(generate_series(0, {max_det - 1})) AS d) d ON d.d < f
    JOIN (SELECT unnest(generate_series(0, {max_det - 1})) AS e) e ON e.e < f
    """


def conform_supercell(value) -> list[list[int]]:
    """3 -> diag, 9 -> rows, 3x3 -> itself (transforms.py:32-52)."""
    if isinstance(value, (list, tuple)) and len(value) == 3 and all(
        isinstance(v, (int, float)) for v in value
    ):
        a, b, c = (int(v) for v in value)
        return [[a, 0, 0], [0, b, 0], [0, 0, c]]
    if isinstance(value, (list, tuple)) and len(value) == 9:
        v = [int(x) for x in value]
        return [v[0:3], v[3:6], v[6:9]]
    if isinstance(value, (list, tuple)) and len(value) == 3 and all(len(r) == 3 for r in value):
        return [[int(x) for x in r] for r in value]
    raise ValueError(f"cannot conform supercell from {value!r}")


def vegard(concs: dict[str, float]) -> float:
    """Concentration-weighted lattice parameter (data.py:30-40)."""
    total = sum(concs.values())
    return sum(LAT_PARAMS[el] * c for el, c in concs.items()) / total
