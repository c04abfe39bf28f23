"""Small literal DataFrames built on the JVM.

Classic `spark.createDataFrame(list, schema)` ships the rows through
`parallelize` and `applySchemaToPythonRDD`: the plan scans an
`ExistingRDD`, and every task that reads it runs a Python worker to
unpickle its rows. That worker costs seconds of executor time on a
three-row seed table, and it stays hidden: the SQL status store has no
Python exec node for the scan, so the `python.*` layer metrics (which
read the pandas-UDF / Arrow nodes) never show it.

`literal_frame` builds the same rows as a constant array of structs,
indexed by a `range` id, so the scan is a codegen'd `Range` + `Project`
with no Python in it.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def literal_frame(
    spark: SparkSession, rows: Sequence[Sequence[Any]], schema: str, partitions: int = 1
) -> DataFrame:
    """Rows -> DataFrame with columns typed by `schema`, a DDL string of
    `name type` pairs ("seed_id string, n_atoms int"; types without
    commas). Row i is element i of a literal array, picked by `range`
    id i, so `partitions` spreads the rows like `parallelize` would."""
    fields = [f.strip().split(None, 1) for f in schema.split(",")]
    if not rows:
        return spark.range(0, 0, 1, 1).select(*[F.lit(None).cast(t).alias(n) for n, t in fields])
    table = F.array(
        *[F.struct(*[F.lit(v).cast(t).alias(n) for v, (n, t) in zip(row, fields, strict=True)]) for row in rows]
    )
    return spark.range(0, len(rows), 1, partitions).select(table[F.col("id").cast("int")].alias("r")).select("r.*")
