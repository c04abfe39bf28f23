"""Storage-level bucketing: pre-shuffled tables for exchange-free joins.

The reference correlates records by Python dict key (SURVEY.md §2.5); at
100 TB the equivalent repeated equi-join (orders x lineitem on orderkey,
configurations x split_assignments on uuid) pays a full shuffle of both
sides *per query*. Writing both tables bucketed on the join key pays that
shuffle once at ingest: every later join reads co-located buckets and
Catalyst plans a SortMergeJoin with NO Exchange on either side
(pinned in tests/test_bucketing.py).

Bucket count is a capacity decision: target <= ~128 MB per bucket file at
the expected table size so a bucket is one task's worth of input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tracy_matdb_spark.catalog import parquet_writer


def write_bucketed(
    df: DataFrame,
    path: str,
    table: str,
    key: str,
    n_buckets: int,
) -> None:
    """Write `df` as an external parquet table bucketed + sorted on `key`.

    saveAsTable is required (plain .save() drops bucket metadata); the
    explicit path keeps the data out of the managed warehouse so the
    table is droppable without deleting the files.
    """
    (
        parquet_writer(df, "overwrite")
        .option("path", path)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def drop_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def write_partitioned(df: DataFrame, path: str, *keys: str) -> None:
    """Hive-style partitioned parquet layout (one directory per key value).

    The complementary layout decision to bucketing: partition on the
    LOW-cardinality columns queries filter by (source, date, lang), bucket
    on the HIGH-cardinality join keys. A filter on a partition column is
    resolved against directory metadata — the scan never opens non-matching
    files, so a one-source query over a 100 TB corpus reads only that
    source's bytes (pinned as `PartitionFilters` in tests/test_bucketing.py).
    """
    parquet_writer(df, "overwrite").partitionBy(*keys).parquet(path)


def zorder_expr(dialect: str, x: str, y: str, bits: int = 8) -> str:
    """Dialect-shared Morton (Z-order) interleave of two non-negative
    integer expressions (low `bits` of each -> a 2*bits-bit key).

    Clustering a table's sort/range-partition key on z(x, y) keeps rows
    close in BOTH dimensions within the same parquet row groups, so
    min/max pruning cuts scans for predicates on either column — the
    layout trick behind Delta/Iceberg Z-ordering, here as a plain
    expression usable with repartitionByRange + sortWithinPartitions.
    Pure bit arithmetic: identical in Spark SQL and DuckDB.
    """
    if dialect == "spark":
        shr = lambda e, i: f"shiftright({e}, {i})" if i else e
        shl = lambda e, i: f"shiftleft({e}, {i})" if i else e
    else:
        shr = lambda e, i: f"(({e}) >> {i})" if i else f"({e})"
        shl = lambda e, i: f"(({e}) << {i})" if i else f"({e})"
    terms = []
    for i in range(bits):
        terms.append(shl(f"({shr(x, i)} & 1)", 2 * i))
        terms.append(shl(f"({shr(y, i)} & 1)", 2 * i + 1))
    return "(" + " + ".join(terms) + ")"


def compact_parquet_dir(
    spark: SparkSession, src: str, dst: str, target_files: int
) -> None:
    """Small-file compaction: rewrite a fragmented parquet directory
    into `target_files` files. The classic 100 TB maintenance job —
    ingest paths (streaming micro-batches, per-task writers) leave
    thousands of KB-scale files whose open/footer overhead dominates
    scans; one repartition+rewrite restores scan efficiency. At scale
    this runs per partition-directory (so each job is bounded) and
    swaps directories atomically at the end."""
    df = spark.read.parquet(src)
    parquet_writer(df.repartition(target_files), "overwrite").parquet(dst)
