"""Catalog: the driver's parquet tables as named DataFrames / temp views.

Mirrors the reference's Controller-as-catalog role (Controller holds
databases/groups and a uuid registry; reference matdb/database/__init__.py:1585-2007,
`find` at 1710-1786) re-expressed as Spark catalog lookups over Parquet.

`load` returns a dict of DataFrames; `register` additionally creates
temp views so `spark.sql` works. Reads are plain `spark.read.parquet`
so Catalyst gets full predicate pushdown / column pruning on every
query that consumes them. Writes of persistent tables go through
`parquet_writer`.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _relation(spark: SparkSession, path: str) -> DataFrame:
    """Resolve a parquet path to a DataFrame through a per-session
    relation cache — the catalog role a metastore plays on a real
    cluster (and exactly what `register`'s temp views already provide):
    the SECOND and later resolutions of the same table reuse the first
    call's analyzed relation instead of re-running file listing +
    parquet schema inference, which a fresh `spark.read.parquet` pays
    on every call (measured 0.12 s vs 0.03 s with a known schema;
    24 resolutions = 1.6 s of a 17 s bench rep at sf0.1).

    This caches METADATA ONLY (the logical relation: file snapshot +
    schema). No rows are persisted — every action on the returned frame
    re-scans the parquet input, so bench/oracle runs still compute from
    the files. The cache is keyed by realpath and validated against
    (mtime_ns, size, inode): a rewritten table gets a fresh relation
    AND evicts the stale one (a session that rewrites tables in a loop
    must not accumulate dead JVM-side relations), the inode catches the
    common rename-over-replace, and directory tables (whose file set
    can change without touching the dir inode) bypass the cache
    entirely. Caveat: on filesystems with coarse mtime granularity a
    same-size same-inode rewrite within one timestamp tick would serve
    a stale file-index snapshot — acceptable for local benches, where
    rewrites go through rename (fresh inode). The cache lives on the
    session object, so it dies with the session and never crosses
    processes."""
    try:
        st = os.stat(path)
        is_file = os.path.isfile(path)
    except OSError:
        return spark.read.parquet(path)
    if not is_file:
        return spark.read.parquet(path)
    stat_key = (st.st_mtime_ns, st.st_size, st.st_ino)
    cache = getattr(spark, "_tms_relation_cache", None)
    if cache is None:
        cache = {}
        spark._tms_relation_cache = cache  # type: ignore[attr-defined]
    hit = cache.get(os.path.realpath(path))
    if hit is not None and hit[0] == stat_key:
        return hit[1]
    df = spark.read.parquet(path)
    cache[os.path.realpath(path)] = (stat_key, df)
    return df


def parquet_writer(df: DataFrame, mode: str) -> DataFrameWriter:
    """The one writer of every parquet table the engine persists:
    `df.write` in `mode` with zstd column chunks. Callers chain
    `partitionBy`/`bucketBy`/`saveAsTable`/`parquet` on it.

    zstd entropy-codes what Spark's default snappy cannot: md5-hex keys
    (`uuid`, `duid`, content hashes) and small-vocabulary text. The
    materials catalog stores about 40% fewer bytes per row (README:
    On-disk format). The codec is set here, not in the session conf, so
    the stored format is the same whoever built the session. Parquet
    records the codec per column chunk, so a table whose history is
    snappy reads together with zstd appends."""
    return df.write.mode(mode).option("compression", "zstd")


def load(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: _relation(spark, table_path(sf_dir, name)) for name in names}


_FOOTER_CACHE: dict[str, tuple[tuple[int, int, int], tuple[int, int]]] = {}


def _file_footer(path: str) -> tuple[int, int]:
    """(num_rows, num_row_groups) of one parquet file, read from its
    FOOTER (no Spark job) and memoized per (mtime_ns, size, inode):
    the size gates consult footers on EVERY query construction, and
    re-opening the same immutable footer per call is exactly the
    redundant metadata work the relation cache exists to remove. Keyed
    by realpath, so a rewritten file replaces its entry (the inode
    catches rename-over-replace) instead of serving a stale count."""
    import pyarrow.parquet as pq

    st = os.stat(path)
    stat_key = (st.st_mtime_ns, st.st_size, st.st_ino)
    rp = os.path.realpath(path)
    hit = _FOOTER_CACHE.get(rp)
    if hit is not None and hit[0] == stat_key:
        return hit[1]
    md = pq.ParquetFile(path).metadata
    counts = (md.num_rows, md.num_row_groups)
    _FOOTER_CACHE[rp] = (stat_key, counts)
    return counts


def _table_footers(sf_dir: str, name: str) -> list[tuple[int, int]]:
    """One footer per file of a catalog table: a single .parquet file,
    or every part-file of a directory (listed on each call — a
    directory's file set can change without touching its inode, so only
    the per-file footers are memoized). Raises OSError for a missing
    table AND for a directory with zero part-files: a partially written
    or cleaned table has no stats, and returning 0 would flip size-gated
    plans to 'small' on absent information."""
    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        parts = [e for e in os.listdir(path) if e.endswith(".parquet")]
        if not parts:
            raise FileNotFoundError(f"no .parquet part-files in {path}")
        return [_file_footer(os.path.join(path, e)) for e in parts]
    return [_file_footer(path)]


def table_num_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a catalog table from parquet FOOTER metadata —
    no Spark job, no data scan. This is the catalog statistic a
    warehouse planner consults (row counts live in every parquet footer
    and every metastore); queries use it, through `footer_stat`, to make
    size-gated plan choices (e.g. broadcast-vs-shuffle) at points where
    a checkpoint boundary hides the stats from Catalyst."""
    return sum(rows for rows, _ in _table_footers(sf_dir, name))


def table_num_row_groups(sf_dir: str, name: str) -> int:
    """Upper bound on a table's scan parallelism, from parquet FOOTER
    metadata (no Spark job): total row groups across part-files. A row
    group is the vectorized reader's indivisible unit — no split
    setting (`maxPartitionBytes`, `minPartitionNum`) can give a scan
    more data-carrying tasks than this."""
    return sum(groups for _, groups in _table_footers(sf_dir, name))


def footer_stat(sf_dir: str, *tables: str, row_groups: bool = False) -> int | None:
    """Summed footer row count (row-group count with `row_groups`) of
    `tables`, or None when a footer cannot be read. This is the one
    failure path of every size gate: a failed read warns, naming the
    tables, `sf_dir` and the error, and each gate treats None as "big"
    — the conservative branch. Only what a footer read raises is
    caught (OSError for a missing table or empty directory, ValueError
    — pyarrow's ArrowInvalid — for a file that is not parquet); a
    programming error such as a TypeError propagates.

    The stat functions are resolved from this module's globals at call
    time, so a test can force a gate's branch by monkeypatching
    `catalog.table_num_rows` / `catalog.table_num_row_groups`."""
    stat = table_num_row_groups if row_groups else table_num_rows
    try:
        return sum(stat(sf_dir, t) for t in tables)
    except (OSError, ValueError) as e:
        warnings.warn(
            f"footer stat for {', '.join(tables)} under {sf_dir!r} failed ({e}); "
            "taking the big-data branch",
            stacklevel=2,
        )
        return None


def spread_unsplittable_scan(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """Round-robin repartition to the session's core count iff `table`'s
    parquet layout caps its scan parallelism below half the cores — the
    optimization guide's "one huge unsplittable file" input-skew case
    (§2.5): a single-row-group file pins every downstream narrow op
    (shingling, per-row hashing, an edge-build join's map side) to ONE
    task no matter how many cores exist, because a row group cannot be
    split. Insert BETWEEN the scan and a heavy per-row derivation: the
    exchange then carries the narrow scan output once and the
    derivation runs at full parallelism (measured at sf0.1: the
    128-permutation minhash aggregate 0.95 s -> 0.43 s; the pagerank
    edge build 1.21 s -> 0.82 s).

    Scale behavior: at real scale a table has many files/row groups, the
    scan already parallelizes, and this is a NO-OP — cluster plans are
    unchanged, so it is not a local-mode tuning constant. The threshold
    is derived from defaultParallelism, so the driver's lower-core bench
    run gets a proportionally lower bar. Stat failure -> df unchanged
    (no extra exchange on absent information)."""
    splits = footer_stat(sf_dir, table, row_groups=True)
    if splits is None:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(cores) if 2 * splits < cores else df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table normalized to two time columns: `ts_ns`
    (BIGINT epoch nanos, exact arithmetic / oracle parity via
    epoch_us(ts) == ts_ns div 1000) and `ts` (micros TimestampType, for
    window()/session_window()).

    Handles both generations of the driver's testdata: parquet
    TIMESTAMP(NANOS) — which Spark's vectorized reader only accepts as
    raw BIGINT via `spark.sql.legacy.parquet.nanosAsLong`, pinned by
    `session.get_session` (setting it here would change the caller's
    session) — and plain TIMESTAMP(MICROS)/NTZ.
    Session timezone is UTC (session.py) so NTZ -> epoch conversion
    matches DuckDB's naive-UTC epoch_us(). The final select pins ONE
    column order for both generations so positional consumers can't
    silently diverge by testdata vintage."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = _relation(spark, table_path(sf_dir, "events"))
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "ts_ns", F.unix_micros(F.col("ts")) * 1000
        )
    others = [c for c in df.columns if c not in ("ts", "ts_ns")]
    return df.select(*others, "ts_ns", "ts")


def register(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    dfs = load(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


CORPUS_CKPT_MAX_DOCS = 1_000_000  # gated_local_checkpoint default: the
# 500k-doc corpus (sf10-documents) checkpoints fine on a 24g heap; the
# 5M-doc one (sf100) OOMs it — executor-storage materialization of a
# corpus-derived frame (shingles ~90 rows/doc, token layers carrying
# the raw text) is a single-node memory cliff no join gate can save.


def gated_local_checkpoint(
    df: DataFrame,
    sf_dir: str,
    table: str = "documents",
    max_rows: int = CORPUS_CKPT_MAX_DOCS,
    eager: bool = False,
) -> DataFrame:
    """localCheckpoint(df) iff `table`'s parquet-footer row count is at
    most max_rows, else return df unchanged. The single-scan
    share-an-intermediate trick (operators/rank.py's single_scan, the
    shingle-table reuse in queries/llm.py) trades executor STORAGE
    memory for recomputation — the right trade below the gate, a
    measured OOM above it (`tools/scaling.py sf100_documents` killed three
    queries this way at 5M docs / 24g heap). Above the gate each
    consumer recomputes the frame: streaming, constant-memory, and on a
    real cluster the map work it repeats is the cheap part of the plan.
    Stat failure -> no checkpoint (the conservative direction,
    `footer_stat`'s contract)."""
    n = footer_stat(sf_dir, table)
    if n is None or n > max_rows:
        return df
    return df.localCheckpoint(eager=eager)
