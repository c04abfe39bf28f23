"""Incremental drop-directory ingest: the active-learning append pattern.

The reference's active-learning loop appends each iteration's selected
configs to the database, deduping against all history by content hash
(reference matdb/database/active.py:158-205, mtp.py:894-933). The batch
form of that loop lives in operators/active.py; this is the streaming
form from SURVEY.md §2.11's mapping: a Structured Streaming file source
watches a drop directory, and each micro-batch is upserted into the
target table with an anti-join dedupe — iteration number = streaming
batch id, replacing the reference's per-iteration pkl membership files.

All three ingests (parquet drops, atoms.h5 files, WARC segments) run
one `_upsert_stream` plan, parsing files with the per-file loop their
batch readers use (sources/files.py). Each batch reads the target's
history key-only with an explicit schema, anti-joins against it, then
`dropDuplicates` and appends. The target's own Hadoop filesystem decides
whether there is history yet (`exists`, which is URI-correct where
`os.path` is not), so the first batch reads nothing and fails nothing;
every error of a history read is raised.
A batch replayed after a restart between its append and its checkpoint
commit anti-joins against its own appended rows and adds nothing. At
scale the drop directory becomes an object-store prefix (or Kafka) and
history grows the dedupe cost only by key bytes, not record bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from tracy_matdb_spark.catalog import parquet_writer
from tracy_matdb_spark.sources.files import Parser, parse_files

_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _upsert_stream(
    spark: SparkSession,
    drop_dir: str,
    glob: str,
    target_path: str,
    schema: T.StructType,
    keys: list[str],
    stamp: str,
    checkpoint_dir: str | None,
    parse: Parser | None = None,
) -> StreamingQuery:
    """Upsert the files under `drop_dir` matching `glob` into the parquet
    table at `target_path`: never-seen `keys` only, batch id as `stamp`.
    The files are parquet of `schema`, or with `parse`, binaryFile rows
    that `parse` turns into rows of `schema`."""
    # key-only schema for the history read: the anti-join right side
    # needs just the keys, and handing the reader an explicit schema
    # skips the per-batch footer schema-inference pass (the target is
    # rewritten every batch so no relation cache can help it)
    key_schema = T.StructType([schema[k] for k in keys])
    target = spark._jvm.org.apache.hadoop.fs.Path(target_path)
    target_fs = target.getFileSystem(spark._jsc.hadoopConfiguration())

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df if parse is None else parse_files(batch_df, parse, schema)
        if target_fs.exists(target):
            seen = batch_df.sparkSession.read.schema(key_schema).parquet(target_path)
            # anti-join BEFORE the dropDuplicates shuffle: membership
            # filtering commutes with pick-one-per-key (all rows of a
            # key are dropped or kept together), and the broadcast
            # anti-join is map-side — so already-seen rows never cross
            # the dedup exchange (guide §2.3, filter before shuffle)
            fresh = fresh.join(seen, keys, "left_anti")
        out = fresh.dropDuplicates(keys).withColumn(stamp, F.lit(batch_id))
        parquet_writer(out, "append").parquet(target_path)

    reader = spark.readStream.option("recursiveFileLookup", "true").option(
        "pathGlobFilter", glob
    )
    if parse is None:
        stream = reader.schema(schema).format("parquet").load(drop_dir)
    else:  # streaming file sources require an explicit schema
        stream = reader.schema(_BINARY_FILE_SCHEMA).format("binaryFile").load(drop_dir)
    writer = stream.writeStream.foreachBatch(_upsert).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def incremental_ingest(
    spark: SparkSession,
    drop_dir: str,
    target_path: str,
    schema: T.StructType,
    key: str = "auid",
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Watch `drop_dir` for new parquet files; append never-seen-before
    rows (by `key`) to the parquet table at `target_path`, stamping each
    row with its micro-batch id as `iteration`.

    Runs with availableNow: processes everything currently in the
    directory, then stops — call again after more files land (or use a
    continuous trigger in production). The checkpoint makes re-runs skip
    already-processed files, so the same dropped file is never ingested
    twice even across restarts.
    """
    # drops arrive as whole directories (one per producer run); recurse
    # and keep only parquet parts (skips _SUCCESS markers)
    return _upsert_stream(
        spark, drop_dir, "*.parquet", target_path, schema, [key], "iteration", checkpoint_dir
    )


def incremental_atoms_h5_ingest(
    spark: SparkSession,
    drop_dir: str,
    target_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of `sources.hdf5io.read_atoms_h5`: watch a drop
    directory for new ``*.h5`` config files (the reference's on-disk
    unit, one atoms.h5 per configuration — matdb/atoms.py:591-635) and
    upsert never-seen uuids into the parquet configurations table.

    This is the live form of the one-time atoms_h5_dir_to_parquet
    migration: producers (DFT runs finishing, the reference's
    `cleanup()` hooks) keep dropping .h5 files; each micro-batch
    parses only the new files (binaryFile stream source + checkpoint)
    with the same backend-dispatched byte parser (h5py or hdf5lite),
    anti-joins history on uuid, and appends. At 100 TB the drop dir is
    an object-store prefix and the history read stays pruned to the
    uuid column."""
    from tracy_matdb_spark.sources.hdf5io import CONFIG_SCHEMA, parse_atoms_h5_file

    return _upsert_stream(
        spark, drop_dir, "*.h5", target_path, CONFIG_SCHEMA, ["uuid"], "iteration",
        checkpoint_dir, parse_atoms_h5_file,
    )


def streaming_warc_ingest(
    spark: SparkSession,
    drop_dir: str,
    target_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of `sources.warc.read_warc`: watch a drop
    directory (in production: an object-store crawl prefix) for new
    ``*.warc.gz`` segments, parse each exactly once, dedup on
    (url, warc_date) against history, append to the parquet corpus.

    The Common Crawl live-ingest shape: the crawler keeps publishing
    ~1 GB segments; each micro-batch handles only never-seen files
    (binaryFile stream source + checkpoint tracks processed paths),
    parses them segment-per-task with the SAME byte parser the batch
    path uses, and anti-joins history on the record key so re-crawled
    URLs with identical capture dates never duplicate. At 100 TB the
    history read prunes to the two key columns."""
    from tracy_matdb_spark.sources.warc import WARC_SCHEMA, parse_warc_bytes

    return _upsert_stream(
        spark, drop_dir, "*.warc*", target_path, WARC_SCHEMA, ["url", "warc_date"],
        "batch_id", checkpoint_dir, parse_warc_bytes,
    )
