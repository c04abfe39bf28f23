"""Every table the engine persists is written through
`catalog.parquet_writer`: each column chunk of each part file is zstd,
on a session whose own parquet default is still snappy. A table whose
history is snappy takes zstd appends and reads as one table."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import types as T

from tests.conftest import SF_SMOKE
from tracy_matdb_spark.catalog import load


def _codecs(path: str) -> dict[str, set[str]]:
    """Part file (relative to `path`) -> the codecs of its column chunks."""
    parts = glob.glob(os.path.join(path, "**", "part-*.parquet"), recursive=True)
    assert parts, f"no part files under {path}"
    out = {}
    for part in parts:
        md = pq.ParquetFile(part).metadata
        out[os.path.relpath(part, path)] = {
            md.row_group(g).column(c).compression for g in range(md.num_row_groups) for c in range(md.num_columns)
        }
    return out


def _assert_zstd(path: str) -> None:
    """Every column chunk under `path` is zstd (a part file of an empty
    task has no row group, so no chunk), and there is at least one."""
    codecs = _codecs(path)
    assert set().union(*codecs.values()) == {"ZSTD"}, codecs


def _auid_schema() -> T.StructType:
    return T.StructType([T.StructField("auid", T.StringType()), T.StructField("energy", T.DoubleType())])


def test_every_engine_writer_stores_zstd(spark, tmp_path):
    from test_hdf5io import ROW
    from test_pipeline import SPEC

    from tracy_matdb_spark.operators.bucketing import compact_parquet_dir, drop_table, write_bucketed, write_partitioned
    from tracy_matdb_spark.plans import provenance as P
    from tracy_matdb_spark.plans.pipeline import Pipeline
    from tracy_matdb_spark.sources.hdf5io import atoms_h5_dir_to_parquet, write_atoms_h5
    from tracy_matdb_spark.streaming.ingest import incremental_ingest

    # the session default stays snappy: the codec comes from the writer
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "snappy"

    pipe = Pipeline(SPEC, str(tmp_path / "catalog"))
    pipe.setup(spark)
    pipe.split(spark, {"A": 0.5})
    pipe.finalize(spark)
    for table in ("configurations", "groups", "split_assignments", "final"):
        _assert_zstd(os.path.join(pipe.out_dir, table))

    drop = tmp_path / "drop"
    spark.createDataFrame([("a", 1.0), ("b", 2.0)], _auid_schema()).write.parquet(str(drop / "d0"))
    incremental_ingest(spark, str(drop), str(tmp_path / "target"), _auid_schema()).awaitTermination()
    _assert_zstd(str(tmp_path / "target"))

    docs = load(spark, SF_SMOKE, ("documents",))["documents"]
    write_partitioned(docs.select("doc_id", "source"), str(tmp_path / "parted"), "source")
    _assert_zstd(str(tmp_path / "parted"))
    spark.range(100).repartition(5).write.parquet(str(tmp_path / "frag"))  # session default: snappy
    compact_parquet_dir(spark, str(tmp_path / "frag"), str(tmp_path / "tight"), target_files=2)
    _assert_zstd(str(tmp_path / "tight"))
    try:
        write_bucketed(docs.select("doc_id", "text"), str(tmp_path / "bucketed"), "codec_bucketed", "doc_id", 4)
        _assert_zstd(str(tmp_path / "bucketed"))
    finally:
        drop_table(spark, "codec_bucketed")

    write_atoms_h5(spark.createDataFrame([ROW]), str(tmp_path / "h5"))
    atoms_h5_dir_to_parquet(spark, str(tmp_path / "h5"), str(tmp_path / "h5pq"))
    _assert_zstd(str(tmp_path / "h5pq"))

    P.dbcat([spark.range(3).toDF("id"), spark.range(3, 7).toDF("id")], str(tmp_path / "cat"), sources=[])
    _assert_zstd(str(tmp_path / "cat"))


def test_ingest_appends_zstd_onto_snappy_history(spark, tmp_path):
    from tracy_matdb_spark.streaming.ingest import incremental_ingest

    schema = _auid_schema()
    target = str(tmp_path / "target")
    # `iteration` is an int, as the ingest stamps it
    history = spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema).selectExpr("*", "0 AS iteration")
    history.write.option("compression", "snappy").parquet(target)
    old = _codecs(target)
    assert set().union(*old.values()) == {"SNAPPY"}

    drop = tmp_path / "drop"
    spark.createDataFrame([("b", 9.0), ("c", 3.0), ("a", 9.0)], schema).write.parquet(str(drop / "d0"))
    incremental_ingest(spark, str(drop), target, schema).awaitTermination()

    got = {r.auid: r.energy for r in spark.read.parquet(target).collect()}
    assert got == {"a": 1.0, "b": 2.0, "c": 3.0}  # overlapping keys rejected, history kept
    after = _codecs(target)
    new = {part: codecs for part, codecs in after.items() if part not in old}
    assert new and set().union(*new.values()) == {"ZSTD"}, new
    assert {part: codecs for part, codecs in after.items() if part in old} == old
