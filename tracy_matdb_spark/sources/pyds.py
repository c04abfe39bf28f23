"""Custom Python DataSources (Spark 4 `pyspark.sql.datasource` API).

Spark 4 lets a pure-Python reader participate as a first-class
``spark.read.format(...)`` source: the driver plans one
``InputPartition`` per file and the ``read`` method executes on the
executors, so parallelism is file-granular exactly like the built-in
file sources. The ``xyz``, ``atomsh5`` and ``warc`` sources are one
``_FileReader`` running the same per-file parser as each format's
batch reader (sources/files.py), so both surfaces emit identical rows;
the ``atomsh5`` stream reader builds its rows with the same helper.
``load`` takes a directory (files matching the format's glob) or one
file, and the result composes like any DataFrame source:

    spark.dataSource.register(XYZDataSource)
    spark.read.format("xyz").load("/data/configs").filter(...)

At 100 TB the partitions() listing is the same driver-side file
inventory any file source performs; payload parsing is fully
distributed (one task per file, or per file-group if directories are
huge — group by modifying partitions()).
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from tracy_matdb_spark.sources import hdf5io, textformats, warc
from tracy_matdb_spark.sources.files import Parser, text


def _file_rows(path: str, parse: Parser, schema: T.StructType) -> list[tuple]:
    """Parse one file into row tuples in ``schema`` field order."""
    with open(path, "rb") as fh:
        recs = parse(fh.read(), path)
    names = schema.fieldNames()
    return [tuple(rec[k] for k in names) for rec in recs]


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _FileReader(DataSourceReader):
    """One InputPartition per matching file; executors parse bytes."""

    def __init__(self, options: dict, glob_pat: str, parse: Parser, schema: T.StructType):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("path option is required (spark.read.format(...).load(path))")
        self.glob_pat = glob_pat
        self.parse = parse
        self.schema = schema

    def partitions(self) -> Sequence[InputPartition]:
        files = sorted(glob.glob(os.path.join(self.path, self.glob_pat)))
        if not files and os.path.isfile(self.path):
            files = [self.path]
        return [_FilePartition(f) for f in files]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        return iter(_file_rows(partition.path, self.parse, self.schema))


class XYZDataSource(DataSource):
    """Extended-XYZ as a registrable Spark source: format name "xyz"."""

    @classmethod
    def name(cls) -> str:
        return "xyz"

    def schema(self):
        return textformats.CONFIG_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _FileReader(
            self.options, "*.xyz", text(textformats.parse_xyz), textformats.CONFIG_SCHEMA
        )


class AtomsH5DataSource(DataSource):
    """atoms.h5 directories as a registrable source: format name
    "atomsh5" (hdf5lite/h5py byte layer, sources/hdf5io.py)."""

    @classmethod
    def name(cls) -> str:
        return "atomsh5"

    def schema(self):
        return hdf5io.CONFIG_SCHEMA

    def simpleStreamReader(self, schema) -> "SimpleDataSourceStreamReader":
        return _AtomsH5StreamReader(self.options)

    def reader(self, schema) -> DataSourceReader:
        return _FileReader(
            self.options, "*.h5", hdf5io.parse_atoms_h5_file, hdf5io.CONFIG_SCHEMA
        )


class WarcDataSource(DataSource):
    """Common Crawl WARC segments as a registrable source: format name
    "warc" (sources/warc.py byte parser). One InputPartition per
    segment — the CC unit of parallelism — matching read_warc's
    binaryFile form but composable as spark.read.format("warc")."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self):
        return warc.WARC_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _FileReader(
            self.options,
            self.options.get("glob", "*.warc*"),
            warc.parse_warc_bytes,
            warc.WARC_SCHEMA,
        )


def register_all(spark) -> None:
    """Register every custom source on a session (idempotent)."""
    spark.dataSource.register(XYZDataSource)
    spark.dataSource.register(AtomsH5DataSource)
    spark.dataSource.register(WarcDataSource)


class _AtomsH5StreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the atomsh5 source: each micro-batch picks up
    .h5 files not seen by any earlier offset. The offset is the sorted
    list of processed file names — O(dir size) per offset-log entry,
    fine for drop-directory scale (a production source would keep a
    compacted manifest; the read/readBetweenOffsets replay contract
    stays identical)."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("path option is required")

    def _list(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.path, "**", "*.h5"), recursive=True))

    def initialOffset(self) -> dict:
        return {"files": []}

    def _rows(self, files: list[str]) -> list[tuple]:
        # materialized list, not a generator: the streaming runtime
        # caches and copy.copy()s the returned iterator for replay
        return [
            row
            for f in files
            for row in _file_rows(f, hdf5io.parse_atoms_h5_file, hdf5io.CONFIG_SCHEMA)
        ]

    def read(self, start: dict):
        seen = set(start.get("files", []))
        now = self._list()
        fresh = [f for f in now if f not in seen]
        return self._rows(fresh), {"files": now}

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        seen = set(start.get("files", []))
        return self._rows([f for f in end.get("files", []) if f not in seen])

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: files stay in place
