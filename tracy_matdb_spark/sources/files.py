"""The one per-file ingest loop behind every binaryFile-shaped source.

Every file format the engine reads (extended-XYZ, MTP CFG, vasprun.xml,
OUTCAR, XDATCAR, pw.x XML, atoms.h5, WARC) has the same Spark shape: a
``binaryFile`` scan, one row per file, then an Arrow-batched
``mapInPandas`` parse on the executors. A format is therefore just a
parser ``parse(content: bytes, path) -> list[dict]`` plus its row
schema; this module runs any such pair, for the batch readers and for
the streaming ingests alike.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

Parser = Callable[[bytes, str], list[dict]]


def text(parse: Callable[[str, str], list[dict]], errors: str = "strict") -> Parser:
    """Adapt a text parser ``parse(content: str, path)`` to file bytes,
    decoding UTF-8 with the given ``errors`` policy."""

    def run(content: bytes, path: str) -> list[dict]:
        return parse(content.decode("utf-8", errors), path)

    return run


def parse_files(files: DataFrame, parse: Parser, schema: T.StructType) -> DataFrame:
    """Run ``parse`` over binaryFile rows (``path``, ``content``)."""
    cols = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for content, path in zip(pdf["content"], pdf["path"]):
                rows.extend(parse(bytes(content), path))
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(run, schema)


def read_files(
    spark: SparkSession, path: str, glob: str, parse: Parser, schema: T.StructType
) -> DataFrame:
    """Batch scan: every file under ``path`` matching ``glob``, parsed."""
    files = spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    return parse_files(files, parse, schema)
