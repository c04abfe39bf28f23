"""Minimal WARC/1.0 reader + writer — the Common Crawl ingestion path.

WARC (ISO 28500) is the container format of Common Crawl, the canonical
100 TB web-corpus source. A crawl segment is a *.warc.gz file of
CONCATENATED PER-RECORD GZIP MEMBERS (so a reader can seek to a record
without decompressing the file); each member is one record:

    WARC/1.0\\r\\n
    <warc-headers>\\r\\n
    \\r\\n
    <Content-Length payload bytes>\\r\\n\\r\\n

For `response` records the payload is an HTTP/1.1 message (status line,
headers, blank line, body). This module implements exactly that subset
with the stdlib only (gzip handles concatenated members natively), and
exposes it to Spark as binaryFile + mapInPandas with ONE FILE PER TASK
— the real Common Crawl pattern: segments are ~1 GB each and there are
~72k of them per crawl, so file-level parallelism saturates any
cluster without record-level splitting.

The reference ingests per-config files with the same shape
(matdb/database/__init__.py:764-853 scans a folder tree of small
files); WARC is the web-corpus analogue of that container layer.
"""

from __future__ import annotations

import gzip
import io
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tracy_matdb_spark.sources.files import read_files

WARC_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("record_seq", IntegerType()),
        StructField("warc_type", StringType()),
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("http_status", IntegerType()),
        StructField("content_type", StringType()),
        StructField("body", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

_CRLF = b"\r\n"


def format_warc_record(
    url: str,
    date: str,
    body: str,
    status: int = 200,
    content_type: str = "text/html",
    record_id: str = "0",
    warc_type: str = "response",
) -> bytes:
    """One WARC/1.0 `response` record (uncompressed bytes)."""
    http = (
        f"HTTP/1.1 {status} {'OK' if status == 200 else 'ERR'}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"\r\n"
    ).encode() + body.encode()
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: <urn:uuid:{record_id}>\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
        f"\r\n"
    ).encode()
    return headers + http + _CRLF + _CRLF


def write_warc(path: str, records: list[dict], gzip_members: bool = True) -> None:
    """Write records as a .warc(.gz) file. gzip_members=True produces
    the Common Crawl layout: one gzip member per record, concatenated
    (mtime pinned to 0 so output bytes are deterministic)."""
    with open(path, "wb") as f:
        for i, rec in enumerate(records):
            raw = format_warc_record(record_id=str(i), **rec)
            if gzip_members:
                buf = io.BytesIO()
                with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                    gz.write(raw)
                f.write(buf.getvalue())
            else:
                f.write(raw)


def parse_warc_bytes(data: bytes, source: str = "") -> list[dict]:
    """Parse one WARC file's bytes (plain or multi-member gzip) into
    WARC_SCHEMA rows. Content-Length-driven — bodies may contain
    record-delimiter byte sequences without confusing the scan."""
    if data[:2] == b"\x1f\x8b":  # gzip magic: reads ALL members
        data = gzip.GzipFile(fileobj=io.BytesIO(data)).read()
    rows: list[dict] = []
    pos, seq = 0, 0
    fname = os.path.basename(source)
    while True:
        start = data.find(b"WARC/1.0", pos)
        if start < 0:
            break
        hdr_end = data.find(_CRLF + _CRLF, start)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[start:hdr_end].decode("utf-8", "replace").split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        clen = int(headers.get("content-length", "0"))
        payload = data[hdr_end + 4 : hdr_end + 4 + clen]
        pos = hdr_end + 4 + clen
        status, ctype, body = 0, "", ""
        if headers.get("content-type", "").startswith("application/http"):
            http_end = payload.find(_CRLF + _CRLF)
            http_head = payload[:http_end].decode("utf-8", "replace")
            body = payload[http_end + 4 :].decode("utf-8", "replace")
            lines = http_head.split("\r\n")
            parts = lines[0].split(" ")
            status = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0
            for line in lines[1:]:
                if line.lower().startswith("content-type:"):
                    ctype = line.partition(":")[2].strip()
        else:
            body = payload.decode("utf-8", "replace")
        rows.append(
            {
                "source_file": fname,
                "record_seq": seq,
                "warc_type": headers.get("warc-type", ""),
                "url": headers.get("warc-target-uri", ""),
                "warc_date": headers.get("warc-date", ""),
                "http_status": status,
                "content_type": ctype,
                "body": body,
                "n_bytes": len(payload),
            }
        )
        seq += 1
    return rows


def read_warc(spark: SparkSession, path: str, glob: str = "*.warc.gz") -> DataFrame:
    """WARC segments -> DataFrame: binaryFile scan (one InputPartition
    per segment — the Common Crawl unit of parallelism) + Arrow-batched
    mapInPandas parse. No driver-side I/O; segment lists of any size
    stream through the scan."""
    return read_files(spark, path, glob, parse_warc_bytes, WARC_SCHEMA)
