"""Provenance manifests and versioned writes.

The reference enforces reproducibility by writing a sidecar JSON next to
every created database file: version uuid, (source, source-version)
pairs, timestamp, engine version, and the creation params (`dbcat`,
matdb/utility.py:933-983; read back by `dbconfig`,
matdb/database/utility.py:167-183). Re-splitting archives the previous
split files under their version uuid instead of overwriting
(database/utility.py:76-87).

Spark mapping: parquet directories get a `_manifest.json` sidecar (the
underscore prefix keeps every parquet/Spark reader from treating it as
data — the same convention as _SUCCESS). Split assignments are written
to `version=<k>` subdirectories: a re-split creates version k+1 and
leaves every prior assignment readable — archiving, not renaming.
Manifest I/O is driver-side metadata (a few KB), never a Spark job.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from uuid import uuid4

from pyspark.sql import DataFrame

from tracy_matdb_spark.catalog import parquet_writer

ENGINE_VERSION = "tracy_matdb_spark-0.2"
MANIFEST_NAME = "_manifest.json"


def write_manifest(target_dir: str, sources: list[str] | None = None, **params) -> dict:
    """dbcat's config sidecar (utility.py:933-983): version uuid, source
    paths with their own manifest versions chained in, timestamp, params."""
    os.makedirs(target_dir, exist_ok=True)
    config = {
        "version": str(uuid4()),
        "sources": [(s, (read_manifest(s) or {}).get("version")) for s in (sources or [])],
        "timestamp": datetime.now(timezone.utc).isoformat(),
        "engine": ENGINE_VERSION,
    }
    config.update(params)
    with open(os.path.join(target_dir, MANIFEST_NAME), "w") as f:
        json.dump(config, f, sort_keys=True, default=str)
    return config


def read_manifest(target_dir: str) -> dict | None:
    """dbconfig (database/utility.py:167-183)."""
    p = os.path.join(target_dir, MANIFEST_NAME)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def dbcat(dfs: list[DataFrame], out_dir: str, sources: list[str] | None = None, **params) -> dict:
    """Concat + versioned manifest (utility.py:933-983): unionByName the
    inputs, write parquet, record provenance."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    parquet_writer(out, "overwrite").parquet(out_dir)
    return write_manifest(out_dir, sources=sources, **params)


def list_versions(root: str) -> list[int]:
    """Version partitions present under a versioned table root."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("version=") and os.path.isdir(os.path.join(root, name)):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def next_version(root: str) -> int:
    vs = list_versions(root)
    return (vs[-1] + 1) if vs else 1


def version_dir(root: str, version: int) -> str:
    return os.path.join(root, f"version={version}")
