"""HDF5 atoms interop — the reference's native artifact format.

Every real matdb artifact is an ``atoms.h5`` file: one configuration
serialized as nested HDF5 groups (reference matdb/io.py:442-509 writes
np scalars / ndarrays / utf-8 strings / nested dicts-as-groups;
atoms.py:366-404 reads them back; ``AtomsList`` targets are directories
of such files, atoms.py:591-635).

Three layers:

- the *canonicalization* layer (`record_to_tree` / `tree_to_record`) —
  the exact mapping between one `configurations` row (SURVEY §1.4) and
  the reference's nested-group layout — pure Python, fully tested;
- the *h5 byte* layer: h5py when installed (`_tree_to_h5` /
  `_h5_to_tree`; spec-complete, preferred), else the pure-Python
  `hdf5lite` subset (sources/hdf5lite.py) implementing the public HDF5
  file-format spec for exactly this nested-group layout — so the
  interop works in images without libhdf5 (this one);
- the Spark plumbing (binaryFile scan -> mapInPandas parse;
  per-record executor-side writer), backend-independent.

One-time migration design (100 TB of atoms.h5 -> parquet): the file
inventory is a DataFrame (`binaryFile` scan is distributed and
partition-parallel); each executor parses its files from the in-memory
bytes (atoms.h5 files are KB-scale — single-record), emits rows of
CONFIG_SCHEMA, and the sink is an ordinary partitioned parquet write
(`database`/`group_name` layout). After migration the engine never
touches HDF5 again; `write_atoms_h5` exists for export interop only.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tracy_matdb_spark.catalog import parquet_writer
from tracy_matdb_spark.sources.files import read_files

try:  # h5py is optional by design — see module docstring
    import h5py  # noqa: F401

    HAS_H5PY = True
except ImportError:
    HAS_H5PY = False

#: columnar schema of one configuration (SURVEY §1.4 hot columns)
CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("uuid", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("symbols", T.StringType()),
        T.StructField("species", T.ArrayType(T.StringType())),
        T.StructField("cell", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("positions", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("pbc", T.ArrayType(T.BooleanType())),
        T.StructField("ref_energy", T.DoubleType()),
        T.StructField("ref_force", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("params", T.MapType(T.StringType(), T.StringType())),
        T.StructField("source_file", T.StringType()),
    ]
)

_HOT_PARAMS = {"ref_energy"}  # promoted out of params/ into real columns
_HOT_PROPS = {"ref_force"}  # promoted out of properties/


def record_to_tree(row: dict[str, Any]) -> dict[str, Any]:
    """One configurations row -> the reference's nested-group layout:
    top-level scalar/array leaves plus `params`/`properties` sub-groups
    (io.py:442-484 writes dicts as groups; calculator outputs live under
    their normalized `ref_*` names after _conform_atoms,
    database/__init__.py:1107-1157). JSON-encoded residual params keep
    the open tail round-trippable without schema churn."""
    tree: dict[str, Any] = {
        "uuid": row["uuid"],
        "n": int(row["n"]),
        "symbols": row["symbols"],
        "species": list(row["species"]),
        "cell": [[float(v) for v in r] for r in row["cell"]],
        "positions": [[float(v) for v in r] for r in row["positions"]],
        "pbc": [bool(b) for b in row["pbc"]],
        "params": {},
        "properties": {},
    }
    if row.get("ref_energy") is not None:
        tree["params"]["ref_energy"] = float(row["ref_energy"])
    if row.get("ref_force") is not None:
        tree["properties"]["ref_force"] = [[float(v) for v in r] for r in row["ref_force"]]
    for k, v in (row.get("params") or {}).items():
        tree["params"][k] = v  # residual tail: JSON-encoded strings
    return tree


def tree_to_record(tree: dict[str, Any], source_file: str = "") -> dict[str, Any]:
    """Inverse of record_to_tree: nested-group layout -> one row dict
    matching CONFIG_SCHEMA, promoting the hot params/properties back to
    real columns and leaving the rest in the params map."""
    params = dict(tree.get("params") or {})
    props = dict(tree.get("properties") or {})
    ref_energy = params.pop("ref_energy", None)
    ref_force = props.pop("ref_force", None)
    residual = {str(k): v if isinstance(v, str) else json.dumps(v) for k, v in params.items()}
    for k, v in props.items():  # non-hot per-atom arrays ride along JSON-encoded
        residual[f"prop:{k}"] = json.dumps(v)
    return {
        "uuid": str(tree["uuid"]),
        "n": int(tree["n"]),
        "symbols": str(tree["symbols"]),
        "species": [str(s) for s in tree["species"]],
        "cell": [[float(v) for v in r] for r in tree["cell"]],
        "positions": [[float(v) for v in r] for r in tree["positions"]],
        "pbc": [bool(b) for b in tree["pbc"]],
        "ref_energy": None if ref_energy is None else float(ref_energy),
        "ref_force": None
        if ref_force is None
        else [[float(v) for v in r] for r in ref_force],
        "params": residual,
        "source_file": source_file,
    }


# ---------------------------------------------------------------------------
# h5 byte layer: h5py when present, hdf5lite otherwise (io.py:442-509 semantics)
# ---------------------------------------------------------------------------


def _tree_to_h5(grp, tree: dict[str, Any]) -> None:  # pragma: no cover - needs h5py
    import numpy as np

    for k, v in tree.items():
        if isinstance(v, dict):
            _tree_to_h5(grp.create_group(k), v)  # dict -> sub-group
        elif isinstance(v, str):
            grp.attrs[k] = v  # utf-8 string leaf
        elif isinstance(v, bool):
            grp.attrs[k] = np.bool_(v)
        elif isinstance(v, (int, float)):
            grp.attrs[k] = v  # numeric scalar
        else:
            arr = np.asarray(v)
            if arr.dtype.kind == "U":  # h5py rejects numpy unicode dtypes
                grp.create_dataset(
                    k, data=arr.astype(object), dtype=h5py.string_dtype(encoding="utf-8")
                )
            else:
                grp.create_dataset(k, data=arr)  # ndarray leaf


def _h5_to_tree(grp) -> dict[str, Any]:  # pragma: no cover - needs h5py
    import h5py as _h5
    import numpy as np

    out: dict[str, Any] = {}
    for k, v in grp.attrs.items():
        out[k] = v.item() if isinstance(v, np.generic) else v
    for k, v in grp.items():
        if isinstance(v, _h5.Group):
            out[k] = _h5_to_tree(v)
        else:
            arr = np.asarray(v)
            out[k] = arr.tolist()
    return out


def atoms_record_to_h5_bytes(row) -> bytes:
    """One CONFIG_SCHEMA row dict -> atoms.h5 file bytes (h5py when
    present, else hdf5lite's v2 dialect — byte-compatible subset)."""
    tree = record_to_tree(row)
    if HAS_H5PY:  # pragma: no cover - needs h5py
        import io as _io

        bio = _io.BytesIO()
        with h5py.File(bio, "w") as f:
            _tree_to_h5(f, tree)
        return bio.getvalue()
    from tracy_matdb_spark.sources import hdf5lite

    return hdf5lite.write_tree_bytes(tree, dialect="v2")


def parse_atoms_h5_bytes(content: bytes, source_file: str = "") -> dict[str, Any]:
    """One atoms.h5 byte blob -> one CONFIG_SCHEMA row dict."""
    if HAS_H5PY:  # pragma: no cover - needs h5py
        import io as _io

        with h5py.File(_io.BytesIO(content), "r") as f:
            return tree_to_record(_h5_to_tree(f), source_file)
    from tracy_matdb_spark.sources import hdf5lite

    return tree_to_record(hdf5lite.read_tree_bytes(bytes(content)), source_file)


def parse_atoms_h5_file(content: bytes, source_file: str = "") -> list[dict[str, Any]]:
    """`parse_atoms_h5_bytes` in the per-file parser shape of
    sources/files.py: one atoms.h5 file is one row."""
    return [parse_atoms_h5_bytes(content, source_file)]


def read_atoms_h5(spark: SparkSession, path: str, glob: str = "*.h5") -> DataFrame:
    """Distributed atoms.h5 ingest: binaryFile scan (partition-parallel
    file inventory, no driver listing bottleneck) -> mapInPandas parse on
    the executors. Mirrors AtomsList.read over a directory
    (atoms.py:591-635) as a scan."""
    return read_files(spark, path, glob, parse_atoms_h5_file, CONFIG_SCHEMA)


def write_atoms_h5(df: DataFrame, out_dir: str) -> None:
    """Export interop: one `<uuid>.h5` per configuration row, written
    from the executors (foreachPartition — no driver collect)."""

    def dump(rows):
        import os

        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            data = atoms_record_to_h5_bytes(r.asDict(recursive=True))
            with open(os.path.join(out_dir, f"{r['uuid']}.h5"), "wb") as fh:
                fh.write(data)

    df.foreachPartition(dump)


def atoms_h5_dir_to_parquet(
    spark: SparkSession, src: str, dst: str, partition_cols: tuple[str, ...] = ()
) -> None:
    """One-time migration: directory tree of atoms.h5 -> parquet table
    (see module docstring for the 100 TB design)."""
    df = read_atoms_h5(spark, src)
    writer = parquet_writer(df, "overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(dst)
