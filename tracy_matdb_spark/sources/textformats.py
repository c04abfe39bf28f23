"""Text-format sources/sinks: extended-XYZ and MTP CFG.

The reference ingests/exports configurations as per-file text formats:
XYZ via ase (matdb/atoms.py:117-122, io.py:290-343) and MTP CFG blocks
(cfg_to_atomslist io.py:204-266, atoms_to_cfg io.py:57-141). Here both
are Spark ingest jobs:

    binaryFile scan (many small files -> one row each, parallel)
      -> mapInPandas parser (Arrow-batched pure-Python text parsing —
         the sanctioned slow path: the format itself is line-oriented
         text, there is nothing for codegen to do)
      -> typed DataFrame (nested ARRAY columns per SURVEY.md §1.4)

At 100 TB the same plan holds: binaryFile splits by file, so parallelism
== file count; pathGlobFilter prunes; the parser is embarrassingly
parallel. The scan and parse loop is the shared one in sources/files.py
(strict UTF-8). Export runs the inverse per partition.

No ase dependency: the parsers are self-contained (formats are public,
trivially line-structured). HDF5 interop lives in sources/hdf5io.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tracy_matdb_spark.sources.files import read_files, text

CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("config_id", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("cell", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("species", T.ArrayType(T.StringType())),
        T.StructField("positions", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("forces", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("energy", T.DoubleType()),
    ]
)


# ---------------------------------------------------------------------------
# extended XYZ
# ---------------------------------------------------------------------------


def parse_xyz(content: str, source: str = "") -> list[dict]:
    """Parse concatenated extended-XYZ frames (public format: N, comment
    with Lattice="9 floats" and key=value tail, then N atom lines)."""
    lines = content.splitlines()
    out, i, cid = [], 0, 0
    while i < len(lines):
        if not lines[i].strip():
            i += 1
            continue
        n = int(lines[i].strip())
        comment = lines[i + 1]
        cell = None
        energy = None
        if 'Lattice="' in comment:
            lat = comment.split('Lattice="', 1)[1].split('"', 1)[0].split()
            v = [float(x) for x in lat]
            cell = [v[0:3], v[3:6], v[6:9]]
        for tok in comment.split():
            if tok.lower().startswith("energy="):
                energy = float(tok.split("=", 1)[1])
        species, positions, forces = [], [], []
        has_forces = False
        for row in lines[i + 2 : i + 2 + n]:
            parts = row.split()
            species.append(parts[0])
            positions.append([float(x) for x in parts[1:4]])
            if len(parts) >= 7:
                forces.append([float(x) for x in parts[4:7]])
                has_forces = True
        out.append(
            {
                "source_file": source,
                "config_id": cid,
                "n": n,
                "cell": cell,
                "species": species,
                "positions": positions,
                "forces": forces if has_forces else None,
                "energy": energy,
            }
        )
        cid += 1
        i += 2 + n
    return out


def format_xyz(rec: dict) -> str:
    cell = rec.get("cell")
    comment = ""
    if cell is not None:
        flat = " ".join(f"{v:.10g}" for row in cell for v in row)
        comment += f'Lattice="{flat}"'
    if rec.get("energy") is not None:
        comment += f" energy={rec['energy']:.10g}"
    body = []
    forces = rec.get("forces") or []
    for a in range(rec["n"]):
        line = f"{rec['species'][a]} " + " ".join(f"{v:.10g}" for v in rec["positions"][a])
        if forces:
            line += " " + " ".join(f"{v:.10g}" for v in forces[a])
        body.append(line)
    return "\n".join([str(rec["n"]), comment.strip()] + body)


# ---------------------------------------------------------------------------
# MTP CFG
# ---------------------------------------------------------------------------


def parse_cfg(content: str, source: str = "", type_map: dict[int, str] | None = None) -> list[dict]:
    """Parse MTP CFG blocks (public format: BEGIN_CFG / Size / Supercell /
    AtomData / Energy / END_CFG; reference parser matdb/io.py:204-266)."""
    out, cid = [], 0
    for block in content.split("BEGIN_CFG")[1:]:
        lines = [ln.strip() for ln in block.splitlines() if ln.strip()]
        rec = {
            "source_file": source,
            "config_id": cid,
            "n": 0,
            "cell": None,
            "species": [],
            "positions": [],
            "forces": [],
            "energy": None,
        }
        i = 0
        while i < len(lines):
            ln = lines[i]
            if ln.startswith("Size"):
                rec["n"] = int(lines[i + 1])
                i += 2
            elif ln.startswith("Supercell"):
                rec["cell"] = [[float(x) for x in lines[i + 1 + r].split()] for r in range(3)]
                i += 4
            elif ln.startswith("AtomData"):
                has_forces = "fx" in ln
                for a in range(rec["n"]):
                    parts = lines[i + 1 + a].split()
                    t = int(parts[1])
                    rec["species"].append(type_map.get(t, str(t)) if type_map else str(t))
                    rec["positions"].append([float(x) for x in parts[2:5]])
                    if has_forces:
                        rec["forces"].append([float(x) for x in parts[5:8]])
                i += 1 + rec["n"]
            elif ln.startswith("Energy"):
                rec["energy"] = float(lines[i + 1])
                i += 2
            elif ln.startswith("END_CFG"):
                break
            else:
                i += 1
        if not rec["forces"]:
            rec["forces"] = None
        out.append(rec)
        cid += 1
    return out


def format_cfg(rec: dict, type_of: dict[str, int] | None = None) -> str:
    lines = ["BEGIN_CFG", " Size", f"    {rec['n']}"]
    if rec.get("cell"):
        lines.append(" Supercell")
        for row in rec["cell"]:
            lines.append("   " + " ".join(f"{v:.10g}" for v in row))
    has_f = bool(rec.get("forces"))
    header = " AtomData:  id type cartes_x cartes_y cartes_z" + ("  fx fy fz" if has_f else "")
    lines.append(header)
    for a in range(rec["n"]):
        t = type_of.get(rec["species"][a], 0) if type_of else 0
        row = f"   {a + 1} {t} " + " ".join(f"{v:.10g}" for v in rec["positions"][a])
        if has_f:
            row += " " + " ".join(f"{v:.10g}" for v in rec["forces"][a])
        lines.append(row)
    if rec.get("energy") is not None:
        lines += [" Energy", f"   {rec['energy']:.10g}"]
    lines.append("END_CFG")
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Spark readers / writers
# ---------------------------------------------------------------------------


def read_xyz(spark: SparkSession, path: str, glob: str = "*.xyz") -> DataFrame:
    return read_files(spark, path, glob, text(parse_xyz), CONFIG_SCHEMA)


def read_cfg(spark: SparkSession, path: str, glob: str = "*.cfg") -> DataFrame:
    return read_files(spark, path, glob, text(parse_cfg), CONFIG_SCHEMA)


def write_text_partitions(df: DataFrame, out_dir: str, fmt: str = "xyz") -> None:
    """Export each partition to one text file (foreachPartition writer —
    the Spark analog of the reference's per-folder CFG/XYZ export)."""
    import os
    import uuid as _uuid

    os.makedirs(out_dir, exist_ok=True)
    formatter = format_xyz if fmt == "xyz" else format_cfg

    def dump(rows):
        chunks = []
        for row in rows:
            rec = row.asDict(recursive=True)
            chunks.append(formatter(rec))
        if chunks:
            fname = os.path.join(out_dir, f"part-{_uuid.uuid4().hex}.{fmt}")
            with open(fname, "w") as f:
                f.write("\n".join(chunks) + "\n")

    df.foreachPartition(dump)
