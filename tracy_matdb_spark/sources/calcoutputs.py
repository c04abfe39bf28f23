"""Calculator-output extraction: vasprun.xml, OUTCAR, XDATCAR ingest.

The reference's extract step pulls energy/forces/stress off completed DFT
folders and attaches them to records (`AsyncVasp.extract`,
matdb/calculators/vasp.py:473-544; QE analog qe.py:306-363), and its MD
group parses XDATCAR trajectories into per-frame configurations
(`DynamicsGroup._parse_md`, matdb/database/md.py:149-228). Both are
folder-at-a-time, single-threaded file loops in the reference.

Spark-first design: one `binaryFile` scan over the run folders (one row
per output file — parallelism == file count, which at 100 TB is the
natural unit: one DFT run = one file), then an Arrow-batched
`mapInPandas` parser emitting typed rows (sources/files.py, UTF-8 decoded
with `errors="replace"`). The parse itself is per-record
text/XML work — the sanctioned Python path — while everything downstream
(conform rename to ref_*, joins back to `configurations`, aggregations)
stays JVM-side. No ase dependency: vasprun.xml is well-formed XML
(xml.etree) and OUTCAR/XDATCAR are line-oriented public formats.

Semantics matched to the reference:
- energy = final electronic free energy (vasp.py:527 E); forces = final
  TOTAL-FORCE block (vasp.py:528); virial = stress * cell volume
  (vasp.py:531 `S*self.atoms.get_volume()`).
- unconverged runs are flagged, not dropped (`asis` escape hatch,
  vasp.py:473-506): `converged` is a column, the caller filters.
- XDATCAR: every `samplerate`-th frame is kept (md.py:204-209); here the
  parser emits ALL frames with a `frame` column and the subsample is a
  Catalyst-side `filter(frame % samplerate == 0)` — pushdown-friendly,
  and the full trajectory remains queryable.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tracy_matdb_spark.sources.files import read_files, text

_MAT3 = T.ArrayType(T.ArrayType(T.DoubleType()))

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("species", T.ArrayType(T.StringType())),
        T.StructField("cell", _MAT3),
        T.StructField("positions", _MAT3),
        T.StructField("ref_force", _MAT3),
        T.StructField("ref_virial", _MAT3),
        T.StructField("ref_energy", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("converged", T.BooleanType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("frame", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("species", T.ArrayType(T.StringType())),
        T.StructField("cell", _MAT3),
        T.StructField("frac_positions", _MAT3),
    ]
)


# ---------------------------------------------------------------------------
# vasprun.xml
# ---------------------------------------------------------------------------


def parse_vasprun(content: str, source: str = "") -> list[dict]:
    """Parse one vasprun.xml: last ionic step's structure/forces/stress
    and final energy (what `AsyncVasp.extract` reads via ase,
    vasp.py:506-532). Positions in vasprun are fractional; cartesians are
    computed as frac @ cell."""
    root = ET.fromstring(content)
    species = [
        rc.find("c").text.strip()
        for rc in root.findall(".//atominfo/array[@name='atoms']/set/rc")
    ]
    calcs = root.findall(".//calculation")
    if not calcs:
        return []
    calc = calcs[-1]

    def varray(parent, name):
        va = parent.find(f".//varray[@name='{name}']")
        if va is None:
            return None
        return [[float(x) for x in v.text.split()] for v in va.findall("v")]

    cell = varray(calc.find("structure"), "basis")
    frac = varray(calc.find("structure"), "positions")
    forces = varray(calc, "forces")
    stress = varray(calc, "stress")
    e_node = calc.find(".//energy/i[@name='e_fr_energy']")
    energy = float(e_node.text) if e_node is not None else None
    vol_node = calc.find(".//crystal/i[@name='volume']")
    volume = float(vol_node.text) if vol_node is not None else _det3(cell)
    conv_node = root.find(".//i[@name='converged']")
    converged = True if conv_node is None else conv_node.text.strip() in ("T", "True", "1")
    positions = [_frac_to_cart(f, cell) for f in frac] if frac else None
    virial = [[s * volume for s in row] for row in stress] if stress else None
    return [
        {
            "source_file": source,
            "n": len(species),
            "species": species,
            "cell": cell,
            "positions": positions,
            "ref_force": forces,
            "ref_virial": virial,
            "ref_energy": energy,
            "volume": volume,
            "converged": converged,
        }
    ]


def format_vasprun(rec: dict) -> str:
    """Render a minimal well-formed vasprun.xml for a record — the test
    fixture generator (the reference's tests likewise fabricate completed
    VASP outputs rather than running DFT, tests/conftest.py:3-69)."""

    def vs(rows):
        return "\n".join("      <v> " + " ".join(f"{x:.10g}" for x in row) + " </v>" for row in rows)

    atoms = "\n".join(f"    <rc><c>{s}</c><c>1</c></rc>" for s in rec["species"])
    conv = "T" if rec.get("converged", True) else "F"
    return f"""<?xml version="1.0" encoding="ISO-8859-1"?>
<modeling>
 <atominfo>
  <atoms>{len(rec['species'])}</atoms>
  <array name="atoms"><set>
{atoms}
  </set></array>
 </atominfo>
 <i name="converged">{conv}</i>
 <calculation>
  <structure>
   <crystal>
    <varray name="basis">
{vs(rec['cell'])}
    </varray>
    <i name="volume"> {rec['volume']:.10g} </i>
   </crystal>
   <varray name="positions">
{vs(rec['frac_positions'])}
   </varray>
  </structure>
  <varray name="forces">
{vs(rec['forces'])}
  </varray>
  <varray name="stress">
{vs(rec['stress'])}
  </varray>
  <energy>
   <i name="e_fr_energy"> {rec['energy']:.10g} </i>
  </energy>
 </calculation>
</modeling>
"""


# ---------------------------------------------------------------------------
# Quantum Espresso pw.x XML (data-file-schema dialect)
# ---------------------------------------------------------------------------

#: Bohr radius in Angstrom — the constant the reference uses to build its
#: stress unit conversion (matdb/calculators/qe.py:334 `rl = (vol**(1./3.))
#: / 0.529177208`). Public CODATA value as written in the reference.
BOHR_ANGSTROM = 0.529177208

QE_EXTRACT_SCHEMA = T.StructType(
    list(EXTRACT_SCHEMA.fields) + [T.StructField("scf_error", T.DoubleType())]
)

#: QE conv_thr default (pw.x documentation): scf_error below this counts
#: as converged. The reference stores the raw scf_error float in its
#: `converged` slot (qe.py:335 `self.converged = output["convergence"]`);
#: here `converged` is a proper boolean and the raw float is kept as its
#: own `scf_error` column so callers can re-threshold.
QE_CONV_THR = 1e-6


def _qe_stress_scale(volume: float) -> float:
    """The reference's stress unit factor (qe.py:333-337): with
    rl = volume^(1/3) / bohr, S = stress_raw * rl^3. Kept as one shared
    expression so parser and test oracle are bit-identical."""
    return ((volume ** (1.0 / 3.0)) / BOHR_ANGSTROM) ** 3


def parse_pwscf_xml(content: str, source: str = "") -> list[dict]:
    """Parse one pw.x XML output (the `{out_file}.xml` /
    data-file-schema document the reference reads in
    `Qe._read`, matdb/calculators/qe.py:419-446):

    - output/convergence_info/scf_conv/scf_error  (last occurrence)
    - output/atomic_structure/atomic_positions/atom  (cartesian, one per
      atom; the reference's loop keeps only the LAST atom — qe.py:433-435
      assigns instead of appending — that bug is not reproduced here)
    - output/atomic_structure/cell/*  (a1..a3 rows)
    - output/total_energy/etot  (last occurrence)
    - output/forces  (whitespace matrix, n x 3)
    - output/stress  (9 floats -> 3x3)

    Semantics matched to `Qe.extract` (qe.py:306-346): with
    scale = (V^(1/3)/bohr)^3, S = stress*scale and
    ref_virial = S * V; ref_energy = etot; unconverged runs are
    flagged (converged = scf_error < QE_CONV_THR), not dropped."""
    root = ET.fromstring(content)
    err_nodes = root.findall("output/convergence_info/scf_conv/scf_error")
    scf_error = float(err_nodes[-1].text) if err_nodes else None
    atoms = root.findall("output/atomic_structure/atomic_positions/atom")
    species = [a.attrib.get("name", "") for a in atoms]
    positions = [[float(x) for x in a.text.split()] for a in atoms]
    cell = [
        [float(x) for x in v.text.split()]
        for v in root.findall("output/atomic_structure/cell/*")
    ]
    etot_nodes = root.findall("output/total_energy/etot")
    energy = float(etot_nodes[-1].text) if etot_nodes else None
    force_nodes = root.findall("output/forces")
    forces = (
        [
            [float(x) for x in line.split()]
            for line in force_nodes[-1].text.strip().split("\n")
        ]
        if force_nodes
        else None
    )
    stress_nodes = root.findall("output/stress")
    volume = _det3(cell) if cell else None
    virial = None
    if stress_nodes and volume is not None:
        flat = [float(x) for x in stress_nodes[-1].text.strip().split()]
        stress3 = [flat[0:3], flat[3:6], flat[6:9]]
        scale = _qe_stress_scale(volume)
        s_scaled = [[s * scale for s in row] for row in stress3]
        virial = [[v * volume for v in row] for row in s_scaled]
    return [
        {
            "source_file": source,
            "n": len(species),
            "species": species,
            "cell": cell,
            "positions": positions,
            "ref_force": forces,
            "ref_virial": virial,
            "ref_energy": energy,
            "volume": volume,
            "converged": (scf_error is not None and scf_error < QE_CONV_THR),
            "scf_error": scf_error,
        }
    ]


def format_pwscf_xml(rec: dict) -> str:
    """Render a minimal pw.x output XML for a record — fixture generator
    following the same fabricate-completed-runs strategy as
    format_vasprun (the reference's QE test fixture is likewise a
    canned tree, tests/AgPd/matdb_qe.yml + tests/qe/)."""

    def mat(rows):
        return "\n".join("   " + " ".join(f"{x:.10g}" for x in row) for row in rows)

    atoms = "\n".join(
        f'    <atom name="{s}" index="{i + 1}">'
        + " ".join(f"{x:.10g}" for x in pos)
        + "</atom>"
        for i, (s, pos) in enumerate(zip(rec["species"], rec["positions"]))
    )
    cell = "\n".join(
        f"    <a{k + 1}>" + " ".join(f"{x:.10g}" for x in row) + f"</a{k + 1}>"
        for k, row in enumerate(rec["cell"])
    )
    stress_flat = " ".join(f"{x:.10g}" for row in rec["stress"] for x in row)
    return f"""<?xml version="1.0" encoding="UTF-8"?>
<qes:espresso xmlns:qes="http://www.quantum-espresso.org/ns/qes/qes-1.0">
 <general_info>
  <creator NAME="PWSCF" VERSION="6.4.1"/>
 </general_info>
 <output>
  <convergence_info>
   <scf_conv>
    <scf_error>{rec['scf_error']!r}</scf_error>
   </scf_conv>
  </convergence_info>
  <atomic_structure nat="{len(rec['species'])}">
   <atomic_positions>
{atoms}
   </atomic_positions>
   <cell>
{cell}
   </cell>
  </atomic_structure>
  <total_energy>
   <etot>{rec['energy']:.10g}</etot>
  </total_energy>
  <forces rank="2" dims="{len(rec['forces'])} 3">
{mat(rec['forces'])}
  </forces>
  <stress rank="2" dims="3 3">
   {stress_flat}
  </stress>
 </output>
</qes:espresso>
"""


# ---------------------------------------------------------------------------
# OUTCAR
# ---------------------------------------------------------------------------

_TOTEN_RE = re.compile(r"free\s+energy\s+TOTEN\s*=\s*([-\d.Ee+]+)")
_VOL_RE = re.compile(r"volume of cell\s*:\s*([-\d.Ee+]+)")


def parse_outcar(content: str, source: str = "") -> list[dict]:
    """Parse an OUTCAR: final TOTEN energy, final TOTAL-FORCE block,
    final `in kB`-adjacent stress (eV form: `Total` line of
    FORCE on cell), cell volume, convergence marker."""
    lines = content.splitlines()
    energy = None
    volume = None
    forces: list[list[float]] | None = None
    positions: list[list[float]] | None = None
    stress_ev: list[float] | None = None
    cell: list[list[float]] | None = None
    species: list[str] = []
    counts: list[int] = []
    converged = False
    in_stress = False
    i = 0
    while i < len(lines):
        ln = lines[i]
        m = _TOTEN_RE.search(ln)
        if m:
            energy = float(m.group(1))
        m = _VOL_RE.search(ln)
        if m:
            volume = float(m.group(1))
        if "VRHFIN" in ln:  # e.g. "VRHFIN =Ag: s1 d10"
            species.append(ln.split("=")[1].split(":")[0].strip())
        if "ions per type" in ln:
            counts = [int(x) for x in ln.split("=")[1].split()]
        if "direct lattice vectors" in ln:
            cell = [[float(x) for x in lines[i + 1 + r].split()[0:3]] for r in range(3)]
            i += 4
            continue
        if "TOTAL-FORCE" in ln:
            positions, forces = [], []
            j = i + 2
            while j < len(lines) and not lines[j].strip().startswith("---"):
                parts = [float(x) for x in lines[j].split()]
                positions.append(parts[0:3])
                forces.append(parts[3:6])
                j += 1
            i = j
            continue
        if "FORCE on cell" in ln:
            in_stress = True
        elif in_stress and ln.strip().startswith("Total"):
            stress_ev = [float(x) for x in ln.split()[1:7]]  # XX YY ZZ XY YZ ZX
            in_stress = False
        if "reached required accuracy" in ln or "aborting loop because EDIFF is reached" in ln:
            converged = True
        i += 1
    full_species = [s for s, c in zip(species, counts) for _ in range(c)] if counts else species
    if volume is None and cell is not None:
        volume = _det3(cell)
    virial = None
    if stress_ev is not None and volume is not None:
        xx, yy, zz, xy, yz, zx = stress_ev
        s3 = [[xx, xy, zx], [xy, yy, yz], [zx, yz, zz]]
        # same convention as the vasprun path / vasp.py:531: virial = S * V
        virial = [[v * volume for v in row] for row in s3]
    return [
        {
            "source_file": source,
            "n": len(full_species) or (len(forces) if forces else 0),
            "species": full_species,
            "cell": cell,
            "positions": positions,
            "ref_force": forces,
            "ref_virial": virial,
            "ref_energy": energy,
            "volume": volume,
            "converged": converged,
        }
    ]


def format_outcar(rec: dict) -> str:
    """Fixture OUTCAR writer (same fake-completed-run strategy as the
    reference's test stubs)."""
    out = []
    for s in rec["species_types"]:
        out.append(f"   VRHFIN ={s}: stub")
    out.append("   ions per type =  " + "  ".join(str(c) for c in rec["type_counts"]))
    out.append("      direct lattice vectors                 reciprocal lattice vectors")
    for row in rec["cell"]:
        out.append("    " + "  ".join(f"{v:.10g}" for v in row) + "    0 0 0")
    out.append(f"  volume of cell :   {rec['volume']:.10g}")
    out.append("  FORCE on cell =-STRESS in cart. coord.  units (eV):")
    out.append("  Direction    XX          YY          ZZ          XY          YZ          ZX")
    out.append("  Total   " + "  ".join(f"{v:.10g}" for v in rec["stress_voigt"]))
    out.append(" POSITION                                       TOTAL-FORCE (eV/Angst)")
    out.append(" -----------------------------------------------------------------------------------")
    for pos, frc in zip(rec["positions"], rec["forces"]):
        out.append("     " + "  ".join(f"{v:.10g}" for v in list(pos) + list(frc)))
    out.append(" -----------------------------------------------------------------------------------")
    out.append(f"  free  energy   TOTEN  =       {rec['energy']:.10g} eV")
    if rec.get("converged", True):
        out.append(" reached required accuracy - stopping structural energy minimisation")
    return "\n".join(out) + "\n"


# ---------------------------------------------------------------------------
# XDATCAR (MD trajectory)
# ---------------------------------------------------------------------------


def parse_xdatcar(content: str, source: str = "") -> list[dict]:
    """Parse an XDATCAR trajectory into one row per frame
    (DynamicsGroup._parse_md, matdb/database/md.py:149-228 — which
    physically writes one POSCAR file per kept frame; here every frame
    becomes a typed row and sampling is a downstream filter)."""
    lines = content.splitlines()
    if len(lines) < 8:
        return []
    scale = float(lines[1])
    cell = [[scale * float(x) for x in lines[2 + r].split()] for r in range(3)]
    species_types = lines[5].split()
    counts = [int(x) for x in lines[6].split()]
    species = [s for s, c in zip(species_types, counts) for _ in range(c)]
    natoms = sum(counts)
    out = []
    i = 7
    while i < len(lines):
        ln = lines[i]
        if "configuration" in ln:
            nums = re.findall(r"\d+", ln)
            frame = int(nums[-1])
            frac = [[float(x) for x in lines[i + 1 + a].split()[0:3]] for a in range(natoms)]
            out.append(
                {
                    "source_file": source,
                    "frame": frame,
                    "n": natoms,
                    "species": species,
                    "cell": cell,
                    "frac_positions": frac,
                }
            )
            i += 1 + natoms
        else:
            i += 1
    return out


def format_xdatcar(cell: list[list[float]], species_types: list[str], counts: list[int], frames: list[list[list[float]]], comment: str = "MD") -> str:
    out = [comment, "1.0"]
    for row in cell:
        out.append("  " + " ".join(f"{v:.10g}" for v in row))
    out.append(" ".join(species_types))
    out.append(" ".join(str(c) for c in counts))
    for k, frac in enumerate(frames, start=1):
        out.append(f"Direct configuration= {k:6d}")
        for row in frac:
            out.append("  " + " ".join(f"{v:.10g}" for v in row))
    return "\n".join(out) + "\n"


# ---------------------------------------------------------------------------
# Spark readers
# ---------------------------------------------------------------------------


def read_vasprun(spark: SparkSession, path: str, glob: str = "*.xml") -> DataFrame:
    return read_files(spark, path, glob, text(parse_vasprun, errors="replace"), EXTRACT_SCHEMA)


def read_outcar(spark: SparkSession, path: str, glob: str = "OUTCAR*") -> DataFrame:
    return read_files(spark, path, glob, text(parse_outcar, errors="replace"), EXTRACT_SCHEMA)


def read_pwscf(spark: SparkSession, path: str, glob: str = "*.xml") -> DataFrame:
    """Quantum Espresso pw.x XML extraction (Qe.extract / Qe._read,
    matdb/calculators/qe.py:306-446) as a distributed binaryFile +
    mapInPandas scan — same one-file-one-run parallelism as
    read_vasprun."""
    return read_files(
        spark, path, glob, text(parse_pwscf_xml, errors="replace"), QE_EXTRACT_SCHEMA
    )


def read_xdatcar(spark: SparkSession, path: str, glob: str = "XDATCAR*") -> DataFrame:
    return read_files(spark, path, glob, text(parse_xdatcar, errors="replace"), FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _det3(m: list[list[float]] | None) -> float | None:
    if m is None:
        return None
    return (
        m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
        - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
        + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
    )


def _frac_to_cart(frac: list[float], cell: list[list[float]]) -> list[float]:
    return [
        frac[0] * cell[0][k] + frac[1] * cell[1][k] + frac[2] * cell[2][k]
        for k in range(3)
    ]
