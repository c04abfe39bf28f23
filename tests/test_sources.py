"""XYZ / CFG text-format source round-trips."""

from __future__ import annotations

import json
import os

import pytest

from tracy_matdb_spark.sources import textformats as TF

REC = {
    "source_file": "",
    "config_id": 0,
    "n": 2,
    "cell": [[4.0, 0.0, 0.0], [0.0, 4.0, 0.0], [0.0, 0.0, 4.0]],
    "species": ["Pd", "Ag"],
    "positions": [[0.0, 0.0, 0.0], [2.0, 2.0, 2.0]],
    "forces": [[0.1, -0.2, 0.0], [-0.1, 0.2, 0.0]],
    "energy": -3.5,
}


def test_xyz_text_roundtrip():
    text = TF.format_xyz(REC) + "\n" + TF.format_xyz({**REC, "energy": -4.0})
    recs = TF.parse_xyz(text, "mem")
    assert len(recs) == 2
    assert recs[0]["n"] == 2 and recs[0]["species"] == ["Pd", "Ag"]
    assert recs[0]["cell"] == REC["cell"]
    assert recs[0]["energy"] == -3.5 and recs[1]["energy"] == -4.0
    assert recs[0]["forces"] == REC["forces"]


def test_cfg_text_roundtrip():
    type_of = {"Pd": 0, "Ag": 1}
    text = "\n".join(TF.format_cfg({**REC, "config_id": i}, type_of) for i in range(3))
    recs = TF.parse_cfg(text, "mem", type_map={0: "Pd", 1: "Ag"})
    assert len(recs) == 3
    assert recs[1]["species"] == ["Pd", "Ag"]
    assert recs[1]["positions"] == REC["positions"]
    assert recs[1]["energy"] == -3.5
    assert recs[1]["cell"] == REC["cell"]


def test_spark_xyz_ingest(spark, tmp_path):
    d = tmp_path / "xyz"
    d.mkdir()
    for i in range(4):
        (d / f"cfg{i}.xyz").write_text(TF.format_xyz({**REC, "energy": float(i)}) + "\n")
    df = TF.read_xyz(spark, str(d))
    pdf = df.toPandas().sort_values("energy").reset_index(drop=True)
    assert len(pdf) == 4
    assert list(pdf.energy) == [0.0, 1.0, 2.0, 3.0]
    assert pdf.n.eq(2).all()


def test_spark_cfg_export_ingest_roundtrip(spark, tmp_path):
    d = tmp_path / "xyzsrc"
    d.mkdir()
    for i in range(3):
        (d / f"c{i}.xyz").write_text(TF.format_xyz({**REC, "energy": float(i)}) + "\n")
    df = TF.read_xyz(spark, str(d))
    out = tmp_path / "cfgout"
    TF.write_text_partitions(df, str(out), fmt="cfg")
    back = TF.read_cfg(spark, str(out), glob="*.cfg").toPandas()
    assert len(back) == 3
    assert sorted(back.energy) == [0.0, 1.0, 2.0]


def test_hdf5_byte_layer_works_without_h5py():
    """The byte layer dispatches to the pure-Python hdf5lite subset
    when h5py is absent (sources/hdf5io.py), so parse/export work in
    this image — no gate."""
    from tracy_matdb_spark.sources import hdf5io

    row = {
        "uuid": "g-1",
        "n": 1,
        "symbols": "Cu",
        "species": ["Cu"],
        "cell": [[2.5, 0.0, 0.0], [0.0, 2.5, 0.0], [0.0, 0.0, 2.5]],
        "positions": [[0.25, 0.5, 0.75]],
        "pbc": [True, True, True],
        "ref_energy": -1.5,
        "ref_force": [[0.0, 0.125, 0.0]],
        "params": {"config_type": "manual"},
        "source_file": "",
    }
    data = hdf5io.atoms_record_to_h5_bytes(row)
    assert data[:8] == b"\x89HDF\r\n\x1a\n"  # real HDF5 bytes
    back = hdf5io.parse_atoms_h5_bytes(data, "g-1.h5")
    for k in ("uuid", "n", "symbols", "species", "cell", "positions", "pbc",
              "ref_energy", "ref_force"):
        assert back[k] == row[k], k
    assert back["source_file"] == "g-1.h5"


H5_ROWS = [
    {
        "uuid": f"ds-{i}", "n": 1, "symbols": "Cu", "species": ["Cu"],
        "cell": [[2.5, 0.0, 0.0], [0.0, 2.5, 0.0], [0.0, 0.0, 2.5]],
        "positions": [[0.25 * i, 0.0, 0.0]], "pbc": [True, True, False],
        "ref_energy": -1.5 * i, "ref_force": [[0.0, 0.125 * i, 0.0]] if i else None,
        "params": {"config_type": "manual"} if i else {}, "source_file": "",
    }
    for i in range(3)
]


def _canon(rows, drop: str | None = None) -> list[str]:
    """Rows as sorted JSON strings over every column. source_file is
    compared by basename: a DataSource opens local paths, binaryFile
    reports file: URIs."""
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        d.pop(drop, None)
        d["source_file"] = os.path.basename(d["source_file"])
        out.append(json.dumps(d, sort_keys=True))
    return sorted(out)


@pytest.mark.parametrize("fmt", ["xyz", "atomsh5", "atomsh5-file", "warc"])
def test_xyz_python_datasource(spark, tmp_path, fmt):
    """Spark 4 custom Python DataSources: spark.read.format(<fmt>) gives
    the batch reader's rows on every column, one partition per file; for
    the streamed formats the streaming ingest's target holds the same
    rows plus its stamp column. `atomsh5-file` loads a single file."""
    from tracy_matdb_spark.sources.hdf5io import CONFIG_SCHEMA, read_atoms_h5, write_atoms_h5
    from tracy_matdb_spark.sources.pyds import register_all
    from tracy_matdb_spark.sources.textformats import read_xyz
    from tracy_matdb_spark.sources.warc import read_warc
    from tracy_matdb_spark.streaming import ingest

    register_all(spark)
    stream = None
    if fmt == "xyz":
        from tracy_matdb_spark.queries.coverage import _write_text_fixture

        path = _write_text_fixture("xyz")
        batch, n_files, n_rows = read_xyz(spark, path), 2, 3
    elif fmt.startswith("atomsh5"):
        path = str(tmp_path / "h5")
        write_atoms_h5(spark.createDataFrame(H5_ROWS, CONFIG_SCHEMA), path)
        if fmt == "atomsh5":
            stream, n_files = (ingest.incremental_atoms_h5_ingest, "iteration"), 3
        else:
            path, n_files = os.path.join(path, "ds-1.h5"), 1
        batch, n_rows = read_atoms_h5(spark, path), n_files
    else:
        from tracy_matdb_spark.queries.ingest import _write_warc_fixture

        path = _write_warc_fixture()
        batch, n_files, n_rows = read_warc(spark, path, glob="*.warc*"), 4, 6
        stream = (ingest.streaming_warc_ingest, "batch_id")

    via_ds = spark.read.format(fmt.split("-")[0]).load(path)
    rows = _canon(via_ds.collect())
    assert len(rows) == n_rows and rows == _canon(batch.collect())
    assert via_ds.rdd.getNumPartitions() == n_files
    if stream is not None:
        start, stamp = stream
        target = str(tmp_path / "target")
        start(spark, path, target, checkpoint_dir=str(tmp_path / "ckpt")).awaitTermination()
        assert rows == _canon(spark.read.parquet(target).collect(), drop=stamp)


def test_atomsh5_python_datasource(spark, tmp_path):
    from tracy_matdb_spark.sources.hdf5io import write_atoms_h5
    from tracy_matdb_spark.sources.pyds import register_all

    register_all(spark)
    row = {
        "uuid": "ds-1", "n": 1, "symbols": "Cu", "species": ["Cu"],
        "cell": [[2.5, 0.0, 0.0], [0.0, 2.5, 0.0], [0.0, 0.0, 2.5]],
        "positions": [[0.0, 0.0, 0.0]], "pbc": [True, True, True],
        "ref_energy": 0.75, "ref_force": None, "params": {}, "source_file": "",
    }
    from tracy_matdb_spark.sources.hdf5io import CONFIG_SCHEMA

    write_atoms_h5(spark.createDataFrame([row], CONFIG_SCHEMA), str(tmp_path / "h5"))
    got = spark.read.format("atomsh5").load(str(tmp_path / "h5")).collect()
    assert len(got) == 1 and got[0]["uuid"] == "ds-1" and got[0]["ref_energy"] == 0.75


# ---------------------------------------------------------------------------
# WARC (sources/warc.py)
# ---------------------------------------------------------------------------


def test_warc_roundtrip_plain_and_gzip(tmp_path):
    from tracy_matdb_spark.sources.warc import parse_warc_bytes, write_warc

    recs = [
        {"url": "http://a/", "date": "2026-01-01T00:00:00Z", "body": "<p>x</p>"},
        {"url": "http://b/", "date": "2026-01-01T00:00:01Z", "status": 404, "body": "gone"},
    ]
    for gz, name in [(True, "x.warc.gz"), (False, "x.warc")]:
        p = tmp_path / name
        write_warc(str(p), recs, gzip_members=gz)
        rows = parse_warc_bytes(p.read_bytes(), name)
        assert [r["url"] for r in rows] == ["http://a/", "http://b/"]
        assert [r["http_status"] for r in rows] == [200, 404]
        assert rows[0]["body"] == "<p>x</p>"
        assert rows[0]["warc_type"] == "response"


def test_warc_gzip_members_are_individually_seekable(tmp_path):
    """The CC layout contract: each record is its own gzip member, so a
    reader can decompress any single member independently."""
    import gzip as _gzip
    import io as _io

    from tracy_matdb_spark.sources.warc import parse_warc_bytes, write_warc

    p = tmp_path / "seg.warc.gz"
    write_warc(
        str(p),
        [
            {"url": "http://a/", "date": "d", "body": "one"},
            {"url": "http://b/", "date": "d", "body": "two"},
        ],
    )
    data = p.read_bytes()
    # find the second member by scanning for the gzip magic after byte 0
    second = data.index(b"\x1f\x8b", 2)
    solo = _gzip.GzipFile(fileobj=_io.BytesIO(data[second:])).read()
    rows = parse_warc_bytes(solo, "member2")
    assert [r["url"] for r in rows] == ["http://b/"]


def test_warc_body_with_record_delimiter_inside(tmp_path):
    """Content-Length must drive the scan: a body containing the
    \\r\\n\\r\\n delimiter parses as ONE record, intact."""
    from tracy_matdb_spark.sources.warc import parse_warc_bytes, write_warc

    body = "before\r\n\r\nafter"
    p = tmp_path / "d.warc"
    write_warc(str(p), [{"url": "http://x/", "date": "d", "body": body}], gzip_members=False)
    rows = parse_warc_bytes(p.read_bytes(), "d.warc")
    assert len(rows) == 1
    assert rows[0]["body"] == body


def test_warc_truncated_input_fails_soft(tmp_path):
    """A truncated final record yields the complete prefix records, no
    exception (crawl segments do arrive truncated)."""
    from tracy_matdb_spark.sources.warc import parse_warc_bytes, write_warc

    p = tmp_path / "t.warc"
    write_warc(
        str(p),
        [
            {"url": "http://a/", "date": "d", "body": "complete"},
            {"url": "http://b/", "date": "d", "body": "will be cut"},
        ],
        gzip_members=False,
    )
    data = p.read_bytes()
    rows = parse_warc_bytes(data[: len(data) - 30], "t.warc")
    assert len(rows) >= 1
    assert rows[0]["body"] == "complete"
