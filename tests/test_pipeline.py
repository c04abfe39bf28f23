"""Pipeline (Controller/Database/Group) lifecycle tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tracy_matdb_spark.frames import literal_frame
from tracy_matdb_spark.plans.pipeline import Pipeline, builtin_seeds
from tracy_matdb_spark.plans.spec import expand_grid, read_spec, special_values

SPEC = {
    "ran_seed": 42,
    "databases": {
        "demo": {
            "steps": [
                {"type": "distortion", "name": "dist", "params": {"nconfigs": 5, "sigma*": [0.02, 0.05]}},
                {"type": "vacancy", "name": "vac", "splittable": False},
            ]
        }
    },
}


def test_special_values():
    assert special_values("linspace(0,1,3)") == [0.0, 0.5, 1.0]
    assert special_values("range(0,3)") == [0.0, 1.0, 2.0]
    assert special_values("range(0,1,0.5)") == [0.0, 0.5]
    assert len(special_values("random:4")) == 4
    assert special_values("random:4") == special_values("random:4")  # deterministic
    assert special_values(7) == 7
    vals = special_values("logspace(0,2,3)")
    assert vals == [1.0, 10.0, 100.0]


def test_expand_grid_suffixes():
    combos = expand_grid({"nconfigs": 5, "sigma*": [0.02, 0.05], "lat*": ["fcc", "bcc"]})
    assert len(combos) == 4
    suffixes = [s for s, _ in combos]
    assert suffixes == ["lat-fcc-sigma-0.02", "lat-fcc-sigma-0.05", "lat-bcc-sigma-0.02", "lat-bcc-sigma-0.05"]
    assert all(c["nconfigs"] == 5 for _, c in combos)


def test_spec_link_includes(tmp_path):
    child = tmp_path / "calc.yml"
    child.write_text("kind: vasp\nencut: 400\n")
    parent = tmp_path / "main.yml"
    parent.write_text("name: demo\ncalculator: 'spec:calc.yml'\n")
    spec = read_spec(str(parent))
    assert spec["calculator"] == {"kind": "vasp", "encut": 400}


def test_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "catalog")
    p = Pipeline(SPEC, out)
    p.setup(spark)

    # grid expansion -> two distortion groups + one vacancy group
    assert p.find(spark, "demo/dist-*") == ["demo/dist-sigma-0.02", "demo/dist-sigma-0.05"]
    assert p.find(spark, "*/vac") == ["demo/vac"]

    status = {r["group_name"]: r for r in p.status(spark).collect()}
    assert status["dist-sigma-0.02"]["n_configs"] == 15  # 3 seeds x 5
    assert status["dist-sigma-0.05"]["n_configs"] == 15
    # vacancy is seeded by the distortion rset (30 configs carrying n_atoms)
    assert status["vac"]["n_configs"] > 0
    for r in status.values():
        assert r["n_configs"] == r["n_unique"]

    # deterministic: rerun produces identical group hashes
    h1 = {(r["database"], r["group_name"]): r["group_hash"] for r in p.group_hashes(spark).collect()}
    p2 = Pipeline(SPEC, str(tmp_path / "catalog2"))
    p2.setup(spark)
    h2 = {(r["database"], r["group_name"]): r["group_hash"] for r in p2.group_hashes(spark).collect()}
    assert h1 == h2
    assert p.verify(spark, h1)

    # splits: splittable groups partitioned, unsplittable all-train
    assignments = p.split(spark, {"A": 0.4})
    pdf = assignments.toPandas()
    cfg = p.configurations(spark).toPandas()
    vac_uuids = set(cfg[cfg.group_name == "vac"].uuid)
    vac_rows = pdf[pdf.uuid.isin(vac_uuids)]
    assert (vac_rows.label == "train").all()
    dist_rows = pdf[~pdf.uuid.isin(vac_uuids)]
    assert set(dist_rows.label) == {"train", "holdout", "super"}

    # partition layout is the catalog: group dirs exist on disk
    assert os.path.isdir(os.path.join(out, "configurations", "database=demo", "group_name=vac"))


def test_special_functions_variants():
    import math

    import pytest

    from tracy_matdb_spark.plans.spec import special_functions

    assert special_functions("math:sqrt", 16.0) == 4.0
    assert special_functions({"func": "linalg:det", "reshape": [2, 2]}, [2, 0, 0, 3]) == 6.0
    assert special_functions("numpy:prod", [2, 3, 4]) == 24
    with pytest.raises(ValueError):
        special_functions("nosuchmod:fn", 1)
    with pytest.raises(ValueError):
        special_functions(12, 1)


def test_expand_grid_suffix_directives():
    from tracy_matdb_spark.plans.spec import expand_grid

    # format-string directive
    combos = expand_grid({"temp*": [100, 200], "temp_suffix": "T{0}K"})
    assert [s for s, _ in combos] == ["tem-T100K", "tem-T200K"]
    # indexed list directive
    combos = expand_grid({"temp*": [100, 200], "temp_suffix*": ["lo", "hi"]})
    assert [s for s, _ in combos] == ["tem-lo", "tem-hi"]
    # _suffix* keys must not become grid dimensions
    assert all(set(c) == {"temp", "temp_suffix"} or set(c) == {"temp"} for _, c in combos)
    # default naming unchanged without directives
    combos = expand_grid({"sigma*": [0.02, 0.05]})
    assert [s for s, _ in combos] == ["sigma-0.02", "sigma-0.05"]


def test_finalize_snapshot_versions(spark, tmp_path):
    from tracy_matdb_spark.plans import provenance as P
    from tracy_matdb_spark.plans.pipeline import Pipeline

    spec = {
        "ran_seed": 5,
        "databases": {
            "m": {"steps": [{"type": "vacancy", "name": "v", "params": {}, "chain": False}]}
        },
    }
    import os

    d = str(tmp_path / "pipe")
    p = Pipeline(spec, d)
    p.setup(spark)
    s1 = p.finalize(spark)
    s2 = p.finalize(spark)
    assert s1.count() == s2.count() == 1
    assert P.list_versions(os.path.join(d, "final")) == [1, 2]
    # dfilter narrows the snapshot
    assert p.finalize(spark, dfilter="nomatch*").count() == 0


# distortion over a sigma grid, chained into substitution and vacancy
# (the materials_build workload's shape at a few configs per seed)
CHAINED_SPEC = {
    "ran_seed": 42,
    "databases": {
        "alloy": {
            "steps": [
                {"type": "distortion", "name": "dist", "params": {"nconfigs": 4, "sigma*": [0.02, 0.05]}},
                {"type": "substitution", "name": "sub", "params": {"nconfigs": 3}},
                {"type": "vacancy", "name": "vac"},
            ]
        }
    },
}

# recorded from the catalog written when every step re-ran its lineage
# from Python-built seed frames: group_name -> (rows, group_hash, content
# fingerprint = bit_xor of xxhash64 over every column, by column name)
CHAINED_GOLDEN = {
    "dist-sigma-0.02": (12, 1082554893079044268, 3089206765250482047),
    "dist-sigma-0.05": (12, 763021394379604615, -8788927857925905575),
    "sub": (72, 751803135064375510, 3504731529253978749),
    "vac": (56, 362008172139851565, -7006098242347063912),
}


def test_chained_setup_matches_golden(spark, tmp_path):
    p = Pipeline(CHAINED_SPEC, str(tmp_path / "catalog"))
    p.setup(spark)
    hashes = {r["group_name"]: (r["n"], r["group_hash"]) for r in p.group_hashes(spark).collect()}
    got = {}
    for name, (n, h) in hashes.items():
        group = spark.read.parquet(os.path.join(p.out_dir, "configurations", "database=alloy", f"group_name={name}"))
        cols = ", ".join(sorted(group.columns))
        got[name] = (n, h, group.select(F.expr(f"bit_xor(xxhash64({cols}))")).first()[0])
    assert got == CHAINED_GOLDEN


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_setup_and_literal_frames_scan_no_python_rdd(spark, tmp_path, monkeypatch):
    """Classic createDataFrame(list) scans an ExistingRDD whose tasks run a
    Python worker; nothing setup writes may carry one."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    write_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *args, **kwargs):
        plans.append(_plan(self._df))
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    Pipeline(CHAINED_SPEC, str(tmp_path / "catalog")).setup(spark)
    assert len(plans) == 5  # four groups + the groups table
    plans += [_plan(builtin_seeds(spark)), _plan(literal_frame(spark, [("a", 1)], "s string, n int"))]
    for plan in plans:
        assert "ExistingRDD" not in plan and "applySchemaToPythonRDD" not in plan, plan


@pytest.mark.parametrize("partitions", [1, 3])
def test_literal_frame_matches_create_dataframe(spark, partitions):
    rows = [("fcc", 4, 2.025, True), ("bcc", None, -1.6, False), ("sc", 1, 3.25, None)]
    schema = "seed_id string, n_atoms int, b00 double, ok boolean"
    df = literal_frame(spark, rows, schema, partitions=partitions)
    ref = spark.createDataFrame(rows, schema)
    assert df.dtypes == ref.dtypes
    assert df.collect() == ref.collect()
    assert df.rdd.getNumPartitions() == partitions
    empty = literal_frame(spark, [], schema)
    assert empty.dtypes == ref.dtypes and empty.count() == 0


def test_unchained_step_leaves_seeds_to_the_next_step(spark, tmp_path):
    """chain: False keeps the step's output out of the next step's seeds:
    the vacancy step enumerates the built-in seed cells (4, 2 and 1 atoms
    -> 6 + 1 + 0 pairs), not the 15 distorted configs."""
    spec = {
        "ran_seed": 3,
        "databases": {
            "d": {
                "steps": [
                    {"type": "distortion", "name": "dist", "params": {"nconfigs": 5}, "chain": False},
                    {"type": "vacancy", "name": "vac"},
                ]
            }
        },
    }
    p = Pipeline(spec, str(tmp_path / "catalog"))
    p.setup(spark)
    status = {r["group_name"]: r["n_configs"] for r in p.status(spark).collect()}
    assert status == {"dist": 15, "vac": 7}
    vac = spark.read.parquet(os.path.join(p.out_dir, "configurations", "database=d", "group_name=vac"))
    assert {r["seed_id"] for r in vac.select("seed_id").distinct().collect()} == {"fcc", "bcc"}
