"""Pipeline runner: the reference's Controller/Database/Group lifecycle.

Maps SURVEY.md §3.1 onto Spark:
- Controller (matdb/database/__init__.py:1585-2007)  -> Pipeline: parses a
  spec dict (plans/spec.py), owns the output catalog directory.
- Database (…:1159-1492) -> ordered list of steps with dependency gating:
  step k+1's seeds are step k's result set (`prev.rset`, …:385-394),
  read back from the group directories step k wrote, so no step's
  lineage is re-run by a later one.
- Group (…:51-1105)      -> one generator transformation per parameter-grid
  combo, output written as Parquet partitioned by (database, group_name) —
  the partition layout *is* the catalog, so `find`/`status` queries prune
  partitions instead of walking directory trees.

State (the reference's folders/pkl files) becomes tables:
    configurations/  database=…/group_name=…/part-*.parquet
    groups.parquet   one row per group instance (uuid, params, hash)
`status()` is an aggregation, `find()` a metadata filter, `verify()` an
order-independent hash compare (…:1965-1976).
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tracy_matdb_spark.frames import literal_frame
from tracy_matdb_spark.operators import generators as G
from tracy_matdb_spark.operators.split import assign_split
from tracy_matdb_spark.plans import provenance as P
from tracy_matdb_spark.plans.spec import expand_grid

CANON_SEED_COLS = ["seed_id", "n_atoms"] + [f"b{j}{k}" for j in range(3) for k in range(3)]


def builtin_seeds(spark: SparkSession) -> DataFrame:
    rows = []
    for (sid, cell), n in zip(G.SEED_CELLS, (4, 2, 1)):
        rows.append((sid, n, *[v for r in cell for v in r]))
    schema = "seed_id string, n_atoms int, " + ", ".join(
        f"b{j}{k} double" for j in range(3) for k in range(3)
    )
    return literal_frame(spark, rows, schema, partitions=len(rows))  # one task per seed, see distortion_transform


def _with_identity(df: DataFrame, database: str, group_name: str) -> DataFrame:
    uid = F.md5(F.concat_ws("|", F.lit(database), F.lit(group_name), "seed_id", F.col("config_id").cast("string")))
    return df.withColumn("uuid", uid).withColumn("database", F.lit(database)).withColumn(
        "group_name", F.lit(group_name)
    )


class Pipeline:
    """Spec-driven pipeline over generator transformations."""

    def __init__(self, spec: dict, out_dir: str):
        self.spec = spec
        self.out_dir = out_dir
        self.ran_seed = int(spec.get("ran_seed", 42))
        self.groups: list[dict[str, Any]] = []

    # -- step execution -----------------------------------------------------

    def _run_step(self, spark: SparkSession, seeds: DataFrame, step: dict, suffix: str, params: dict,
                  database: str) -> tuple[str, DataFrame]:
        kind = step["type"]
        name = step.get("name", kind) + (f"-{suffix}" if suffix else "")
        nconfigs = int(params.get("nconfigs", 10))
        if kind == "manual":
            out = seeds.select(
                "seed_id", F.lit(1).alias("config_id"), *[c for c in CANON_SEED_COLS if c != "seed_id"]
            ).withColumnRenamed("n_atoms", "n_atoms")
        elif kind == "distortion":
            sigma = float(params.get("sigma", 0.05))
            out = G.distortion_transform(
                seeds, nconfigs=nconfigs, sigma=sigma, ran_seed=self.ran_seed, group=name,
                carry_cols=("n_atoms",),
            )
        elif kind == "vacancy":
            out = G.vacancy_transform(seeds)
        elif kind == "substitution":
            frac_a = float(params.get("frac_a", 0.5))
            out = G.substitution_transform(seeds, nconfigs=nconfigs, frac_a=frac_a, ran_seed=self.ran_seed)
        else:
            raise ValueError(f"unknown step type: {kind}")
        # FQDN transform hooks applied to every created config
        # (database/__init__.py:77-79, 822-826)
        from tracy_matdb_spark.functions.registry import apply_transforms

        out = apply_transforms(out, step.get("transforms"))
        return name, _with_identity(out, database, name)

    def setup(self, spark: SparkSession) -> None:
        """Run every database's steps (gated, grid-expanded) and materialize
        the configurations catalog.

        A chained step's seeds are read back from the group directories
        the previous step wrote — its result set as stored, the
        reference's `prev.rset` — so every generator runs exactly once
        (seeding from the lazy union of the step's DataFrames would re-run
        the whole lineage inside each later write)."""
        cfg_path = os.path.join(self.out_dir, "configurations")
        for db_name, db_spec in self.spec.get("databases", {}).items():
            seeds = builtin_seeds(spark)
            for step in db_spec.get("steps", []):
                group_dirs = []
                for suffix, params in expand_grid(step.get("params", {}), seed=self.ran_seed):
                    name, out = self._run_step(spark, seeds, step, suffix, params, db_name)
                    group_dir = os.path.join(cfg_path, f"database={db_name}", f"group_name={name}")
                    # the partition directories carry database/group_name;
                    # storing them again as data columns would shadow the
                    # partition columns on read
                    out.drop("database", "group_name").write.mode("overwrite").parquet(group_dir)
                    # provenance sidecar per group write (dbcat semantics,
                    # matdb/utility.py:933-983)
                    P.write_manifest(
                        group_dir,
                        sources=[],
                        database=db_name,
                        group_name=name,
                        group_type=step["type"],
                        params=params,
                        ran_seed=self.ran_seed,
                    )
                    group_row = {
                        "database": db_name,
                        "group_name": name,
                        "group_type": step["type"],
                        "params_json": json.dumps(params, sort_keys=True),
                        "trainable": bool(step.get("trainable", True)),
                        "splittable": bool(step.get("splittable", True)),
                    }
                    self.groups.append(group_row)
                    group_dirs.append(group_dir)
                # dependency chaining: this step's written groups seed the
                # next step. Generator outputs carry c00..c22 cells ->
                # renamed to b** for the next generator; an output without
                # a cell (substitution) leaves the seeds as they were.
                if group_dirs and step.get("chain", True):
                    rset = spark.read.parquet(*group_dirs).withColumnsRenamed(
                        {f"c{j}{k}": f"b{j}{k}" for j in range(3) for k in range(3)}
                    )
                    if set(CANON_SEED_COLS) <= set(rset.columns):
                        seeds = rset.select(
                            F.col("uuid").alias("seed_id"), *[c for c in CANON_SEED_COLS if c != "seed_id"]
                        )
        groups_df = literal_frame(
            spark,
            [tuple(g.values()) for g in self.groups],
            "database string, group_name string, group_type string, params_json string, trainable boolean, splittable boolean",
        )
        groups_path = os.path.join(self.out_dir, "groups")
        groups_df.write.mode("overwrite").parquet(groups_path)
        P.write_manifest(
            groups_path,
            sources=[
                os.path.join(cfg_path, f"database={g['database']}", f"group_name={g['group_name']}")
                for g in self.groups
            ],
            ran_seed=self.ran_seed,
        )

    # -- catalog queries ----------------------------------------------------

    def configurations(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", os.path.join(self.out_dir, "configurations")).parquet(
            os.path.join(self.out_dir, "configurations")
        )

    def find(self, spark: SparkSession, pattern: str) -> list[str]:
        """Glob lookup over database/group paths (Controller.find,
        matdb/database/__init__.py:1710-1786) as a metadata query.

        The glob is compiled to a regex evaluated BY THE ENGINE (rlike on
        the groups table) — only matches reach the driver, so the catalog
        can hold millions of groups without a driver-side materialize."""
        groups = spark.read.parquet(os.path.join(self.out_dir, "groups"))
        regex = "^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch) for ch in pattern
        ) + "$"
        matched = (
            groups.select(F.concat_ws("/", "database", "group_name").alias("path"))
            .filter(F.col("path").rlike(regex))
            .collect()
        )
        return sorted(r["path"] for r in matched)

    def status(self, spark: SparkSession) -> DataFrame:
        """Per-group config counts (Database.status, …:1328-1347)."""
        return (
            self.configurations(spark)
            .groupBy("database", "group_name")
            .agg(F.count(F.lit(1)).alias("n_configs"), F.countDistinct("uuid").alias("n_unique"))
            .orderBy("database", "group_name")
        )

    def group_hashes(self, spark: SparkSession) -> DataFrame:
        """Order-independent per-group content hash (hash_group/verify_hash,
        …:461-470, 1965-1976)."""
        cfg = self.configurations(spark)
        h = F.expr(
            "cast(conv(substring(md5(concat_ws('|', uuid, cast(config_id as string))), 1, 15), 16, 10) as bigint)"
        )
        return (
            cfg.select("database", "group_name", h.alias("h"))
            .groupBy("database", "group_name")
            .agg(F.expr("bit_xor(h)").alias("group_hash"), F.count(F.lit(1)).alias("n"))
        )

    def verify(self, spark: SparkSession, expected: dict[tuple[str, str], int]) -> bool:
        got = {
            (r["database"], r["group_name"]): r["group_hash"] for r in self.group_hashes(spark).collect()
        }
        return got == expected

    def split(self, spark: SparkSession, splits: dict[str, float], recalc: int = 0) -> DataFrame:
        """Persisted reproducible splits over all trainable configurations;
        unsplittable groups go wholly to train (…:1414-1419).

        Re-split semantics (database/utility.py:76-87): each materialized
        split is a `version=<k>` partition with its own manifest. With
        recalc <= 0 an existing latest version is returned as-is (the
        idfile memoization); recalc > 0 writes version k+1 and leaves
        prior versions archived in place."""
        root = os.path.join(self.out_dir, "split_assignments")
        versions = P.list_versions(root)
        if versions and recalc <= 0:
            return spark.read.parquet(P.version_dir(root, versions[-1]))
        cfg = self.configurations(spark)
        groups = spark.read.parquet(os.path.join(self.out_dir, "groups"))
        annotated = cfg.join(
            F.broadcast(groups.select("database", "group_name", "trainable", "splittable")),
            ["database", "group_name"],
        )
        out = None
        for split_name, p in sorted(splits.items()):
            splittable = annotated.filter(F.col("trainable") & F.col("splittable")).select("uuid")
            assigned = assign_split(splittable, "uuid", p, seed=self.ran_seed).select(
                "uuid", F.col("label")
            )
            forced = (
                annotated.filter(F.col("trainable") & ~F.col("splittable"))
                .select("uuid")
                .withColumn("label", F.lit("train"))
            )
            part = assigned.unionByName(forced).withColumn("split_name", F.lit(split_name))
            out = part if out is None else out.unionByName(part)
        v = P.next_version(root)
        vdir = P.version_dir(root, v)
        out.write.mode("overwrite").parquet(vdir)
        P.write_manifest(
            vdir,
            sources=[os.path.join(self.out_dir, "groups")],
            splits=splits,
            ran_seed=self.ran_seed,
            split_version=v,
        )
        return spark.read.parquet(vdir)

    def finalize(self, spark: SparkSession, dfilter: str | None = None) -> DataFrame:
        """Whole-catalog snapshot (Controller.finalize,
        matdb/database/__init__.py:1978-2006, 1466-1492): per-group row
        counts + content hashes, optionally database-filtered, written as
        a versioned `final/version=<k>` table whose manifest chains the
        groups table and every split version. The reference writes
        final_<ver>.h5; the snapshot table + manifest carries the same
        provenance in engine-native form."""
        groups = spark.read.parquet(os.path.join(self.out_dir, "groups"))
        hashes = self.group_hashes(spark)
        snap = groups.join(hashes, ["database", "group_name"], "left")
        if dfilter:
            regex = "^" + "".join(
                ".*" if ch == "*" else "." if ch == "?" else re.escape(ch) for ch in dfilter
            ) + "$"
            snap = snap.filter(F.col("database").rlike(regex))
        root = os.path.join(self.out_dir, "final")
        v = P.next_version(root)
        vdir = P.version_dir(root, v)
        snap.write.mode("overwrite").parquet(vdir)
        split_root = os.path.join(self.out_dir, "split_assignments")
        P.write_manifest(
            vdir,
            sources=[os.path.join(self.out_dir, "groups")]
            + [P.version_dir(split_root, sv) for sv in P.list_versions(split_root)],
            dfilter=dfilter,
            ran_seed=self.ran_seed,
            snapshot_version=v,
        )
        return spark.read.parquet(vdir)

    def split_versions(self, spark: SparkSession) -> list[dict]:
        """Archived split versions with their manifests (the reference's
        uuid-suffixed prior id-files, database/utility.py:80-87)."""
        root = os.path.join(self.out_dir, "split_assignments")
        return [
            {"split_version": v, **(P.read_manifest(P.version_dir(root, v)) or {})}
            for v in P.list_versions(root)
        ]
