"""The fork-free local filesystem (tracy_matdb_spark/jvm, wired by
session.get_session): same results as Hadoop's RawLocalFileSystem, no
`chmod`/`readlink` child process, and the committed jar is its source."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest

from tracy_matdb_spark.plans.provenance import MANIFEST_NAME
from tracy_matdb_spark.session import LOCALFS_JAR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _raw_fs(spark, cls):
    fs = cls()
    fs.initialize(spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    return fs


@pytest.fixture(scope="module")
def raw_pair(spark):
    jvm = spark._jvm
    return (
        _raw_fs(spark, jvm.tracy_matdb_spark.jvm.NioRawLocalFileSystem),
        _raw_fs(spark, jvm.org.apache.hadoop.fs.RawLocalFileSystem),
    )


def test_session_serves_file_scheme_with_nio_classes(spark):
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == "tracy_matdb_spark.jvm.NioLocalFileSystem"
    assert fs.getRawFileSystem().getClass().getName() == "tracy_matdb_spark.jvm.NioRawLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "tracy_matdb_spark.jvm.NioLocalFs"


@pytest.mark.parametrize("kind", ["file", "dir", "setgid-dir"])
@pytest.mark.parametrize("mode", [0o600, 0o644, 0o700, 0o755, 0o777, 0o1777], ids="{:04o}".format)
def test_set_permission_matches_stock(spark, raw_pair, tmp_path, kind, mode):
    """Same resulting mode as the stock class, which runs `chmod %04o`
    (chmod keeps a directory's setgid bit under that form)."""
    jvm = spark._jvm
    got = []
    for i, fs in enumerate(raw_pair):
        p = tmp_path / f"t{i}"
        if kind == "file":
            p.write_bytes(b"x")
            os.chmod(p, 0o640)
        else:
            p.mkdir()
            os.chmod(p, 0o2750 if kind == "setgid-dir" else 0o750)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"))
        got.append(os.stat(p).st_mode)
    assert got[0] == got[1], [oct(m) for m in got]


def _link_status(spark, fs, path):
    try:
        st = fs.getFileLinkStatus(spark._jvm.org.apache.hadoop.fs.Path(path))
    except Exception as e:  # py4j wraps the Java exception
        return ("raises", e.java_exception.getClass().getName())
    target = st.getSymlink().toString() if st.isSymlink() else None
    return (st.getPath().toString(), st.isSymlink(), target, st.getLen(), st.isDirectory())


@pytest.mark.parametrize("as_uri", [False, True])
@pytest.mark.parametrize("kind", ["file", "dir", "symlink", "dangling", "missing"])
def test_get_file_link_status_matches_stock(spark, raw_pair, tmp_path, kind, as_uri):
    (tmp_path / "f").write_bytes(b"abc")
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "symlink")
    os.symlink(tmp_path / "nowhere", tmp_path / "dangling")
    path = {"file": "f", "dir": "d", "symlink": "symlink", "dangling": "dangling", "missing": "missing"}
    p = tmp_path / path[kind]
    p = p.as_uri() if as_uri else str(p)
    nio, stock = (_link_status(spark, fs, p) for fs in raw_pair)
    assert nio == stock
    if kind == "symlink" and not as_uri:
        assert nio[1]  # the link itself is reported, not its target


# one local session writing parquet, running a checkpointed 2-drop ingest
# and a Pipeline.setup; argv: repo root, output dir, Pipeline spec (JSON)
_SPAWN_CHILD = """
import json, os, sys
os.umask(0o022)
root, out, spec = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
sys.path.insert(0, root)
from pyspark.sql import types as T
from tracy_matdb_spark.plans.pipeline import Pipeline
from tracy_matdb_spark.session import LOCALFS_JAR, get_session, jvm_archive
from tracy_matdb_spark.streaming.ingest import incremental_ingest

# a caller's class path is kept, after the jar
extra = os.path.join(out, "extra-classes")
spark = get_session("spawn-check", cpus=2, extra_conf={"spark.driver.extraClassPath": extra})
assert spark.sparkContext.getConf().get("spark.driver.extraClassPath") == os.pathsep.join([LOCALFS_JAR, extra])
assert jvm_archive()["state"] == "off"  # no class-data archive for a per-run class path
spark.range(10).write.parquet(f"{out}/table")
schema = T.StructType([T.StructField("auid", T.StringType()), T.StructField("energy", T.DoubleType())])
for i in range(2):
    spark.createDataFrame([(f"k{i}", 1.0), ("k", 2.0)], schema).write.parquet(f"{out}/drops/d{i}")
    incremental_ingest(
        spark, f"{out}/drops", f"{out}/target", schema, checkpoint_dir=f"{out}/ckpt"
    ).awaitTermination()
assert sorted(r.auid for r in spark.read.parquet(f"{out}/target").collect()) == ["k", "k0", "k1"]
Pipeline(spec, f"{out}/catalog").setup(spark)
spark.stop()
"""


def test_file_operations_spawn_no_chmod_or_readlink(tmp_path):
    """A session behind logging `chmod`/`readlink` wrappers on PATH runs a
    parquet write, a checkpointed ingest and a Pipeline.setup without
    calling either, and writes the same modes and .crc files Hadoop's
    stock local filesystem does."""
    from test_pipeline import SPEC

    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "spawned.log"
    for name in ("chmod", "readlink"):
        wrapper = bin_dir / name
        wrapper.write_text(f'#!/bin/sh\necho "{name} $*" >> {log}\nexec {shutil.which(name)} "$@"\n')
        wrapper.chmod(0o755)
    out = tmp_path / "out"
    # a regular file as the cache directory: the per-run class path would
    # record an archive under a key no later session uses
    no_cache = tmp_path / "no-cache"
    no_cache.write_text("")
    env = {**os.environ, "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}", "SPARK_GRAFT_DRIVER_MEM": "1g",
           "XDG_CACHE_HOME": str(no_cache)}
    proc = subprocess.run(
        [sys.executable, "-c", _SPAWN_CHILD, ROOT, str(out), json.dumps(SPEC)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not log.exists(), log.read_text()[:2000]

    for dirpath, dirs, files in os.walk(out):
        assert stat.S_IMODE(os.stat(dirpath).st_mode) == 0o755, dirpath
        for f in files:
            assert stat.S_IMODE(os.stat(os.path.join(dirpath, f)).st_mode) == 0o644, (dirpath, f)
            if not f.startswith(".") and f != MANIFEST_NAME:  # manifests are written by Python
                assert f".{f}.crc" in files, (dirpath, f)
    for log_dir in ("sources/0", "offsets", "commits"):
        assert sorted(os.listdir(out / "ckpt" / log_dir)) == [".0.crc", ".1.crc", "0", "1"]


# get_session in a JVM started without the jar (a bare builder session,
# active and then stopped) must still read and write file: paths, through
# FileSystem and through the FileContext checkpoint manager; argv: repo
# root, output dir
_RUNNING_JVM_CHILD = """
import sys
root, out = sys.argv[1], sys.argv[2]
sys.path.insert(0, root)
from pyspark.sql import SparkSession, types as T
from tracy_matdb_spark.session import get_session
from tracy_matdb_spark.streaming.ingest import incremental_ingest

schema = T.StructType([T.StructField("auid", T.StringType()), T.StructField("energy", T.DoubleType())])
bare = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
for run in ("active", "stopped"):
    if run == "stopped":
        bare.stop()
    spark = get_session("running-jvm", cpus=1)
    assert (spark is bare) == (run == "active")
    spark.range(3).write.parquet(f"{out}/{run}/table")
    assert spark.read.parquet(f"{out}/{run}/table").count() == 3
    spark.createDataFrame([("k", 1.0)], schema).write.parquet(f"{out}/{run}/drops/d0")
    incremental_ingest(
        spark, f"{out}/{run}/drops", f"{out}/{run}/target", schema, checkpoint_dir=f"{out}/{run}/ckpt"
    ).awaitTermination()
    assert [r.auid for r in spark.read.parquet(f"{out}/{run}/target").collect()] == ["k"]
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert not fs.getClass().getName().startswith("tracy_matdb_spark."), fs.getClass().getName()
spark.stop()
"""


def test_session_in_running_jvm_keeps_stock_filesystem(tmp_path):
    """A JVM that was started without the jar cannot load its classes, so
    get_session leaves `file:` on Hadoop's own filesystem there."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNING_JVM_CHILD, ROOT, str(tmp_path / "out")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


def _javac_version() -> str | None:
    if shutil.which("javac") is None:
        return None
    out = subprocess.run(["javac", "-version"], capture_output=True, text=True, check=True)
    return (out.stdout or out.stderr).split()[1]


def _jar_jdk_version() -> str:
    with zipfile.ZipFile(LOCALFS_JAR) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
    return next(line.split()[1] for line in manifest.splitlines() if line.startswith("Created-By:"))


@pytest.mark.skipif(
    _javac_version() != _jar_jdk_version(),
    reason="needs the JDK the jar was built with: another javac may emit other bytes",
)
def test_committed_jar_is_built_from_source(tmp_path):
    from tools.build_localfs_jar import compile_classes

    built = compile_classes(str(tmp_path))
    with zipfile.ZipFile(LOCALFS_JAR) as jar:
        assert sorted(n for n in jar.namelist() if n.endswith(".class")) == built
        for name in built:
            assert jar.read(name) == (tmp_path / name).read_bytes(), name
