"""The driver JVM's class-data-sharing archive (tracy_matdb_spark/cds.py):
recorded by the first session for a key, published atomically, mapped
by the next, and never printed to stdout. Each session is its own
process with `XDG_CACHE_HOME` under `tmp_path`."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from tracy_matdb_spark import cds
from tracy_matdb_spark.session import LOCALFS_JAR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one session; argv: repo root, extra_conf (JSON). Prints the archive
# record and then its own last line.
_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from tracy_matdb_spark.session import get_session, jvm_archive
spark = get_session("cds-check", cpus=1, extra_conf=json.loads(sys.argv[2]))
assert spark.range(100).selectExpr("sum(id)").collect()[0][0] == 4950
print(json.dumps({**jvm_archive(), "probe": spark._jvm.System.getProperty("tracy.cds.probe")}))
print("END")
"""


def _session(cache, **conf) -> dict:
    conf = {"spark.driver.extraJavaOptions": "-Dtracy.cds.probe=kept", **conf}
    env = {**os.environ, "XDG_CACHE_HOME": str(cache), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, ROOT, json.dumps(conf)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert lines[-1] == "END", lines[-5:]  # nothing the JVM prints at exit follows it
    assert not [line for line in lines if "][cds" in line]
    record = json.loads(lines[-2])
    assert record.pop("probe") == "kept"  # the caller's extraJavaOptions reach the JVM
    return record


def test_archive_is_recorded_published_and_mapped(tmp_path):
    cache = tmp_path / "cache"
    jvm = cache / "tracy_matdb_spark" / "jvm"

    first = _session(cache)
    assert first["state"] == "recording", first
    archive = first["archive"]
    # published; no temp archive, lock or log left behind
    assert sorted(p.name for p in jvm.iterdir() if p.is_file()) == [os.path.basename(archive)]

    assert _session(cache) == {"state": "mapped", "archive": archive, "reason": ""}

    # another class path is another key; the first archive is untouched
    before = os.stat(archive)
    jar = tmp_path / "extra.jar"
    shutil.copy(LOCALFS_JAR, jar)
    other = _session(cache, **{"spark.driver.extraClassPath": str(jar)})
    assert other["state"] == "recording" and other["archive"] != archive, other
    after = os.stat(archive)
    assert (after.st_ino, after.st_size, after.st_mtime_ns) == (before.st_ino, before.st_size, before.st_mtime_ns)

    # an archive the JVM refuses is reported with its reason, not as mapped,
    # and removed so that the next session records a fresh one
    os.chmod(archive, 0o644)
    with open(archive, "wb") as fh:
        fh.write(b"\0" * 4096)
    refused = _session(cache)
    assert refused["state"] == "off" and "magic" in refused["reason"], refused
    assert not os.path.exists(archive)
    shutil.rmtree(cache)  # ~150 MB per archive


def test_unwritable_cache_runs_without_archive(tmp_path):
    blocker = tmp_path / "file"
    blocker.write_text("")
    record = _session(blocker)
    assert record["state"] == "off" and record["archive"] is None and record["reason"], record


def _reaped_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", ""])
    proc.wait()
    return proc.pid


def test_sweep_and_evict_bound_the_cache(tmp_path):
    dead, alive = _reaped_pid(), os.getpid()
    for name in (f"k.{dead}.jsa.tmp", f"k.{dead}.log", f"k.{alive}.jsa.tmp", f"k.{alive}.log"):
        (tmp_path / name).write_text("")
    (tmp_path / "dead.lock").write_text(str(dead))
    (tmp_path / "alive.lock").write_text(str(alive))
    cds._sweep(str(tmp_path))
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        ["alive.lock", f"k.{alive}.jsa.tmp", f"k.{alive}.log"]
    )

    for i in range(cds.KEEP + 2):
        path = tmp_path / f"a{i}.jsa"
        path.write_text("")
        os.utime(path, (1000 + i, 1000 + i))
    cds._evict(str(tmp_path))
    assert sorted(p.name for p in tmp_path.glob("*.jsa")) == [f"a{i}.jsa" for i in range(2, cds.KEEP + 2)]

    # a lock held by a live process is not taken; a dead holder's is
    assert not cds._lock(str(tmp_path / "alive.lock"))
    (tmp_path / "dead.lock").write_text(str(dead))
    assert cds._lock(str(tmp_path / "dead.lock"))
    assert (tmp_path / "dead.lock").read_text() == str(alive)
