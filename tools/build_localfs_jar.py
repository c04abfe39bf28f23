"""Rebuild tracy_matdb_spark/jvm/localfs.jar from the Java sources beside it.

    python tools/build_localfs_jar.py [out.jar]

Compiles `tracy_matdb_spark/jvm/*.java` with `javac --release 17` against
the hadoop-client-api jar that PySpark ships, then packs the classes with
`jar` (fixed entry timestamps, sorted entries) so the same JDK and sources
give the same jar. The manifest's `Created-By` records that JDK's version.
Default output: the committed jar.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "tracy_matdb_spark", "jvm")
JAR = os.path.join(JVM_DIR, "localfs.jar")
_ENTRY_DATE = "1980-01-01T00:00:02Z"


def _hadoop_api_jar() -> str:
    import pyspark

    (jar,) = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    return jar


def compile_classes(dest: str) -> list[str]:
    """javac the sources into `dest`; returns the .class paths relative to
    it, sorted."""
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    subprocess.run(
        ["javac", "--release", "17", "-cp", _hadoop_api_jar(), "-d", dest, *sources],
        check=True,
    )
    return sorted(
        os.path.relpath(p, dest) for p in glob.glob(os.path.join(dest, "**", "*.class"), recursive=True)
    )


def build(out: str = JAR) -> str:
    with tempfile.TemporaryDirectory() as classes:
        entries = compile_classes(classes)
        if os.path.exists(out):
            os.remove(out)
        subprocess.run(
            ["jar", "--create", f"--date={_ENTRY_DATE}", "--file", out,
             *(arg for e in entries for arg in ("-C", classes, e))],
            check=True,
        )
    return out


if __name__ == "__main__":
    print(build(*sys.argv[1:]))
