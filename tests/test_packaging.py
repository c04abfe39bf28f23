"""Packaging smoke tests.

The round-6 advisor found the vendored protobuf shim was excluded from
installs: ``packages.find`` skips ``vendor/protobuf_shim`` (its contents
are ``google.*`` modules, not ``tracy_matdb_spark.*``), so without the
``package-data`` stanza a built wheel would ship without the shim — and
``ensure_protobuf()`` would ImportError in exactly the protobuf-less
environments the shim exists for. The image has no ``wheel`` module, so
instead of building a real wheel we run setuptools' ``build_py`` (the
command that decides a wheel's payload) and assert the shim files are in
its output.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIM_REL = os.path.join("tracy_matdb_spark", "vendor", "protobuf_shim")


def _shim_sources() -> set[str]:
    out = set()
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, SHIM_REL)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), ROOT)
                out.add(rel)
    return out


def test_build_py_ships_protobuf_shim(tmp_path):
    build_lib = str(tmp_path / "lib")
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; from setuptools import setup; "
            f"sys.argv = ['setup.py', 'build_py', '--build-lib', {build_lib!r}]; "
            "setup()",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    want = _shim_sources()
    assert want, "shim sources missing from the working tree?"
    got = set()
    for dirpath, _dirs, files in os.walk(build_lib):
        for f in files:
            rel = os.path.relpath(os.path.join(dirpath, f), build_lib)
            if rel.startswith(SHIM_REL) and f.endswith(".py"):
                got.add(rel)
    missing = want - got
    assert not missing, f"shim files absent from build_py output: {sorted(missing)}"
    # ensure_protobuf tells an installed shim from a genuine protobuf by it
    assert os.path.isfile(os.path.join(build_lib, SHIM_REL, "google", "protobuf", "TRACY_MATDB_SHIM"))
    # get_session puts the local-filesystem jar on the driver classpath
    jvm_rel = os.path.join("tracy_matdb_spark", "jvm")
    java = [f for f in os.listdir(os.path.join(ROOT, jvm_rel)) if f.endswith(".java")]
    assert java, "local-filesystem sources missing from the working tree?"
    for name in ["localfs.jar", *java]:
        assert os.path.isfile(os.path.join(build_lib, jvm_rel, name)), name
    # the engine itself must be there too, not just the data files
    assert os.path.exists(
        os.path.join(build_lib, "tracy_matdb_spark", "vendor", "__init__.py")
    )
