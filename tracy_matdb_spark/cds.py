"""Class-data-sharing archive for the driver JVM (README: JVM class-data
archive).

Most of a stock session start is the JVM loading, verifying and linking
the same ~12k classes. JDK 17 can dump the classes a JVM loaded into a
dynamic CDS archive at exit (`-XX:ArchiveClassesAtExit`, JEP 350) and
map that archive into the next JVM (`-XX:SharedArchiveFile`, JEP 310),
which roughly halves JVM start plus the first job.

An archive maps only into the JDK build and the exact class path it was
recorded with, so archives are cached under a key that hashes both. For
each JVM that `session.get_session` launches, `prepare` picks a state:

- ``mapped``: the key's archive exists and the JVM maps it. Whether it
  really mapped is read back from the JVM's own CDS log after launch;
  an archive the JVM refused is reported ``off`` with the JVM's reason
  and removed, so the next session records a fresh one.
- ``recording``: no archive exists and this process holds the key's
  lock. The JVM dumps one at exit and an `atexit` handler publishes it
  with `os.replace` once the JVM has exited cleanly.
- ``off``: nothing is passed to the JVM; ``reason`` says why.
"""

from __future__ import annotations

import atexit
import contextlib
import dataclasses
import glob
import hashlib
import json
import os
import shutil
import subprocess

KEEP = 3  # archives kept in the cache (~140-180 MB each), newest use first
EXIT_WAIT_S = 120  # bound on the recording JVM's exit, dump included
# characters that would split or re-scope the JVM flags that carry a
# cache path (`-XX:SharedArchiveFile` takes `base:top`, `-Xlog` uses
# `:` and `,` as separators)
_UNSAFE = set(" \t\n\"'\\:,")
# a line the JVM logs when it maps no dynamic archive
_REFUSED = ("UseSharedSpaces:", "Unable to use shared archive", "mismatch")


@dataclasses.dataclass
class Record:
    state: str  # "mapped" | "recording" | "off"
    archive: str | None = None
    reason: str = ""


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "tracy_matdb_spark", "jvm")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove(path: str | None) -> None:
    if path:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def _stat(path: str) -> list:
    try:
        st = os.stat(path)
    except OSError:
        return [path, None]
    return [path, st.st_size, st.st_mtime_ns]


def _java() -> str:
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        raise OSError("no java on PATH and no JAVA_HOME")
    return os.path.realpath(java)


def _key(java: str, class_path: str, localfs_jar: str, conf_dir: str, spark_home: str) -> str:
    """What the JVM checks before it maps an archive: its own build and
    the driver class path in launch order, each jar by size and mtime
    (the JVM compares both). The engine's jar is hashed by content too."""
    jdk = os.path.dirname(os.path.dirname(java))
    with open(os.path.join(jdk, "release"), "rb") as fh:
        release = hashlib.sha256(fh.read()).hexdigest()
    with open(localfs_jar, "rb") as fh:
        localfs = hashlib.sha256(fh.read()).hexdigest()
    jars = os.path.join(spark_home, "jars")
    parts = {
        "java": java,
        "release": release,
        "jdk": [_stat(os.path.join(jdk, p)) for p in ("lib/modules", "lib/server/classes.jsa")],
        "class_path": [_stat(p) for p in class_path.split(os.pathsep)],
        "localfs": localfs,
        "conf": conf_dir,
        "jars": [_stat(os.path.join(jars, n)) for n in sorted(os.listdir(jars))],
        "env": [os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")],
    }
    return hashlib.sha256(json.dumps(parts).encode()).hexdigest()[:20]


def _sweep(cache: str) -> None:
    """Remove temp archives, logs and locks left by dead processes."""
    for path in glob.glob(os.path.join(cache, "*.tmp")) + glob.glob(os.path.join(cache, "*.log")):
        pid = os.path.basename(path).split(".")[1]
        if pid.isdigit() and not _alive(int(pid)):
            _remove(path)
    for path in glob.glob(os.path.join(cache, "*.lock")):
        try:
            with open(path) as fh:
                pid = fh.read().strip()
        except FileNotFoundError:
            continue
        if pid.isdigit() and not _alive(int(pid)):
            _remove(path)


def _lock(path: str) -> bool:
    """Take the key's recording lock, unless a live process holds it."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            _sweep(os.path.dirname(path))  # the holder may be dead
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _evict(cache: str) -> None:
    archives = sorted(glob.glob(os.path.join(cache, "*.jsa")), key=os.path.getmtime, reverse=True)
    for path in archives[KEEP:]:
        _remove(path)


def _log_lines(log: str) -> list[str]:
    try:
        with open(log, errors="replace") as fh:
            return fh.read().splitlines()
    except FileNotFoundError:
        return []


def _message(line: str) -> str:
    """A unified-logging line without its `[uptime][level][tags]` prefix."""
    return line.rsplit("] ", 1)[-1].strip()


@dataclasses.dataclass
class Launch:
    """One JVM launch: the flags `prepare` chose and the files they name."""

    record: Record
    java_options: str = ""
    conf_dir: str | None = None  # the empty SPARK_CONF_DIR for the launch
    log: str | None = None  # the JVM's CDS log
    tmp: str | None = None  # where a recording JVM dumps the archive
    lock: str | None = None

    def run(self, start):
        """Launch the JVM with `start()`, with `SPARK_CONF_DIR` pointed at
        the empty conf dir for the launch only, then settle the record."""
        saved = os.environ.get("SPARK_CONF_DIR")
        if self.conf_dir:
            os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = start()
        except BaseException:
            self._discard()
            raise
        finally:
            if saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        if self.record.state == "mapped":
            self._check_mapped()
        elif self.record.state == "recording":
            atexit.register(self._publish, spark.sparkContext._gateway.proc)
        return spark

    def _check_mapped(self) -> None:
        lines = _log_lines(self.log)
        refused = [_message(line) for line in lines if any(m in line for m in _REFUSED)]
        if refused or not any("Mapped dynamic region" in line for line in lines):
            reason = refused[0] if refused else "the JVM mapped no dynamic region"
            self.record = Record("off", self.record.archive, f"archive refused: {reason}")
            _remove(self.record.archive)  # the next session records a fresh one
        _remove(self.log)  # the JVM keeps writing to the unlinked file

    def _publish(self, proc) -> None:
        """Publish the archive the JVM dumped at exit; stop the JVM first
        if it is still running, so that no process outlives this one."""
        try:
            if proc.poll() is None:
                from pyspark import SparkContext

                sc = SparkContext._active_spark_context
                # a failed stop changes nothing below: the JVM's own
                # shutdown hook stops the context when stdin closes
                with contextlib.suppress(Exception):
                    if sc is not None:
                        sc.stop()
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=EXIT_WAIT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            written = any("Written dynamic archive" in line for line in _log_lines(self.log))
            if proc.returncode == 0 and written and os.path.isfile(self.tmp):
                os.replace(self.tmp, self.record.archive)
                _evict(os.path.dirname(self.tmp))
        finally:
            self._discard()

    def _discard(self) -> None:
        for path in (self.tmp, self.log, self.lock):
            _remove(path)


def prepare(class_path: str, localfs_jar: str, java_options: str) -> Launch:
    """Choose the archive flags for a JVM about to launch with the
    `spark.driver.extraClassPath` `class_path` and the caller's
    `spark.driver.extraJavaOptions`."""
    from pyspark.find_spark_home import _find_spark_home

    if any(opt in java_options for opt in ("SharedArchiveFile", "ArchiveClassesAtExit", "-Xshare")):
        return Launch(Record("off", reason="the caller passes its own class-data-sharing options"))
    cache = cache_dir()
    if _UNSAFE & set(cache):
        return Launch(Record("off", reason=f"cache path {cache!r} cannot be passed in JVM flags"))
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
            # CDS maps no archive with a non-empty directory on the class path
            return Launch(Record("off", reason=f"conf dir {conf} holds files Spark reads"))
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        key = _key(_java(), class_path, localfs_jar, empty_conf, spark_home)
        archive = os.path.join(cache, f"{key}.jsa")
        _sweep(cache)
        log = os.path.join(cache, f"{key}.{os.getpid()}.log")
        logging = f"-Xlog:cds*=off -Xlog:cds*=info:file={log}"
        if os.path.isfile(archive):
            with contextlib.suppress(OSError):
                os.utime(archive)  # most recently used: evicted last
            return Launch(Record("mapped", archive), f"-XX:SharedArchiveFile={archive} {logging}",
                          empty_conf, log)
        lock = os.path.join(cache, f"{key}.lock")
        if not _lock(lock):
            return Launch(Record("off", archive, "another process is recording this archive"))
        tmp = os.path.join(cache, f"{key}.{os.getpid()}.jsa.tmp")
        return Launch(Record("recording", archive), f"-XX:ArchiveClassesAtExit={tmp} {logging}",
                      empty_conf, log, tmp, lock)
    except OSError as e:  # an unwritable cache, a JDK without `release`
        return Launch(Record("off", reason=f"no archive: {e}"))
