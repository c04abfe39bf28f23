"""SparkSession factory with deterministic, oracle-friendly settings.

The reference (matdb) is a single-process Python dataflow; its only
"session" is the Controller object (reference: matdb/database/__init__.py:1585).
Here the session is a real SparkSession tuned for the driver protocol:
UTC timestamps (duckdb oracle parity), AQE on (runtime re-plan, skew
join), Arrow on (fast pandas interchange), shuffle partitions sized to
the local core count rather than the 200 default.

At cluster scale the same factory applies — only master/memory change;
`spark.sql.shuffle.partitions` should track executor-core totals or be
left to AQE coalescing.

The `file:` scheme runs on the fork-free local filesystem in `jvm/`
(README: Fork-free local filesystem). A JVM this factory launches starts
from a class-data-sharing archive when one exists for its JDK and class
path, and records one at exit when none does (`cds`, README: JVM
class-data archive); `jvm_archive()` reports which.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from tracy_matdb_spark import cds

LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "localfs.jar")
_LOCALFS_IMPL = {
    "spark.hadoop.fs.file.impl": "tracy_matdb_spark.jvm.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "tracy_matdb_spark.jvm.NioLocalFs",
}


_ARCHIVE = cds.Record("off", reason="get_session has not launched a JVM in this process")


def jvm_archive() -> dict:
    """The class-data archive of the JVM the last launching `get_session`
    started: `state` ("mapped" | "recording" | "off"), `archive` (path)
    and `reason` (why "off")."""
    return dataclasses.asdict(_ARCHIVE)


def _launches_jvm() -> bool:
    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def _localfs_loadable() -> bool:
    """Whether the session's JVM can load the jar's classes. A JVM this
    call launches has the jar on its class path; one already running (an
    earlier session's, a pyspark shell's, spark-submit's) has only what it
    was started with, and Hadoop resolves `fs.file.impl` by name."""
    if _launches_jvm():
        return True
    SparkContext._ensure_initialized()
    conf = SparkContext._jvm.org.apache.hadoop.conf.Configuration(False)
    return all(conf.getClassByNameOrNull(cls) is not None for cls in _LOCALFS_IMPL.values())


def get_session(
    app_name: str = "tracy_matdb_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    global _ARCHIVE
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    # must run BEFORE the JVM launches: the typed-state streaming
    # protocol imports google.protobuf inside the Python WORKERS, which
    # inherit the JVM's environment — so the vendored runtime has to be
    # on $PYTHONPATH when the session is built (vendor/ensure_protobuf)
    from tracy_matdb_spark.vendor import ensure_protobuf

    ensure_protobuf()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can only coalesce DOWN from the initial shuffle partition
        # count — without headroom a big input gets cpus-many reduce
        # partitions no matter what (the r14 sf100 probe measured the
        # failure: 600M rows / 32 partitions = 19M-row aggregation
        # tasks, execution-memory exhaustion). 8x cores of headroom
        # mirrors cluster_conf's initialPartitionNum rationale; AQE
        # coalesces small workloads back down, so driver-SF plans are
        # unchanged.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * cpus),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet columns (one generation of the events
        # testdata) read as BIGINT epoch nanos; catalog.load_events and
        # the events stream normalize them. Pinned here so that reading
        # events never changes the session's settings.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-class cache (static conf, default 100 entries): a
        # session serving many distinct queries churns it — measured on
        # the 19-query interleaved bench, every pagerank rep after a
        # full pass re-Janino-compiled 47 wholestage segments for +1.1 s
        # (~40% of its wall; BENCH_PR_PROBE_r12.json). 2000 entries
        # holds the whole registry's codegen resident for megabytes of
        # bytecode. Env-overridable ONLY for the A/B probe that
        # quantifies the setting (tools/bench_compare.py workflow) —
        # it is a static conf, so it must be set before the JVM starts.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "2000"),
        )
        # shuffle files are reclaimed only when a GC collects their dead
        # ShuffleDependency; on a big heap that can lag 30+ min (the
        # default periodicGC) — the r14 sf100 probe accumulated three
        # warm runs' shuffle files and filled the disk. 2 min bounds the
        # lag for long-lived mixed sessions at negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # serialized persisted blocks (the DISK_ONLY edge cache) are
        # uncompressed by default; integer-heavy tables shrink 3-4x
        .config("spark.rdd.compress", "true")
        # shuffle/spill codec: lz4 default; heavy disk-bound sweeps (the
        # sf100 probe) set zstd via env for ~2x smaller shuffle files
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        # PySpark 4's DataFrame debugging captures the USER call site on
        # EVERY DataFrame/Column API call: a Python stack walk plus 3
        # extra py4j roundtrips (conf.get + PySparkCurrentOrigin.set +
        # .clear) per op, purely to enrich error messages with
        # file:line context. Query construction is pure py4j traffic
        # (q1 builds through ~355 roundtrips), so this was 10-25% of
        # the Python-side build cost of every registry query (measured
        # min-of-9 at sf0.1: q1 0.085->0.071 s, knn_embeddings
        # 0.062->0.048 s). Driver-side and scale-independent — a
        # cluster driver pays the identical construction tax. Errors
        # still raise with the same class/message, only without the
        # call-site line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # fork-free local filesystem (module docstring)
    if _localfs_loadable():
        builder = builder.config(map=_LOCALFS_IMPL)
    conf = dict(extra_conf or {})
    class_path = [LOCALFS_JAR, conf.pop("spark.driver.extraClassPath", "")]
    class_path = os.pathsep.join(filter(None, class_path))
    builder = builder.config("spark.driver.extraClassPath", class_path)
    launch = None
    if _launches_jvm():
        java_options = conf.get("spark.driver.extraJavaOptions", "")
        launch = cds.prepare(class_path, LOCALFS_JAR, java_options)
        conf["spark.driver.extraJavaOptions"] = " ".join(filter(None, [java_options, launch.java_options]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    if launch is None:
        spark = builder.getOrCreate()
    else:
        spark = launch.run(builder.getOrCreate)
        _ARCHIVE = launch.record
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 8,
    executor_mem_gb: int = 48,
    dataset_tb: float = 100.0,
) -> dict[str, str]:
    """The 100 TB deployment profile: the spark-submit `--conf` map this
    engine is designed against, derived from cluster shape instead of
    hand-tuned constants. Every query in the registry was written to run
    under exactly these semantics (AQE on, skew join on, broadcast
    threshold bounded), so local[32] results transfer.

    Sizing rationale, per knob:
    - shuffle.partitions = 2x total cores: two waves per shuffle stage —
      enough slots that one straggler doesn't idle the cluster, few
      enough that task overhead stays <1% (AQE coalesces small ones
      anyway, and initialPartitionNum gives it headroom to SPLIT).
    - files.maxPartitionBytes 256m: at 100 TB that is ~400k input
      splits — 50 waves over 8k cores; larger splits risk >2 GB shuffle
      blocks after explode-heavy text ops.
    - autoBroadcastJoinThreshold 64m: dims (region/nation/supplier,
      bloom bitsets, sketch tables) broadcast; anything
      corpus-shaped never does. Identical to the local factory so local
      plan audits see cluster join strategies.
    - skewJoin thresholds default: AQE splits hot band/bucket keys
      (LSH buckets, hot customers) at runtime — the repo additionally
      pre-salts the provably-skewed paths (operators/skew.py).
    - memoryOverhead: Arrow batches for the pandas-UDF parse/eigen
      paths live off-heap; 25% is the measured-safe floor, not a guess.
    """
    total_cores = executors * cores_per_executor
    shuffle_parts = 2 * total_cores
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.memoryOverhead": f"{executor_mem_gb // 4}g",
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(4 * total_cores),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.shuffle.file.buffer": "1m",
        "spark.reducer.maxSizeInFlight": "96m",
        # driver-side generated-class cache: a long-lived session running
        # a mixed query workload evicts the 100-entry default and pays
        # Janino recompiles per query (measured +1.1 s on the iterative
        # pagerank plan, BENCH_PR_PROBE_r12.json)
        "spark.sql.codegen.cache.maxEntries": "2000",
    }
