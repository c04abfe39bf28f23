"""Seeded end-to-end benchmark of the tracy_matdb_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One invocation is one fresh process
running one workload (see workloads.py) on `local[n]`, n = the cores
this process may use. Inputs are generated from the seed into a scratch
directory inside the checkout, which is removed at exit. The engine is
reached only through `__spark_entry__`, `session.get_session`,
`plans.pipeline.Pipeline`, `streaming.ingest.incremental_ingest` and
Spark's in-process status APIs. Workloads and their metrics are
described in workloads.py; per-layer metrics in layers.py and report.py.

With `--trace 0` the last stdout line carries the end-to-end metrics,
measured with tracing off; with `--trace 1` it carries the per-layer
metrics of traced passes (plus `trace.overhead_s`, traced minus
untraced warm pass). The line before it holds per-op detail, and the
one before that the host context.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3  # input generation + warm-up repeats; setup_s takes their median


def _java_processes() -> int:
    n = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                n += fh.read().strip() == "java"
        except OSError:
            continue
    return n


def host_context(args, cores: int) -> dict:
    import platform

    import duckdb
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores_usable": cores,
        "master": f"local[{cores}]",
        "load1_start": os.getloadavg()[0],
        "java_processes_before": _java_processes(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
    }


def _start_session(work: str, cores: int):
    """Start the engine's session with every scratch path inside `work`."""
    from tracy_matdb_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the protobuf shim must not write a hook into site-packages
    os.environ["TRACY_NO_PTH_HOOK"] = "1"
    return get_session(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _generate(workload, data_dir: str, seed: int, spark) -> float:
    """Write the workload's inputs and read each back through Spark."""
    from perfbench import inputs

    t0 = time.perf_counter()
    shutil.rmtree(data_dir, ignore_errors=True)
    rows = inputs.write_tables(data_dir, seed, workload.tables)
    for name, n in rows.items():
        got = spark.read.parquet(os.path.join(data_dir, f"{name}.parquet")).count()
        if got != n:
            raise RuntimeError(f"generated {name} has {got} rows, wrote {n}")
    return time.perf_counter() - t0


END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "rows_per_s": "1/s",
              "stored_bytes_per_row": "B"}


def metrics_end_to_end(out, setup_s: float) -> dict:
    from perfbench.stats import median

    values = {"setup_s": setup_s, "cold_pass_s": out.cold_s, "pass_s": median(out.warm_s),
              "rows_per_s": out.extra["rows_per_s"],
              "stored_bytes_per_row": out.extra["stored_bytes_per_row"]}
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "tracy_matdb_spark"))):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    # import this directory as the `perfbench` package, never as top-level modules
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or os.curdir) != HERE]
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    context = host_context(args, cores)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        catalog = None
        if args.trace:
            from tracy_matdb_spark import catalog as catalog_module

            from perfbench.layers import CatalogCounter

            catalog = CatalogCounter()
            catalog.install(catalog_module)
        t0 = time.perf_counter()
        spark = _start_session(work, cores)
        spark.range(1000).selectExpr("sum(id)").collect()  # first job: executor warm-up
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        import __spark_entry__ as entry

        registry = entry.queries()
        oracles = entry.oracle_sql()
        load_s = time.perf_counter() - t0
        data_dir = os.path.join(work, "data")
        gen_s = [_generate(workload, data_dir, args.seed, spark) for _ in range(SETUP_REPEATS)]
        from perfbench.stats import median

        once = time.perf_counter() - PROCESS_T0 - sum(gen_s)
        setup_s = once + median(gen_s)
        context["setup_parts_s"] = {"once": once, "session_start": session_s, "load_all": load_s,
                                    "generate": gen_s}

        tracer = None
        if args.trace:
            from perfbench.layers import Tracer

            tracer = Tracer(spark, catalog)
        ctx = workloads.Context(spark, registry, oracles, data_dir, work, args.seed, args.seconds, tracer)
        out = workload.run(ctx)

        if args.trace:
            from perfbench.report import per_layer

            metrics, detail = per_layer(out, session_s, load_s, spark)
        else:
            metrics = metrics_end_to_end(out, setup_s)
            detail = {"cold_pass_s": out.cold_s, "warm_pass_s": out.warm_s, "check_s": out.check_s,
                      "op_s": out.op_s}
        attempted = len(workload.ops()) + len(workload.checks)
        failed = len(out.failed)
        detail["workload"] = out.extra
        detail["failed_op_share"] = failed / attempted
        detail["failures"] = out.problems
        print(json.dumps({"context": context}), flush=True)
        print(json.dumps({"detail": detail}), flush=True)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
