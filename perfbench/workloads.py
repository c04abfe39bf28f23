"""The workloads: closed loops of ops in a fixed order, one client.

Every workload runs a cold pass first, then an untimed check that
compares every registry op's output with its DuckDB oracle, then warm
passes until the measuring time is spent (at least one). A pass's time
is the sum of its ops' times; the work between ops (staging drops,
checking a pass's outputs) is untimed. An op that raises or fails its
check counts as failed and stays in the loop. Op order is fixed, because
run position alone moves sub-second queries by tens of percent.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import check, inputs
from perfbench.stats import median, tail
from perfbench.layers import Tracer, dir_bytes, stream_layers


@dataclass
class Context:
    spark: object
    registry: dict
    oracles: dict
    data_dir: str
    work_dir: str
    seed: int
    seconds: float
    tracer: Tracer | None = None


@dataclass
class Outcome:
    """What one run measured: pass times, per-op readings, failures."""

    cold_s: float = 0.0
    warm_s: list[float] = field(default_factory=list)  # untraced warm passes
    traced_s: list[float] = field(default_factory=list)  # traced warm passes
    op_s: dict[str, list[float]] = field(default_factory=dict)  # per op, pass by pass
    # one {op: layer readings} dict per traced pass
    traced: list[dict[str, dict[str, float]]] = field(default_factory=list)
    check_s: float = 0.0
    failed: set[str] = field(default_factory=set)
    problems: dict[str, str] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def fail(self, op: str, why: str) -> None:
        self.failed.add(op)
        self.problems.setdefault(op, why)


def _first_line(e: BaseException) -> str:
    text = str(e)
    return f"{type(e).__name__}: {text.splitlines()[0] if text else ''}"


def _registry_op(ctx: Context, name: str, traced: bool) -> dict[str, float]:
    """Build op `name` through its registry function and run it into a
    noop sink; in a traced pass, attribute its Spark work to it."""
    fn = ctx.registry[name]
    if not traced:
        fn(ctx.spark, ctx.data_dir).write.format("noop").mode("overwrite").save()
        return {}
    tr = ctx.tracer
    mark = tr.start()
    t0 = time.perf_counter()
    with tr.group(f"{name}:build"):
        df = fn(ctx.spark, ctx.data_dir)
    build_s = time.perf_counter() - t0
    layers = tr.plan_phases(df)
    t1 = time.perf_counter()
    with tr.group(f"{name}:exec"):
        df.write.format("noop").mode("overwrite").save()
    layers["exec.s"] = time.perf_counter() - t1
    layers["queries.build_s"] = build_s
    layers.update(tr.finish(mark, name))
    return layers


def _check_registry_ops(ctx: Context, tables: tuple[str, ...], ops: tuple[str, ...], out: Outcome) -> None:
    """Compare every op with its oracle by row count, column names and an
    order-insensitive value hash. DuckDB computes the oracles in a second
    thread while Spark computes the results."""
    oracle = check.Oracle(ctx.data_dir, tables, threads=len(os.sched_getaffinity(0)))
    try:
        with ThreadPoolExecutor(1) as pool:
            wanted = {op: pool.submit(oracle.result, ctx.oracles[op]) for op in ops if op in ctx.oracles}
            for op in ops:
                try:
                    got = ctx.registry[op](ctx.spark, ctx.data_dir).toPandas()
                    out.extra.setdefault("result_rows", {})[op] = len(got)
                    why = check.mismatch(got, wanted[op].result()) if op in wanted else "no oracle registered"
                except Exception as e:  # noqa: BLE001 - counted as a failed op
                    why = f"check raised {_first_line(e)}"
                    traceback.print_exc()
                if why:
                    out.fail(op, why)
    finally:
        oracle.close()


class PassWorkload:
    """A workload whose unit of work is a pass over a fixed op list."""

    name = ""
    tables: tuple[str, ...] = ()  # generated input tables
    registry_ops: tuple[str, ...] = ()  # checked against their oracles
    checks: tuple[str, ...] = ()  # pass-output checks, counted as ops of their own

    def ops(self) -> list[str]:
        raise NotImplementedError

    def run_op(self, ctx: Context, op: str, traced: bool, pass_no: int) -> dict[str, float]:
        raise NotImplementedError

    def begin_pass(self, ctx: Context, pass_no: int) -> None:
        """Untimed preparation of a pass."""

    def end_pass(self, ctx: Context, out: Outcome, pass_no: int) -> None:
        """Untimed checks of a pass's outputs."""

    def finish(self, ctx: Context, out: Outcome) -> None:
        """Untimed end-of-run values: `rows_per_s`, `stored_bytes_per_row`."""
        raise NotImplementedError

    def one_pass(self, ctx: Context, out: Outcome, traced: bool, pass_no: int) -> float:
        self.begin_pass(ctx, pass_no)
        total = 0.0
        readings = {}
        for op in self.ops():
            t0 = time.perf_counter()
            try:
                layers = self.run_op(ctx, op, traced, pass_no)
            except Exception as e:  # noqa: BLE001 - a failing op is counted, the loop goes on
                out.fail(op, _first_line(e))
                traceback.print_exc()
                layers = {}
            sec = time.perf_counter() - t0
            total += sec
            out.op_s.setdefault(op, []).append(sec)
            layers["op.s"] = sec
            if op in out.extra.get("result_rows", {}):
                layers.setdefault("result_rows", out.extra["result_rows"][op])
            readings[op] = layers
        if traced:
            out.traced.append(readings)
        self.end_pass(ctx, out, pass_no)
        return total

    def run(self, ctx: Context) -> Outcome:
        out = Outcome()
        out.cold_s = self.one_pass(ctx, out, traced=False, pass_no=0)
        t0 = time.perf_counter()
        _check_registry_ops(ctx, self.tables, self.registry_ops, out)
        out.check_s = time.perf_counter() - t0
        deadline = time.perf_counter() + ctx.seconds
        pass_no = 1
        # a traced run alternates untraced (odd) and traced (even) warm
        # passes, so the tracing overhead is measured in one process
        while True:
            out.warm_s.append(self.one_pass(ctx, out, traced=False, pass_no=pass_no))
            pass_no += 1
            if ctx.tracer is not None:
                out.traced_s.append(self.one_pass(ctx, out, traced=True, pass_no=pass_no))
                pass_no += 1
            if time.perf_counter() >= deadline:
                break
        self.finish(ctx, out)
        return out


def _untraced_warm(ctx: Context, samples: list[float]) -> list[float]:
    """An op's warm samples from untraced passes (see PassWorkload.run)."""
    return [s for p, s in enumerate(samples) if p and not (ctx.tracer is not None and p % 2 == 0)]


class TextDedup(PassWorkload):
    """The LLM-data path over one seeded corpus. A pass first ingests the
    corpus as seeded producer drops, each re-offering a seeded ~10% slice
    of the previous one, through `streaming.ingest.incremental_ingest`
    (availableNow + checkpoint, a fresh target per pass); then it runs
    the batch dedup of the same corpus: exact content-hash dedup, and
    MinHash-LSH candidates verified by exact 3-gram Jaccard.

    The drops are bound by per-batch fixed costs: query start, WAL and
    commit logs, and the anti-join against history. The batch ops are
    bound by shuffle volume and LSH candidate-join yield. No op crosses
    into Python workers.
    `rows_per_s` is rows offered per second of warm drop time, and
    `stored_bytes_per_row` counts the ingest target and its checkpoint."""

    name = "text_dedup"
    tables = ("documents",)
    registry_ops = ("dedup_exact", "ngram_jaccard_pairs")
    checks = ("ingest.target",)
    drops = 6

    def __init__(self) -> None:
        self.plan: list = []
        self.schema = None
        self.doc_ids: list[int] = []
        self.offered: set[int] = set()
        self.appended = 0  # target rows after the last traced drop

    def ops(self) -> list[str]:
        return [f"ingest.d{i}" for i in range(self.drops)] + list(self.registry_ops)

    def _dir(self, ctx: Context, pass_no: int, *parts: str) -> str:
        return os.path.join(ctx.work_dir, "stream", f"pass{pass_no}", *parts)

    def begin_pass(self, ctx, pass_no):
        stage = os.path.join(ctx.work_dir, "stream", "stage")
        if pass_no == 0:
            docs = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"))
            self.doc_ids = docs.column("doc_id").to_pylist()
            self.plan = inputs.drop_plan(ctx.seed, docs.num_rows, self.drops)
            for i, rows in enumerate(self.plan):
                os.makedirs(os.path.join(stage, f"d{i}"))
                pq.write_table(docs.take(rows), os.path.join(stage, f"d{i}", "part-0.parquet"))
            self.schema = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet")).schema
        else:
            shutil.rmtree(self._dir(ctx, pass_no - 1))  # keep one target on disk
        for i in range(self.drops):
            os.makedirs(self._dir(ctx, pass_no, "landing", f"d{i}"))
            os.link(os.path.join(stage, f"d{i}", "part-0.parquet"),
                    self._dir(ctx, pass_no, "landing", f"d{i}", "part-0.parquet"))
        os.makedirs(self._dir(ctx, pass_no, "drop"))
        self.offered = set()
        self.appended = 0

    def run_op(self, ctx, op, traced, pass_no):
        if not op.startswith("ingest."):
            return _registry_op(ctx, op, traced)
        from tracy_matdb_spark.streaming.ingest import incremental_ingest

        drop = op.split(".", 1)[1]
        mark = ctx.tracer.start() if traced else None
        t0 = time.perf_counter()
        # the drop lands: a producer's finished directory appears atomically
        os.rename(self._dir(ctx, pass_no, "landing", drop), self._dir(ctx, pass_no, "drop", drop))
        q = incremental_ingest(ctx.spark, self._dir(ctx, pass_no, "drop"), self._dir(ctx, pass_no, "target"),
                               self.schema, key="doc_id", checkpoint_dir=self._dir(ctx, pass_no, "ckpt"))
        started = time.perf_counter() - t0
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.offered.update(self.doc_ids[r] for r in self.plan[int(drop[1:])])
        if not traced:
            return {}
        layers = {"stream.query_start_s": started}
        layers.update(stream_layers(q.recentProgress))
        layers.update(ctx.tracer.finish(mark, op, exec_group=q.runId))
        appended = pq.read_table(self._dir(ctx, pass_no, "target"), columns=["doc_id"]).num_rows
        layers["result_rows"] = float(appended - self.appended)
        layers["stream.rows_rejected"] = layers["stream.rows_offered"] - layers["result_rows"]
        self.appended = appended
        return layers

    def end_pass(self, ctx, out, pass_no):
        target = self._dir(ctx, pass_no, "target")
        got = pq.read_table(target, columns=["doc_id"]).column("doc_id").to_pylist()
        if len(got) != len(set(got)):
            out.fail("ingest.target", f"pass {pass_no}: {len(got) - len(set(got))} duplicate doc_id rows")
        elif set(got) != self.offered:
            out.fail("ingest.target", f"pass {pass_no}: {len(set(got))} keys != {len(self.offered)} offered")
        _, size = dir_bytes(target)
        _, ckpt = dir_bytes(self._dir(ctx, pass_no, "ckpt"))
        out.extra["stored_bytes_per_row"] = (size + ckpt) / max(1, len(got))

    def finish(self, ctx, out):
        # the first drop of a pass also starts a fresh stream; the batch
        # figures cover the drops after it
        batches = [s for i in range(1, self.drops) for s in _untraced_warm(ctx, out.op_s[f"ingest.d{i}"])]
        per_drop = sum(len(rows) for rows in self.plan[1:]) / (self.drops - 1)
        out.extra["rows_per_s"] = per_drop / median(batches)
        out.extra["batch_s"] = median(batches)
        out.extra["batch_tail_pct_s"] = tail(batches)


SPLITS = {"A": 0.4, "B": 0.2}
DISTORTIONS = 100  # configurations per seed cell and sigma
SUBSTITUTIONS = 10  # relabelings per distorted configuration
SEED_ATOMS = (4, 2, 1)  # atoms of the built-in fcc, bcc and sc seed cells
SIGMAS = (0.02, 0.05)


def materials_spec(seed: int) -> dict:
    """Distortion over a two-value sigma grid, chained into substitution
    and vacancy, with the run's seed as the spec's ran_seed."""
    return {
        "ran_seed": seed,
        "databases": {
            "alloy": {
                "steps": [
                    {"type": "distortion", "name": "dist",
                     "params": {"nconfigs": DISTORTIONS, "sigma*": list(SIGMAS)}},
                    {"type": "substitution", "name": "sub", "params": {"nconfigs": SUBSTITUTIONS}},
                    {"type": "vacancy", "name": "vac"},
                ]
            }
        },
    }


def expected_counts() -> dict[str, int]:
    """Analytic group sizes of `materials_spec`: each distortion group has
    one config per seed cell and draw; substitution relabels every
    distorted config; vacancy chains off the distortion groups (the
    substitution output carries no cell to chain from) and removes every
    atom pair, C(n, 2) per config."""
    dist = DISTORTIONS * len(SEED_ATOMS)
    pairs = sum(n * (n - 1) // 2 for n in SEED_ATOMS)
    counts = {f"dist-sigma-{s:g}": dist for s in SIGMAS}
    counts["sub"] = SUBSTITUTIONS * dist * len(SIGMAS)
    counts["vac"] = DISTORTIONS * pairs * len(SIGMAS)
    return counts


class MaterialsBuild(PassWorkload):
    """The paper's job as one pass: a seeded Pipeline spec run
    setup -> status -> split -> finalize -> find/verify into a fresh
    catalog directory, then the Hessian eigenpair UDTF (applyInPandas).
    Partitioned Parquet and manifest writes and the pandas-UDF boundary
    do most of the work here. `rows_per_s` is configurations written per
    second of warm Pipeline.setup, and `stored_bytes_per_row` counts the
    whole catalog tree (data, manifests, splits, snapshot)."""

    name = "materials_build"
    registry_ops = ("hessian_eigen",)
    checks = ("pipeline.catalog",)
    pipeline_ops = ("pipeline.setup", "pipeline.status", "pipeline.split",
                    "pipeline.finalize", "pipeline.verify")

    def __init__(self) -> None:
        self.pipe = None
        self.status: dict[str, int] = {}
        self.found: list[str] = []
        self.verified = False
        self.hashes: dict = {}
        self.cold_hashes: dict = {}

    def ops(self) -> list[str]:
        return list(self.pipeline_ops + self.registry_ops)

    def begin_pass(self, ctx, pass_no):
        from tracy_matdb_spark.plans.pipeline import Pipeline

        if self.pipe is not None:
            shutil.rmtree(self.pipe.out_dir)  # keep one catalog on disk
        self.pipe = Pipeline(materials_spec(ctx.seed), os.path.join(ctx.work_dir, "catalog", f"pass{pass_no}"))
        self.status, self.found, self.verified, self.hashes = {}, [], False, {}

    def _pipeline_op(self, spark, op: str) -> None:
        if op == "pipeline.setup":
            self.pipe.setup(spark)
        elif op == "pipeline.status":
            self.status = {r["group_name"]: r["n_configs"] for r in self.pipe.status(spark).collect()}
        elif op == "pipeline.split":
            self.pipe.split(spark, SPLITS)
        elif op == "pipeline.finalize":
            self.pipe.finalize(spark)
        elif op == "pipeline.verify":
            self.found = self.pipe.find(spark, "alloy/*")
            self.hashes = {(r["database"], r["group_name"]): r["group_hash"]
                           for r in self.pipe.group_hashes(spark).collect()}
            self.verified = self.pipe.verify(spark, self.hashes)

    def run_op(self, ctx, op, traced, pass_no):
        if op in self.registry_ops:
            return _registry_op(ctx, op, traced)
        if not traced:
            self._pipeline_op(ctx.spark, op)
            return {}
        mark = ctx.tracer.start()
        t0 = time.perf_counter()
        with ctx.tracer.group(f"{op}:exec"):
            self._pipeline_op(ctx.spark, op)
        layers = {"exec.s": time.perf_counter() - t0}
        layers.update(ctx.tracer.finish(mark, op))
        files, size = dir_bytes(self.pipe.out_dir)
        layers.update({"pipeline.files_written": float(files), "pipeline.bytes_written": float(size)})
        return layers

    def end_pass(self, ctx, out, pass_no):
        want = expected_counts()
        if pass_no == 0:
            self.cold_hashes = self.hashes
        if self.status != want:
            out.fail("pipeline.catalog", f"pass {pass_no}: status {self.status} != {want}")
        elif self.found != sorted(f"alloy/{g}" for g in want):
            out.fail("pipeline.catalog", f"pass {pass_no}: find returned {self.found}")
        elif not self.verified:
            out.fail("pipeline.catalog", f"pass {pass_no}: verify() rejected the catalog's own hashes")
        elif self.hashes != self.cold_hashes:
            out.fail("pipeline.catalog", f"pass {pass_no}: group hashes differ from the cold pass")

    def finish(self, ctx, out):
        rows = sum(expected_counts().values())
        _, size = dir_bytes(self.pipe.out_dir)
        out.extra["stored_bytes_per_row"] = size / rows
        out.extra["rows_per_s"] = rows / median(_untraced_warm(ctx, out.op_s["pipeline.setup"]))


WORKLOADS = {w.name: w for w in (TextDedup, MaterialsBuild)}
