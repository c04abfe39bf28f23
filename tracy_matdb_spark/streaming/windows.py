"""Structured Streaming surface over the events table.

The reference's incremental patterns (active-learning appends, state
polling; SURVEY.md §2.11) have no true streaming engine. Here the same
windowed aggregations that run in batch (queries/events.py) run as real
streams: parquet file source -> watermark -> windowed agg -> sink.
Batch/stream result parity is asserted in tests/test_streaming.py.

At scale: the file source becomes Kafka; watermarks bound state; the
aggregation state store is keyed by (window, type) — the same shuffle
keys as the batch plan, so capacity planning transfers 1:1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos (nanosAsLong)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# Last-terminated-stream telemetry, keyed by query name: state-store
# row counts so claims like "state scales with occupied buckets, not
# stream length" (streaming_lsh_first_seen) are MEASURED per run, not
# asserted. Populated by every run_*_to_completion helper and by
# record_stream_progress for hand-rolled query loops; consumed by
# tools/scaling.py's typed-state rows. Telemetry only — never read by a
# query's own plan.
LAST_STREAM_PROGRESS: dict[str, dict] = {}


def record_stream_progress(q, query_name: str, registry_name: str | None = None) -> None:
    """Stash state-operator row counts from a (possibly terminated)
    StreamingQuery's last progress. Safe to call after awaitTermination;
    swallows everything — telemetry must never fail a query.

    `query_name` is the memory-sink name; consumers (tools/scaling.py)
    look up by REGISTRY name, so callers whose sink name differs must pass
    `registry_name` — the entry is recorded under both keys."""
    try:
        p = q.lastProgress or {}
        ops = p.get("stateOperators") or []
        entry = {
            "state_rows_total": sum(int(o.get("numRowsTotal") or 0) for o in ops),
            "state_rows_updated": sum(int(o.get("numRowsUpdated") or 0) for o in ops),
            "n_state_operators": len(ops),
        }
        LAST_STREAM_PROGRESS[query_name] = entry
        if registry_name and registry_name != query_name:
            LAST_STREAM_PROGRESS[registry_name] = entry
    except Exception:  # noqa: BLE001
        pass


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, normalized to
    (ts_ns BIGINT nanos, ts TimestampType micros) like catalog.load_events.
    The stream source needs an explicit schema, so peek at the parquet
    footer with a batch read to detect which testdata generation this is
    (TIMESTAMP(NANOS)-as-long, under the `nanosAsLong` setting
    `session.get_session` pins, vs plain TIMESTAMP(MICROS)/NTZ)."""
    import os

    from tracy_matdb_spark.catalog import _relation, table_path

    events_path = table_path(sf_dir, "events")
    static = _relation(spark, events_path)
    nanos = isinstance(static.schema["ts"].dataType, T.LongType)
    schema = EVENTS_SCHEMA if nanos else static.schema
    # the file source wants a directory; glob-filter down to the events table
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", os.path.basename(events_path))
        .load(sf_dir)
    )
    if nanos:
        raw = raw.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "ts_ns", F.unix_micros(F.col("ts")) * 1000
        )
    others = [c for c in raw.columns if c not in ("ts", "ts_ns")]
    return raw.select(*others, "ts_ns", "ts")


def tumbling_agg(events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # per-event cents quantization BEFORE the sum: the integer
            # sum is accumulation-order free, so a killed-and-restarted
            # run (whose state-merge order differs) lands on exactly the
            # same value as an uninterrupted one — floor(sum(value)*100)
            # sat within float error of an integer boundary on this data
            # (events_stateful_totals_tws / psi_source_drift precedent)
            F.expr("sum(cast(floor(value * cast(100 as double)) as bigint))").alias("sum_value_c"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value_c",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start_s"), "event_type", "n_events")
    )


def session_agg(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Native session_window with watermark — the streaming twin of the
    batch gaps-and-islands sessionization."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_s"),
            F.unix_timestamp(F.col("w.end")).alias("session_end_s"),
            "n_events",
        )
    )


def run_to_completion(
    agg: DataFrame, query_name: str, registry_name: str | None = None
) -> DataFrame:
    """Drive a streaming aggregation over a finite file source to completion
    and return the final result as a batch DataFrame (memory sink)."""
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
        record_stream_progress(q, query_name, registry_name)
    finally:
        q.stop()
    return agg.sparkSession.sql(f"SELECT * FROM {query_name}")


# ---------------------------------------------------------------------------
# custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

TOTALS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_c", T.LongType()),
    ]
)
TOTALS_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("sv_c", T.LongType())]
)


def _cents_np(values) -> tuple[int, int]:
    """(sum, max) of per-event cents: floor(value * 100.0) as int64 —
    the exact IEEE ops of the SQL/Catalyst `CENTS` expression
    (queries/events.py), so oracle parity is bit-exact. Summing AFTER
    quantization makes the fold integer and therefore accumulation-
    order free: micro-batch boundaries, restarts, and engine fold
    order cannot perturb it (floor is monotonic, so the max commutes
    with quantization too)."""
    import numpy as np

    c = np.floor(values.to_numpy(dtype="float64") * 100.0).astype("int64")
    return int(c.sum()), int(c.max())


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful per-user accumulator via applyInPandasWithState —
    the engine's template for operators Spark's built-in windows can't
    express (the reference's closest analog is the active-learning
    running membership state, matdb/database/active.py:158-205).

    State = (event count, cents sum) per user, updated per micro-batch;
    each invocation emits the user's current totals (update mode). Each
    event is quantized to cents BEFORE the sum (_cents_np, the CENTS
    pattern): the state fold is integer addition, so micro-batch
    boundaries and restart state-merge order cannot perturb the emitted
    value — the float-state round(sum*100) it replaces was only
    last-ulp safe for strictly 2-decimal inputs."""

    def update(key, pdfs, state):
        import pandas as pd

        n, sv_c = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            sv_c += _cents_np(pdf["value"])[0]
        state.update((n, sv_c))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_c": [sv_c]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update, TOTALS_OUT, TOTALS_STATE, "update", GroupStateTimeout.NoTimeout
    )


def run_stateful_to_completion(
    agg: DataFrame, query_name: str, registry_name: str | None = None
) -> DataFrame:
    """Drive an update-mode stateful stream over a finite source; the
    memory sink holds one row per key per micro-batch that touched the
    key, so the result is only the final state if exactly one batch
    carried data. That is verified, not assumed: if the source split
    into multiple data batches (e.g. maxFilesPerTrigger was set), the
    memory-sink table would hold stale per-key rows indistinguishable
    from final ones, so we fail loudly instead of returning them."""
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
        data_batches = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
        record_stream_progress(q, query_name, registry_name)
    finally:
        q.stop()
    if data_batches > 1:
        raise RuntimeError(
            f"run_stateful_to_completion({query_name}): expected at most 1 "
            f"data micro-batch from the finite source, saw {data_batches}; "
            "update-mode memory-sink rows are per-batch running states and "
            "cannot be disambiguated after a multi-batch run"
        )
    # data_batches == 0 is a legitimately EMPTY finite source: the memory
    # sink holds no rows and that empty table is the correct answer.
    return agg.sparkSession.sql(f"SELECT * FROM {query_name}")


# ---------------------------------------------------------------------------
# streaming dedup (bounded state)
# ---------------------------------------------------------------------------


def dedup_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on event_id. dropDuplicatesWithinWatermark
    holds each seen key only until the watermark passes its event time, so
    state is O(arrival rate x watermark horizon), never O(stream length) —
    the only dedup contract that survives an unbounded 100 TB/day stream.
    Batch twin: dedup_exact / dropDuplicates (queries/llm.py)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# ---------------------------------------------------------------------------
# stream-stream interval join (streaming twin of events_range_join_10m)
# ---------------------------------------------------------------------------


def interval_join_stream(events: DataFrame, range_secs: int = 600, watermark: str = "20 minutes") -> DataFrame:
    """Stream-stream interval join: (error, click) pairs where the click is
    from the same user within the `range_secs` before the error. Both
    sides carry watermarks and the join condition carries the time bound,
    so Spark can expire click state once the error-side watermark passes
    `click_ts + range` — state is O(rate x horizon), never O(stream
    length). Batch twin: queries/events.py events_range_join_10m (same
    pairs; its bucketed equi-join is the batch physical strategy, the
    state-store range join is the streaming one)."""
    err = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("err_user"),
            F.col("event_id").alias("err_id"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", watermark)
    )
    clk = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("clk_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("clk_ts"),
        )
        .withWatermark("clk_ts", watermark)
    )
    cond = (
        (F.col("err_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("err_ts") - F.expr(f"INTERVAL {range_secs} SECONDS"))
        & (F.col("clk_ts") < F.col("err_ts"))
    )
    return err.join(clk, cond, "inner").select("err_id", "click_id")


def run_append_to_completion(
    df: DataFrame, query_name: str, registry_name: str | None = None
) -> DataFrame:
    """Drive an append-mode stream (joins, dedup, row-level transforms)
    over a finite source to completion; memory sink accumulates all
    appended rows."""
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
        record_stream_progress(q, query_name, registry_name)
    finally:
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {query_name}")


# ---------------------------------------------------------------------------
# custom stateful operator, Spark 4 typed-state API (transformWithState)
# ---------------------------------------------------------------------------

TWS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_c", T.LongType()),
        T.StructField("max_value_c", T.LongType()),
    ]
)


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """The Spark 4 successor of stateful_user_totals: the same per-user
    accumulator written against transformWithStateInPandas — typed
    ValueState handles instead of a single packed tuple, created once in
    init() rather than re-decoded per batch. At scale the typed-state
    API is the one to extend: it adds ListState/MapState (bounded
    per-key collections without full rewrite), state TTL, and timers,
    none of which applyInPandasWithState offers. Kept alongside the
    legacy form so both engine APIs stay covered.

    DEPENDENCY: the typed-state protocol speaks protobuf between the
    Python worker and the JVM state server. A real `google.protobuf`
    is used when installed; otherwise the vendored minimal runtime
    (tracy_matdb_spark/vendor/protobuf_shim — wire format from the
    public spec, the hdf5lite playbook) is activated, so this operator
    runs even in images without the protobuf pip package. The shim
    must also reach the WORKER processes: build the session through
    tracy_matdb_spark.session.get_session (which exports the shim on
    $PYTHONPATH before the JVM launches) or call
    vendor.ensure_protobuf() yourself first.

    Emits (count, cents sum, cents max) per user per batch — per-event
    cents quantization before the fold (_cents_np), same
    restart-order-free rationale as stateful_user_totals."""
    from tracy_matdb_spark.vendor import ensure_protobuf

    try:
        ensure_protobuf()
    except ImportError as exc:  # pragma: no cover - env-specific
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf (state "
            "server protocol) and the vendored runtime failed to import "
            "— the applyInPandasWithState twin (stateful_user_totals) "
            "covers the same semantics without it"
        ) from exc
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n long")
            self._sv = handle.getValueState("sv", "sv long")
            self._mx = handle.getValueState("mx", "mx long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n = self._n.get()[0] if self._n.exists() else 0
            sv_c = self._sv.get()[0] if self._sv.exists() else 0
            mx_c = self._mx.get()[0] if self._mx.exists() else None
            for pdf in rows:
                n += len(pdf)
                s, m = _cents_np(pdf["value"])
                sv_c += s
                mx_c = m if mx_c is None else max(mx_c, m)
            self._n.update((n,))
            self._sv.update((sv_c,))
            self._mx.update((mx_c,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value_c": [sv_c],
                    "max_value_c": [mx_c],
                }
            )

        def close(self) -> None:
            pass

    # timeMode "none": no timers are registered, and any timer mode makes
    # MicroBatchExecution schedule timer-sweep batches after every batch
    # ("No new data but cleaning up state") — with a finite source +
    # processAllAvailable that loop never terminates
    return events.groupBy("user_id").transformWithStateInPandas(
        Totals(), TWS_OUT, "update", "none"
    )


TWS_TYPEMAP_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
        T.StructField("n_values", T.LongType()),
        T.StructField("max_cents", T.LongType()),
    ]
)


def stateful_typemap_tws(events: DataFrame) -> DataFrame:
    """ListState + MapState coverage of the typed-state API (the two
    handle kinds stateful_user_totals_tws doesn't touch): per user, a
    MapState keyed by event_type accumulates (count, cents) and a
    ListState holds every observed cents value; the emitted row reads
    BOTH back through the protocol (map iterator + list iterator), so
    every state-server message family — ValueState's update/get plus
    ListStatePut/AppendList/ListStateGet and MapState
    UpdateValue/GetValue/ContainsKey/Iterator — crosses the protobuf
    boundary (vendored runtime when the pip package is absent).

    All accumulation is in INTEGER cents (round(value*100) per event is
    exact for 2-decimal data), so results are independent of row and
    batch order — the property that makes the batch-aggregate oracle
    exact."""
    from tracy_matdb_spark.vendor import ensure_protobuf

    ensure_protobuf()
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class TypeMap(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._per_type = handle.getMapState(
                "per_type", "event_type string", "cnt long, cents long"
            )
            self._vals = handle.getListState("vals", "c long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            for pdf in rows:
                cents = (pdf["value"] * 100).round().astype("int64")
                self._vals.appendList([(int(c),) for c in cents])
                grouped = pd.DataFrame(
                    {"t": pdf["event_type"], "c": cents}
                ).groupby("t")["c"]
                for etype, series_sum in grouped.sum().items():
                    n_new = int(grouped.count()[etype])
                    if self._per_type.containsKey((etype,)):
                        cnt, tot = self._per_type.getValue((etype,))
                    else:
                        cnt, tot = 0, 0
                    self._per_type.updateValue(
                        (etype,), (cnt + n_new, tot + int(series_sum))
                    )
            n_types = 0
            sum_cents = 0
            for _k, (cnt, tot) in self._per_type.iterator():
                n_types += 1
                sum_cents += tot
            n_values = 0
            max_cents = None
            for (c,) in self._vals.get():
                n_values += 1
                max_cents = c if max_cents is None else max(max_cents, c)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_types": [n_types],
                    "sum_cents": [sum_cents],
                    "n_values": [n_values],
                    "max_cents": [max_cents],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        TypeMap(), TWS_TYPEMAP_OUT, "update", "none"
    )


# ---------------------------------------------------------------------------
# Streaming first-seen LSH dedup (cross-batch, checkpoint-resumed state)
# ---------------------------------------------------------------------------

TWS_LSH_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("arrival", T.LongType()),
        T.StructField("conflict", T.LongType()),
    ]
)


def streaming_lsh_first_seen(band_rows: DataFrame) -> DataFrame:
    """Per-(band, sig) bucket-min tracker over a STREAM of band rows
    (doc_id, band, sig), ORDER-FREE: the emitted rows are DELTAS whose
    per-doc sums equal the batch bucket-min oracle under ANY arrival
    order (round-10; until round 9 this operator guarded an
    ascending-arrival precondition and failed loudly on violation —
    the stronger operator accepts the violation and reconciles).

    Each arriving doc emits one row with arrival=1 and conflict=1 iff
    the bucket already holds a smaller doc_id. When a SMALLER doc_id
    arrives late into an occupied bucket, ownership changes: the new
    doc emits (arrival=1, conflict=0) and one extra RECONCILIATION row
    (old_owner, arrival=0, conflict=1) flips the previous owner's flag
    — at any moment exactly one doc per bucket (the current min) has a
    zero conflict sum, so sum(conflict) per (doc, band) is 1 iff the
    doc is not the bucket minimum, which is the oracle's rule. The
    consumer aggregates n_bands = sum(arrival), n_conflicts =
    sum(conflict); both are order-independent sums, the same trick the
    integer PageRank uses for hash-parity.

    State is sharded BY BUCKET, the same key the batch LSH join
    shuffles on, so at 100 TB the state store scales with the number of
    occupied band-buckets (corpus near-dup structure), never with the
    stream length; per-bucket state is one long (the current min).
    Ownership changes emit at most one reconciliation row per bucket
    per batch (intra-batch rows are processed in ascending doc_id
    order, so only the batch minimum can take ownership)."""
    from tracy_matdb_spark.vendor import ensure_protobuf

    ensure_protobuf()
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class BucketFirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._mn = handle.getValueState("mn", "mn long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cur = self._mn.get()[0] if self._mn.exists() else None
            ids: list[int] = []
            for pdf in rows:
                ids.extend(int(x) for x in pdf["doc_id"])
            ids.sort()
            out_doc, out_arr, out_conf = [], [], []
            for did in ids:
                if cur is None:
                    cur = did
                    out_doc.append(did), out_arr.append(1), out_conf.append(0)
                elif did > cur:
                    out_doc.append(did), out_arr.append(1), out_conf.append(1)
                else:
                    # late smaller id: it takes the bucket; the previous
                    # owner's conflict=0 is reconciled with a +1 delta
                    out_doc.append(did), out_arr.append(1), out_conf.append(0)
                    out_doc.append(cur), out_arr.append(0), out_conf.append(1)
                    cur = did
            if ids:
                self._mn.update((cur,))
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "band": [int(key[0])] * len(out_doc),
                    "arrival": out_arr,
                    "conflict": out_conf,
                }
            )

        def close(self) -> None:
            pass

    # timeMode "none": see stateful_user_totals_tws — timer modes never
    # terminate under processAllAvailable on finite sources.
    # Output mode is APPEND (each input row yields exactly one output
    # row, once) so the result can flow to an exactly-once file sink —
    # required for checkpoint-resumed multi-run ingest (the memory sink
    # rejects recovery from a checkpoint).
    return band_rows.groupBy("band", "sig").transformWithStateInPandas(
        BucketFirstSeen(), TWS_LSH_OUT, "append", "none"
    )
