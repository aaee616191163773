"""Structured Streaming surface over the events table (SURVEY §2.9/§7 M5).

The reference is batch-only (ExecutionEnvironment, PipeLine.scala:8; no
windows/watermarks anywhere in its 570 LoC) — this module is the
north-star extension mandated by the target brief ("stream-processor",
Structured Streaming approach). Events are replayed from the parquet
file through a file stream source with ``Trigger.AvailableNow`` into a
memory sink, which gives deterministic, driver-checkable results while
exercising the real streaming operators (watermarks, windows, dedup,
arbitrary state).

At production scale the same plans run off Kafka/file sources with
continuous triggers — nothing here is test-only except the sink.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import events_ts_is_nanos
from ..functions.lambdas import bind

#: parquet physical schema of events with TIMESTAMP(NANOS) read as long
_EVENTS_NANOS_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING,"
    " value DOUBLE, props STRING"
)

#: schema for native TIMESTAMP(MICROS, isAdjustedToUTC=false) files —
#: the current testdata generation
_EVENTS_MICROS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING,"
    " value DOUBLE, props STRING"
)


def _stream_source(src: str) -> str:
    """Directory a file stream source can replay the table at ``src``
    from. FileStreamSource lists a directory, so a directory table (part
    files) streams in place; a single parquet file is staged as a
    symlink inside a directory of its own (the input stays untouched)."""
    if os.path.isdir(src):
        return src
    tag = hashlib.md5(src.encode()).hexdigest()[:8]
    stream_dir = os.path.join(tempfile.gettempdir(), "flps_stream", tag)
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, os.path.basename(src))
    if not os.path.exists(link):
        os.symlink(src, link)
    return stream_dir


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-replay stream of the events table.

    Streaming readers need an explicit schema, so the parquet footer is
    probed (catalog.events_ts_is_nanos) to pick it — same branching as
    catalog.load. NANOS files declare ``ts BIGINT`` (with the
    nanosAsLong conf) and rebuild a microsecond timestamp via exact
    integer division; MICROS files (the current testdata) declare
    ``ts TIMESTAMP_NTZ`` directly. Both branches then cast to session-TZ
    TIMESTAMP (pinned UTC, wall clock preserved): unlike batch, event
    time for watermarks must be TIMESTAMP, not NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    """
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    nanos = events_ts_is_nanos(src)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(
            _EVENTS_NANOS_SCHEMA if nanos else _EVENTS_MICROS_SCHEMA
        )
        .format("parquet")
        .load(_stream_source(src))
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


#: State-store partition count for streaming aggregations. Unlike batch
#: shuffles, each streaming state partition carries a per-micro-batch
#: state-store open/commit cost, so this is sized to STATE VOLUME (keys
#: held between batches), not to core count — the queries here keep
#: O(100..10k) keys (hour×type windows, per-user totals), where 8 stores
#: already parallelize fine and 32 measurably triple the batch time.
#: At production state sizes (10^8+ keys off Kafka) raise it so each
#: store's keyspace fits executor memory; it is locked into the
#: checkpoint at first start, consistent with Spark's contract.
STATE_PARTITIONS = 8


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str,
    state_partitions: int = STATE_PARTITIONS,
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into a memory sink and
    return the sink table. Deterministic: processes exactly the data
    available at start, then stops.

    ``spark.sql.shuffle.partitions`` is pinned to ``state_partitions``
    while the query starts (it becomes the state-store count for this
    query's lifetime), then restored so batch plans keep the session
    default."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return spark.table(query_name)


def tumbling_window_agg(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h windows per event_type: count + max(value).

    Watermark bounds state; complete output mode emits every window so
    the result equals the batch group-by (giving it a DuckDB oracle).
    max() (not sum) keeps doubles exact/order-independent.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("max_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            F.round("max_value", 6).cast("decimal(18,6)").alias("max_value"),
        )
    )


def sliding_window_counts(events: DataFrame) -> DataFrame:
    """Sliding windows (2h length, 1h slide): every event lands in two
    windows — the canonical overlap shape."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: sessions close after ``gap`` of
    inactivity. No SQL oracle (session assignment is stateful); the
    batch twin in tests is gaps-and-islands over lag()."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def dynamic_session_window_agg(events: DataFrame) -> DataFrame:
    """Session windows with a PER-EVENT gap (Spark's dynamic session
    window): purchases hold a session open 45 minutes, everything else
    15 — the real-world sessionization rule (high-intent events extend
    the session) that a fixed-gap window (ss3) can't express. Each
    event contributes the range [ts, ts+gap); overlapping ranges merge,
    session end = max(ts + gap) over the members. Same watermark/append
    contract as ss3, so only sealed sessions emit under replay."""
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("45 minutes")
    ).otherwise(F.lit("15 minutes"))
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup_keys(events: DataFrame) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type): emits the
    first occurrence of each key — projected to the key, that's exactly
    DISTINCT, hence oracle-checkable."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


_STATE_SCHEMA = "n BIGINT, mx DOUBLE"
_TOTALS_SCHEMA = "user_id BIGINT, n_events BIGINT, max_value DOUBLE"


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the Spark
    analogue of a Flink keyed ProcessFunction): per-user running
    count/max. Update mode; with AvailableNow file replay the final
    emission per user equals the batch aggregate, which tests assert.

    The state function is a *closure* on purpose: a module-level
    function would be cloudpickled by reference, requiring this package
    on every Python worker's import path — a closure ships by value and
    runs on stock workers.
    """

    def user_totals(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            user_totals,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_click_purchase(
    events: DataFrame, max_gap: str = "30 minutes"
) -> DataFrame:
    """Stream-stream event-time interval join: each click matched to
    purchases by the same user within ``max_gap`` after the click
    (inclusive both ends) — the Flink IntervalJoin / CEP-followed-by
    shape, and the one genuinely *stateful join* in the surface.

    Both sides carry watermarks plus a range condition on event time,
    which is what lets Spark bound join state: a buffered click can be
    dropped once the purchase-side watermark passes click_ts + max_gap.
    At 100 TB the state size is O(events inside the watermark horizon),
    not O(stream) — without the time bound this join is unrunnable.
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
        "inner",
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_at"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_at"),
    )


def stream_static_enrichment(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a broadcast
    dimension table, then aggregate per (event_type, segment).

    The static side is planned as a broadcast hash join against every
    micro-batch — no stream state at all, the canonical dimension-
    enrichment pattern. Left join keeps events with no dimension row
    (null segment), mirroring the reference's dict_decode default
    (PipeLine.scala:30 "Unknown").
    """
    enriched = events.join(
        F.broadcast(dim),
        events.user_id == dim.c_custkey,
        "left",
    )
    return enriched.groupBy(
        F.col("event_type"),
        F.coalesce(F.col("c_mktsegment"), F.lit("Unknown")).alias("segment"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def foreach_batch_parquet_sink(stream_df: DataFrame, path: str) -> str:
    """Custom sink via foreachBatch: every micro-batch lands in its own
    ``batch=<id>`` directory with mode=overwrite — the idempotent-write
    pattern that gives effectively-exactly-once file output (a retried
    batch overwrites its own directory instead of duplicating rows).

    With complete output mode each directory is a full snapshot, so the
    highest batch id is the final result. Returns the directory of that
    final snapshot. At scale foreachBatch is also where batch-only
    features (bucketed writes, MERGE into a warehouse table, JDBC
    upserts) attach to a stream.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(path, f"batch={batch_id}")
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [d for d in os.listdir(path) if d.startswith("batch=")]
    last = max(batches, key=lambda d: int(d.split("=", 1)[1]))
    return os.path.join(path, last)


def fold_drain(stream_df: DataFrame, fold, checkpoint: str) -> None:
    """Drain the stream with Trigger.AvailableNow through the
    foreachBatch ``fold(batch_df, batch_id)`` and wait for it. The
    checkpoint skips committed batches, so a restart with the same
    ``checkpoint`` folds only files that arrived since."""
    (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def transform_with_state_totals(events: DataFrame) -> DataFrame:
    """Per-user count/max via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API (typed ValueState handles, timers,
    schema'd state) next to ss5's classic applyInPandasWithState.

    Requires (a) the RocksDB state-store provider (set by the caller
    before ``start()``): transformWithState is implemented against
    RocksDB's column families, which is also the provider to run at
    production state sizes (state spills off-heap instead of living in
    executor JVM memory); and (b) ``google.protobuf`` on driver and
    Python workers (the TWS state-server protocol is protobuf-based) —
    ``streaming/protobuf_gate.ensure_protobuf`` locates a pure-Python
    runtime when no pip package exists, which is how this container
    runs it (registry query ss11, oracle-checked against the batch
    aggregate; ss5 covers the same semantics on the dependency-free
    applyInPandasWithState API).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mx", DoubleType()),
        ]
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, mx = self._totals.get()
            else:
                n, mx = 0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    mx = max(mx, float(pdf["value"].max()))
            self._totals.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType="user_id BIGINT, n_events BIGINT, max_value DOUBLE",
        outputMode="Update",
        timeMode="None",
    )


_EWMA_OUT_SCHEMA = "user_id BIGINT, n_events BIGINT, ewma DOUBLE"
_EWMA_STATE_SCHEMA = "n BIGINT, s DOUBLE"


def stateful_user_ewma(events: DataFrame, alpha: float = 0.1) -> DataFrame:
    """Order-sensitive custom stateful operator: per-user EWMA of event
    values (the streaming twin of operators.relational.grouped_ewma).
    Each batch's rows are folded in (ts, event_id) order with exactly
    ``α·x + (1-α)·s`` per step, so with AvailableNow single-batch file
    replay the final emission is bit-identical to the batch fold — and
    therefore to the DuckDB list_reduce oracle.

    Production note: with multi-batch replay, cross-batch order is
    arrival order; a strictly event-time-ordered EWMA then needs
    watermark-delayed buffering (hold rows in state, fold on timer
    past the watermark). The state/fold logic is unchanged — only the
    flush trigger moves.
    """
    a, b = float(alpha), 1.0 - float(alpha)

    def user_ewma(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, None)
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for x in pdf["value"]:
                s = float(x) if s is None else a * float(x) + b * s
                n += 1
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [s]}
        )

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            user_ewma,
            outputStructType=_EWMA_OUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-replay stream of the documents table (staged by
    ``_stream_source`` like read_events_stream; schema probed from the
    batch footer since streaming readers need one up front).

    The feed is round-robin repartitioned to the session's parallelism
    — the streaming twin of ``dedup._spread`` (optimization guide §2):
    a file-replay micro-batch arrives in 1-2 scan partitions, and every
    consumer of this feed runs a CPU-heavy per-document text pass
    (tokenize/shingle/minhash for ss18, Gopher signals + DSIR for
    ss19/ss20, fingerprinting for ss10) that would otherwise serialize
    onto 1-2 of local[32]'s cores (measured 18.6 s -> ~4 s on the ss18
    drain). Row-to-partition assignment is Spark's deterministic
    sort-before-repartition round-robin, and every consumer is
    key-based (band joins, fingerprint keys, keyed dropDuplicates), so
    the emitted rows are partitioning-invariant."""
    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(_stream_source(src))
        .repartition(spark.sparkContext.defaultParallelism)
    )


def snapshot_dedup_stream(
    docs_stream: DataFrame, snapshot_fps: DataFrame
) -> DataFrame:
    """Streaming ingestion dedup against a static corpus snapshot: the
    incoming feed's fingerprints are anti-joined against the snapshot's
    materialized fingerprint set (stream-static left-anti — stateless,
    the static side is just a lookup), then first-occurrence-deduped
    within the stream (dropDuplicates keeps unbounded key state; a
    production feed bounds it with dropDuplicatesWithinWatermark).
    Emits the surviving fingerprint keys — the streaming twin of the
    batch incremental-dedup tier (ll45): snapshot never rescanned,
    per-batch cost is the batch plus a hash probe."""
    from ..functions.text import normalize_text

    fp = docs_stream.select(
        F.md5(normalize_text(F.col("text"))).alias("fp")
    )
    return fp.join(snapshot_fps, "fp", "left_anti").dropDuplicates(["fp"])


def late_drop_two_phase(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    delay: str = "1 hour",
) -> DataFrame:
    """Watermark late-data drop made observable, plus checkpoint
    recovery: the events table is replayed in TWO AvailableNow runs
    sharing one checkpoint — first the even event_ids, then (after the
    watermark has advanced to max(even ts) - delay and been persisted)
    the odd ones. Odd rows whose window closed in phase 1 arrive
    later than the recovered watermark and are genuinely dropped;
    odd rows in still-open windows merge into the recovered state.
    The emitted set is therefore a pure function of the input table:

    - windows with end <= wm1 count ONLY even rows (odd ones dropped),
    - windows with wm1 < end <= wm2 count ALL rows,
    - windows with end > wm2 are withheld (never finalized),

    with wm1 = max(even ts) - delay, wm2 = max(ts) - delay — which is
    exactly the SQL the ss12 oracle runs. The parquet sink (the
    fault-tolerant one) survives the restart; a memory sink would not.

    Scale note: this shape is the production topology — file feed,
    checkpointed state, append emission on watermark close; the
    restart proves state/watermark recovery, which AvailableNow
    single-run queries (ss1-ss10) never exercise.
    """
    import glob
    import shutil

    from ..catalog import load

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tag = hashlib.md5(f"{sf_dir}|{window}|{delay}".encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), "flps_latedrop", tag)
    shutil.rmtree(base, ignore_errors=True)
    feed = os.path.join(base, "feed")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    tmp = os.path.join(base, "tmp")
    os.makedirs(feed)

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )

    def stage(df: DataFrame, name: str) -> None:
        d = os.path.join(tmp, name)
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(feed, name + ".parquet"))

    def run_once() -> None:
        stream = spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, value DOUBLE"
        ).parquet(feed)
        agg = (
            stream.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", delay)
            .groupBy(F.window("ts", window).alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        try:
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()

    stage(ev.where(F.col("event_id") % 2 == 0), "f1")
    run_once()
    stage(ev.where(F.col("event_id") % 2 == 1), "f2")
    run_once()
    return spark.read.parquet(out).select(
        F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col("n").cast("bigint").alias("n"),
    )


def ohlc_bars_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming OHLC: hourly bars per user, the streaming twin of the
    batch o6 resample. open/close are min/max over a (ts, event_id,
    value) struct — min/max are plain declarative aggregates, so the
    state store holds one partially-merged bar per open (window, user)
    group and late rows within the watermark fold in exactly like any
    other agg; no ordered-state custom operator needed. All-exact
    aggregates (no double sums), so complete mode equals the batch
    group-by bit-for-bit and the bar is oracle-checkable."""
    rec = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.min(rec).alias("o"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(rec).alias("c"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "user_id",
            F.col("o")["value"].alias("open"),
            "high",
            "low",
            F.col("c")["value"].alias("close"),
            F.col("volume").cast("bigint").alias("volume"),
        )
    )


def streaming_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` on (user_id, event_type): like
    ``streaming_dedup_keys`` but the key state EXPIRES once the
    watermark passes a key's last-seen event time + delay — the
    unbounded-stream answer (plain dropDuplicates state grows forever;
    this caps it at one watermark window of keys). Emits the first
    occurrence per key within each watermark window; under the
    file-replay harness everything arrives in the first micro-batch
    (watermark still at origin), so the emitted key set is exactly
    DISTINCT and stays oracle-checkable — the state-expiry behavior is
    the operational contract documented here, not a test-visible
    difference."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def stream_stream_left_outer(
    spark: SparkSession,
    sf_dir: str,
    max_gap: str = "30 minutes",
    delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, matched to
    purchases within ``max_gap`` — and clicks with NO purchase emit a
    null-padded row once the watermark proves no match can still
    arrive. That's the semantics inner joins (ss6) can't give: outer
    results are withheld until the state is provably sealed.

    Replay staging: the feed carries the events table plus one
    sentinel click/purchase pair far past max(ts) under user_id = -1.
    The sentinels flow through both sides' type filters, advancing both
    watermarks beyond every real click's match bound, so the no-data
    batch after the last file seals and emits ALL real unmatched
    clicks — the emitted set is then exactly the batch LEFT JOIN and
    stays oracle-checkable. (The sentinel click's own bound sits past
    the final watermark, so it is withheld; the user_id filter is a
    belt-and-suspenders guard.)

    Scale shape: same bounded state as ss6 — a buffered click drops
    once the purchase-side watermark passes click_ts + max_gap.
    """
    import glob
    import shutil

    from ..catalog import load

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tag = hashlib.md5(f"{sf_dir}|{max_gap}|lo".encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), "flps_loj", tag)
    shutil.rmtree(base, ignore_errors=True)
    feed = os.path.join(base, "feed")
    tmp = os.path.join(base, "tmp")
    os.makedirs(feed)

    ev = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type",
    )
    hi = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]  # staging scalar
    sent = spark.createDataFrame(
        [(-1, hi, -1, "click"), (-2, hi, -2, "purchase")],
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING",
    ).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
        "user_id",
        "event_type",
    )

    def stage(df: DataFrame, name: str) -> None:
        d = os.path.join(tmp, name)
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(feed, name + ".parquet"))

    stage(ev, "events")
    stage(sent, "sentinel")

    stream = (
        spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,"
            " event_type STRING"
        )
        .parquet(feed)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", delay)
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")
        ),
        "left_outer",
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_at"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "purchase_at"
        ),
    )


def chained_stateful_dedup_agg(events: DataFrame) -> DataFrame:
    """TWO stateful operators chained in one streaming query —
    watermarked dedup feeding a tumbling-window count. Spark long
    forbade this (one stateful op per query); the modern multi-stateful
    pipeline is the shape real ingest topologies need: dedup at the
    door, aggregate behind it, one checkpoint for both states.

    Dedup keys include the hour bucket, so each (user, type) counts
    once per hour REGARDLESS of arrival order — that's what keeps the
    result a pure function of the input (= DISTINCT per hour in batch)
    rather than of micro-batch timing.

    State-bound caveat: the derived ``hour`` column carries no
    watermark metadata, so the dedup state here never expires —
    acceptable for a replayed/bounded feed (this oracle-checked shape),
    UNBOUNDED on a true endless stream. The production variant is
    ``dropDuplicatesWithinWatermark`` (ss14,
    ``streaming_dedup_within_watermark``), whose state is evicted once
    the watermark passes; chain THAT before the windowed count for an
    endless ingest topology."""
    return (
        events.withWatermark("ts", "1 hour")
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .dropDuplicates(["user_id", "event_type", "hour"])
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_distinct_pairs"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.col("n_distinct_pairs").cast("bigint").alias("n_distinct_pairs"),
        )
    )


def neardup_probe_stream(
    docs_stream: DataFrame,
    snapshot_sh: DataFrame,
    snapshot_banded: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming NEAR-dup probe against a persisted MinHash index —
    the streaming twin of the batch incremental tier's persisted-index
    flow (``dedup.minhash_dedup_incremental(snapshot_index=...)``,
    ll63): each incoming document is shingled and signed in-stream
    (narrow, per-row — the same portable md5 pipeline as the batch
    index, so collisions agree exactly), its band keys probe the
    STATIC band table (stream-static inner equi-join — stateless, the
    snapshot is a materialized lookup, never rescanned), and every
    candidate is exact-Jaccard-verified against the static shingle
    sets with one array_intersect expression — no stream aggregation
    needed for verification because the shingle SETS ride along with
    both sides. Multi-band hits of the same pair are collapsed by the
    keyed dropDuplicates (the only stateful operator; a production
    feed bounds its state with dropDuplicatesWithinWatermark once doc
    ids carry event time).

    Emits (doc_id, dup_of, jaccard): one row per verified
    (delta doc, snapshot neighbor) pair, self-matches excluded.

    The probe signs documents with portable_hash40, so the snapshot
    index must have been built with hasher="portable" — a mismatched
    index would never collide with the stream's band keys and every
    near-dup would be silently missed. Indexes tagged by
    ``build_minhash_index`` are validated here (ADVICE r5).
    """
    from ..functions.text import tokenize, word_shingles
    from ..operators.dedup import (
        _band_keys,
        _minhash_signature,
        _require_index_hasher,
        portable_hash40,
    )

    _require_index_hasher(snapshot_banded, "bhash", "portable")
    _require_index_hasher(snapshot_sh, "sig", "portable")

    sh = docs_stream.select(
        F.col("doc_id"),
        word_shingles(tokenize(F.col("text")), k).alias("shingles"),
    ).select(
        "doc_id",
        "shingles",
        _minhash_signature(
            F.transform(F.col("shingles"), portable_hash40), num_hashes
        ).alias("sig"),
    )
    # a document with no shingles gets a null band array, so explode
    # emits no rows for it: a size(shingles) > 0 Filter would instead
    # be pushed below the shingle projection with its definition
    # substituted in, tokenizing every document a second time
    banded_d = sh.select(
        "doc_id",
        "shingles",
        F.explode(
            F.when(
                F.size("shingles") > 0,
                _band_keys(F.col("sig"), num_hashes, bands, portable_hash40),
            )
        ).alias("bk"),
    ).select("doc_id", "shingles", "bk.band", "bk.bhash")
    snap_b = snapshot_banded.select(
        F.col("doc_id").alias("snap_id"), "band", "bhash"
    )
    snap_sh = snapshot_sh.select(
        F.col("doc_id").alias("snap_id"), F.col("shingles").alias("snap_sh")
    )
    inter = F.size(F.array_intersect(F.col("shingles"), F.col("snap_sh")))
    union = (
        F.size("shingles") + F.size("snap_sh") - inter
    )
    return (
        banded_d.join(snap_b, ["band", "bhash"])
        .where(F.col("doc_id") != F.col("snap_id"))
        .join(snap_sh, "snap_id")
        .select(
            "doc_id",
            F.col("snap_id").alias("dup_of"),
            F.round(
                F.try_divide(inter.cast("double"), union.cast("double")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .dropDuplicates(["doc_id", "dup_of"])
    )


def dsir_gate_stream(
    docs_stream: DataFrame,
    ratio_rows: list[tuple[int, float]],
    buckets: int = 256,
    threshold: float = 0.0,
    default_lr: float = 0.0,
) -> DataFrame:
    """Streaming DSIR quality gate — the ingest-time form of the
    learned-selection tier (ll53/ll89): the bucket→log-ratio table is
    TRAINED batch-side (``importance.dsir_logweights``'s ratio, ≤
    ``buckets`` rows — collected once, the BPE-merge-table k-row
    boundary class) and baked into a map literal, so scoring is a
    single STATELESS projection per document: hash its bigrams, look
    each bucket up in the map, sum. No stream aggregation, no state
    store, no watermark — the shape that keeps an ingest gate at feed
    throughput.

    Per-bucket terms c·lr are rounded to 9dp and summed as exact
    DECIMAL over the doc's SORTED distinct buckets, so the score is
    fold-order-free and a batch SQL twin reproduces it bit-exactly
    (this op's oracle groups by bucket instead — identical sums
    because the partials are exact).

    Buckets the trained table has never seen (expected in production —
    the table is batch-trained, the stream is NEW data) score
    ``default_lr`` instead of nulling the whole DECIMAL fold and
    silently dropping the document (ADVICE r6): pass the smoothed
    unseen-bucket ratio from training (DSIR's add-one smoothing gives
    every bucket a finite ratio) or leave 0.0 for "neutral". The
    registered query trains on the full corpus so every bucket is
    mapped and the default never fires there.

    Emits (doc_id, n_bigrams, log_weight) for documents scoring
    >= ``threshold`` (docs at least as target-like as the raw
    average, at the default 0.0)."""
    from ..operators.importance import _bigram_buckets

    bks = _bigram_buckets(F.col("text"), buckets)
    staged = docs_stream.select(F.col("doc_id"), bks.alias("bks"))
    scored = staged.select(
        "doc_id",
        F.size("bks").cast("bigint").alias("n_bigrams"),
        _dsir_map_log_weight(ratio_rows, default_lr).alias("log_weight"),
    )
    return scored.where(F.col("log_weight") >= F.lit(float(threshold)))


def _dsir_map_log_weight(
    ratio_rows: list[tuple[int, float]], default_lr: float
) -> Column:
    """The baked map-literal DSIR scorer over a staged ``bks`` bucket
    array column — dsir_gate_stream's fold, shared with the composed
    ingest gate (curation_gate_stream). Per-bucket terms c·lr rounded
    9dp and summed as exact DECIMAL over the SORTED distinct buckets,
    so the score is fold-order-free and batch-SQL-reproducible."""
    mapping = F.map_from_arrays(
        F.array(*[F.lit(int(b)) for b, _ in ratio_rows]),
        F.array(*[F.lit(float(lr)) for _, lr in ratio_rows]),
    )

    def fold(bks: Column) -> Column:
        terms = F.transform(
            F.array_sort(F.array_distinct(bks)),
            lambda b: F.round(
                F.size(F.filter(bks, lambda x: x == b))
                * F.coalesce(
                    F.element_at(mapping, b), F.lit(float(default_lr))
                ),
                9,
            ).cast("decimal(28,9)"),
        )
        # the merge must return the accumulator's exact type: DECIMAL
        # addition widens precision (28,9)+(28,9) -> (29,9), so cast
        # back
        return F.aggregate(
            terms,
            F.lit(0).cast("decimal(28,9)"),
            lambda acc, t: (acc + t).cast("decimal(28,9)"),
        )

    # ``bks`` is bound once: the caller's gate filter is pushed below
    # the staging projection with the bucket array's definition
    # substituted in, and a bare column reference inside the per-bucket
    # count would then re-run the whole tokenize/hash pass once per
    # distinct bucket (the gate over sf0.001's 500 documents: 42 s
    # before, 2 s after, local[4])
    return F.round(bind(F.col("bks"), fold).cast("double"), 6)


def curation_gate_stream(
    docs_stream: DataFrame,
    snapshot_fps: DataFrame,
    ratio_rows: list[tuple[int, float]],
    buckets: int = 256,
    threshold: float = 0.0,
    default_lr: float = 0.0,
) -> DataFrame:
    """The COMPOSED streaming ingest gate — ll94's curation recipe in
    its at-ingest form, chaining three audited streaming devices in
    one query: exact dedup against the persisted corpus snapshot
    (ss10's stream-static fingerprint anti-join), exact dedup WITHIN
    the feed (ss4's keyed dropDuplicates state), and the learned DSIR
    quality gate (ss19's stateless map-literal scorer). The quality
    rules ran upstream (the caller filters on the Gopher signal frame
    — stateless projections compose freely before this).

    Emits (fp, n_bigrams, log_weight) keyed by FINGERPRINT, not
    doc_id: which copy of a duplicated text arrives first is
    nondeterministic under replay (the ss4/ss10 contract), but every
    copy has the same fingerprint, the same tokens (the fingerprint
    normalization — lower + whitespace-collapse — is invisible to the
    tokenizer), hence the same bigram buckets and score, so the
    emitted SET is deterministic and batch-SQL-checkable.

    Scale: the anti-join is stream-static on the fp (the snapshot side
    is a materialized index), the within-feed state is one fp key per
    distinct text, scoring is stateless — no watermark, no windows,
    feed-rate throughput like ss19."""
    from ..operators.importance import _bigram_buckets

    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    staged = docs_stream.select(
        fp.alias("fp"),
        _bigram_buckets(F.col("text"), buckets).alias("bks"),
    )
    fresh = staged.join(snapshot_fps, "fp", "left_anti")
    uniq = fresh.dropDuplicates(["fp"])
    scored = uniq.select(
        "fp",
        F.size("bks").cast("bigint").alias("n_bigrams"),
        _dsir_map_log_weight(ratio_rows, default_lr).alias("log_weight"),
    )
    return scored.where(F.col("log_weight") >= F.lit(float(threshold)))
