"""Structured Streaming operators — SURVEY.md §2.10 (stm_*).

The reference runs scheduled batch pulls from provider APIs ([P
high], SURVEY §3.1); the Spark-native equivalent is micro-batch
Structured Streaming with ``trigger(availableNow=True)`` — drain
everything available, maintain state (windows / dedup) exactly as a
24/7 stream would, then stop. Results land in a memory sink and are
returned as a batch DataFrame (driver contract requires DataFrame
returns).

Determinism: availableNow + a single input snapshot = one
deterministic batch sequence, so windowed/dedup results equal their
batch twins and are hash-checkable (SURVEY §7 hard-part #3). The
late-data demo forces multi-batch processing with
maxFilesPerTrigger=1 and is declared rows-only.

Every file stream reads its staged parquet through ``_stream_files``
(schema from the footers; one micro-batch per file, or one for all),
and every transformWithState key runs through ``_tws_drain``.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from ..operators.aggregates import _hll_estimate, _hll_oracle, _hll_registers
from ..registry import query
from ..session import conf_override
from ..sources.sinks import _CDC_ORACLE, _cdc_log_parts
from ..tables import (
    corpus_scratch,
    events_ts_to_timestamp,
    load,
    parquet_schema,
    read_parquet,
    run_scratch,
    scratch_dir,
    stage_scratch,
    write_one_parquet,
)

# The file stream source requires an explicit schema. events.ts has
# shipped as both TIMESTAMP(NANOS) (long under nanosAsLong) and
# TIMESTAMP(MICROS) (NTZ) — so every file stream takes its schema from
# the footers of the files actually staged (tables.parquet_schema, in
# _stream_files), and the events streams normalize the ts dtype
# post-read by events_ts_to_timestamp, exactly like the batch loader.
# A hard-coded schema here cost round 2 three streaming keys when the
# testdata encoding flipped.


# A stateful micro-batch pays a fixed per-partition cost (state store
# open/commit + task launch) every batch; with the session's batch
# setting of 32 that fixed cost dominates sub-second streams at
# sf<=0.1. The state-partition count is baked into each query's NEW
# checkpoint at first batch, so narrowing it for a drain only affects
# that self-contained drain. At 100 TB you'd raise it (state
# partitioning, like shuffle partitioning, scales with executors) —
# this is a test-latency knob, not a semantics change: windowed/dedup
# results are partitioning-invariant.
_STREAM_PARTITIONS = {"spark.sql.shuffle.partitions": "8"}
_ROCKSDB = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
}


def _run_to_memory(
    sdf: DataFrame, prefix: str, mode: str, checkpoint: str | None = None
) -> DataFrame:
    """Drain ``sdf`` under availableNow into a memory sink named
    ``{prefix}_<uuid>`` (so reruns never collide), with the
    ``_STREAM_PARTITIONS`` override, and return the sink's table; the
    sink's temp view is dropped, also when the drain raises."""
    spark = sdf.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    writer = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    try:
        with conf_override(spark, _STREAM_PARTITIONS):
            writer.start().awaitTermination()
        return spark.table(name)
    finally:
        # the frame spark.table resolved keeps the sink's rows; only
        # the session's name for them goes
        spark.catalog.dropTempView(name)


def _stream_files(spark: SparkSession, indir: str, per_file: bool) -> DataFrame:
    """File-source stream over the parquet files staged in ``indir``,
    with the schema their footers give. ``per_file`` makes each file
    its own micro-batch (``maxFilesPerTrigger=1``), so stream state
    must carry across batches; otherwise one batch takes every file."""
    reader = spark.readStream.schema(parquet_schema(spark, indir))
    if per_file:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(indir)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. The file source needs
    a directory, so the single parquet file is staged (hard-linked or
    copied) into a scratch dir, and re-staged when the source changes."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = f"{sf_dir}/events.parquet"

    def build(indir: str) -> None:
        os.makedirs(indir)
        dst = os.path.join(indir, "events.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
            shutil.copystat(src, dst)

    stage = stage_scratch("stream_events", sf_dir, "events", build)
    return events_ts_to_timestamp(_stream_files(spark, stage, per_file=False))


@query(
    "stm_tumbling_availablenow",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stm_tumbling_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of evt_tumbling_hour: readStream -> hourly
    window agg -> memory sink, availableNow. Same result as the batch
    query — micro-batch is just incremental planning over the same
    logical plan ([P high]: scheduled pulls -> micro-batch)."""
    agg = (
        _stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
    )
    return _run_to_memory(agg, "stm_tumbling", "complete")


@query(
    "stm_watermark_dedup",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events
    GROUP BY event_type
    """,
)
def stm_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: withWatermark(1h) + dropDuplicates(event_id),
    then count per type. Idempotent re-ingest semantics ([P high]:
    overlapping provider re-pulls). The watermark bounds dedup state
    at 100 TB — old keys are evicted after the lateness horizon."""
    deduped = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return _run_to_memory(deduped, "stm_dedup", "complete")


def _rate_micro_batches(spark: SparkSession) -> DataFrame:
    """Spark's deterministic ``rate-micro-batch`` source: 2000 rows a
    batch over 4 partitions, ``value`` the global row index, every row
    of batch b stamped b minutes after the epoch."""
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 2000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60000)
        .load()
    )


@query(
    "stm_rate_source_window",
    oracle="""
    SELECT CAST(v // 2000 AS BIGINT) AS minute_idx,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM generate_series(0, 9999) t(v)
    GROUP BY 1
    """,
)
def stm_rate_source_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL (non-file) streaming source with exactly-once restart
    semantics: Spark's built-in deterministic ``rate-micro-batch``
    source (each batch is exactly ``rowsPerBatch`` rows; ``value`` is
    the global row index; every row in batch b carries timestamp
    startTimestamp + b·advanceMillisPerBatch). The query is run as
    FIVE SEPARATE availableNow drains sharing one checkpoint — each
    drain processes exactly one batch and stops, the next restart
    resumes from the committed offset, and the windowed-aggregate
    state store recovers across every restart — so the final complete-
    mode output is the exact 5-batch aggregate with no duplicates and
    no gaps. This is the offset-log/state-recovery demo the file-based
    stm_* keys can't express (their sources re-list files), and the
    closest sandbox-honest stand-in for a Kafka replay (VERDICT r6
    "What's missing" #4).

    Determinism: value and timestamp are pure functions of the batch
    index, so the oracle is closed-form over generate_series; the
    window start is emitted as an INTEGER minute index via
    unix_millis (instant-based — immune to the driver session's local
    timezone, unlike a raw timestamp column from a non-parquet
    source). All-integer outputs; DuckDB's HUGEINT sum is cast back
    to BIGINT (hazard #1). The per-run checkpoint keeps reruns
    idempotent (a reused checkpoint would CONTINUE past batch 5);
    it is removed after the final drain."""
    with run_scratch("stm_rate_ckpt") as ckpt:
        for b in range(5):
            agg = (
                _rate_micro_batches(spark)
                .groupBy(F.window("timestamp", "1 minute").alias("w"))
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("value").alias("sum_value"),
                )
                .select(
                    (F.unix_millis(F.col("w.start")) / F.lit(60000))
                    .cast("long")
                    .alias("minute_idx"),
                    "n_rows",
                    "sum_value",
                )
            )
            sink = _run_to_memory(agg, "stm_rate", "complete", ckpt)
        # decouple the returned frame from the about-to-be-removed
        # checkpoint (memory-sink rows live on the driver already)
        return spark.createDataFrame(sink.collect(), sink.schema)


@query(
    "stm_state_store_read",
    oracle="""
    SELECT CAST(v // 2000 AS BIGINT) AS minute_idx,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM generate_series(0, 5999) t(v)
    GROUP BY 1
    """,
)
def stm_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATE STORE READER (Spark 4 `statestore` data source): a
    checkpointed streaming aggregation's internal state inspected
    OFFLINE as a DataFrame — the ops/debugging surface for a 24/7
    pipeline (what is my watermark holding? which window's count is
    wrong?) that file-sink outputs can't show. A 3-restart
    deterministic rate-micro-batch windowed count builds the
    checkpoint (same exactly-once machinery as
    stm_rate_source_window), then `spark.read.format("statestore")
    .load(ckpt)` reads the LAST committed state: key = the window
    struct, value = the running count. The minute index is emitted
    via unix_millis (tz-immune) and the state counts are
    closed-form, so the read is hash-checkable — a dropped batch,
    double-applied batch, or state-schema drift flips it."""
    with run_scratch("stm_ssr_ckpt") as ckpt:
        for _ in range(3):
            agg = _rate_micro_batches(spark).groupBy(
                F.window("timestamp", "1 minute").alias("w")
            ).agg(F.count(F.lit(1)).alias("n_rows"))
            _run_to_memory(agg, "stm_ssr", "complete", ckpt)
        state = (
            spark.read.format("statestore")
            .load(ckpt)
            .select(
                (F.unix_millis(F.col("key.window.start")) / F.lit(60000))
                .cast("long")
                .alias("minute_idx"),
                # the state schema names the field after the PHYSICAL
                # aggregate (count), not the DataFrame alias
                F.col("value.count").cast("long").alias("n_rows"),
            )
        )
        # materialize BEFORE the checkpoint (the reader's backing
        # files) is removed
        return spark.createDataFrame(state.collect(), state.schema)


@query("stm_late_data_drop")  # rows-only: engine-specific watermark semantics
def stm_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics demo (rows-only). Two files —
    recent events, then events >2h older — processed as separate
    micro-batches (maxFilesPerTrigger=1). The watermark advances
    after batch 1, so batch 2's late rows are dropped from the
    append-mode windowed aggregate ([P med]: late provider data)."""
    def build(indir: str) -> None:
        # the two files are a pure function of the input snapshot, so
        # stage_scratch reuses them until events.parquet changes
        # instead of paying two coalesce(1) write jobs per run
        ev = load(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props",
        )
        recent = ev.where(F.col("ts") >= "2024-01-10")
        late = ev.where(F.col("ts") < "2024-01-08")
        for i, part in enumerate([recent, late]):
            dst = os.path.join(indir, f"f{i}.parquet")
            write_one_parquet(part, dst)
            # file source orders batches by modification time: force it
            os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    indir = stage_scratch("stm_late_data", sf_dir, "events", build)
    agg = (
        _stream_files(spark, indir, per_file=True)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour_start"), "n_events")
    )
    # a fresh checkpoint per run: file-source offsets live there, and
    # reusing one would skip all input
    with run_scratch("stm_late_data") as ckpt:
        return _run_to_memory(agg, "stm_late", "append", ckpt)


# NB: the oracle's "> 1800" gap rule must stay in lockstep with Spark's
# merge-at-exactly-gap session semantics; the same rule appears in the
# sessionization oracles in events.py and stream_queries.py —
# change all or none (oracle SQL is newline-collapsed, so no -- comments).
@query(
    "stm_stateful_session",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ), sess AS (
      SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), sized AS (
      SELECT user_id, sid, COUNT(*) AS n FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n) AS BIGINT) AS max_session_events
    FROM sized GROUP BY user_id
    """,
)
def stm_stateful_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator via applyInPandasWithState:
    per-user 30-minute-gap sessionization with explicit GroupState
    (last event time + running session count carried across
    micro-batches). The arbitrary-state API is the Spark-native
    answer to operators the built-in windowed aggs can't express —
    the micro-batch generalization of the reference's scheduled
    stateless pulls.

    Determinism/hash-check: availableNow over the single staged
    snapshot yields one micro-batch containing every event, and the
    UDF sorts each group by (ts, event_id), so the emitted session
    stats equal the batch lag-based sessionization SQL. State is
    still exercised (written, then read back on the final emit)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _stream_events(spark, sf_dir).select("user_id", "ts", "event_id")

    def sessionize(key, pdfs, state: GroupState):
        gap_s = 1800
        if state.exists:
            last_ts, n_sessions, cur_len, max_len = state.get
        else:
            last_ts, n_sessions, cur_len, max_len = None, 0, 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for t in pdf["ts"]:
                t = t.timestamp()
                if last_ts is None or t - last_ts > gap_s:
                    n_sessions += 1
                    max_len = max(max_len, cur_len)
                    cur_len = 1
                else:
                    cur_len += 1
                last_ts = t
        max_len = max(max_len, cur_len)
        state.update((last_ts, n_sessions, cur_len, max_len))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "max_session_events": [max_len],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id long, n_sessions long, max_session_events long",
        stateStructType="last_ts double, n_sessions long, cur_len long, max_len long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, "stm_sess", "update")


@query(
    "stm_stateful_running",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stm_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming running totals per event type in complete output
    mode — the stateful-aggregation surface without custom state
    ([P low]: running totals). Hash-checked since round 4: the
    availableNow drain's FINAL complete-mode snapshot equals the
    batch aggregate exactly. Counts are arrival-order independent;
    IEEE double sums are NOT (micro-batch vs DuckDB accumulation
    order can flip the 4th decimal), so the value is cast to
    DECIMAL(18,4) inside SUM on BOTH sides — exact, order-free
    addition, same pattern as snk_parquet/src_schema_merge."""
    agg = (
        _stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias("sum_value"),
        )
    )
    return _run_to_memory(agg, "stm_running", "complete")


@query(
    "stm_join_stream_static",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def stm_join_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    static customer dimension inside the micro-batch plan, then
    aggregated — the canonical streaming-enrichment pattern (each
    micro-batch joins against the CURRENT dim snapshot; no state is
    kept for the static side, and at 100 TB the dim side is a
    broadcast per micro-batch or a Delta/lake table picked up fresh
    on every trigger)."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = (
        _stream_events(spark, sf_dir)
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias("sum_value"),
        )
    )
    return _run_to_memory(enriched, "stm_enrich", "complete")


@query(
    "stm_foreachbatch_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stm_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: the streaming escape hatch for sinks Spark
    has no native writer for (the reference's Socrata/Postgres upsert
    targets, [P high] — each micro-batch would be one idempotent
    upsert call). Here each micro-batch appends to parquet; after the
    availableNow drain the sink directory is read back and aggregated
    — content is batching-invariant, so the result hash-matches the
    batch oracle."""
    # fixed sink path per sf_dir, cleared up front: foreachBatch
    # APPENDS per micro-batch, so a stale directory would double-count;
    # not a run_scratch directory, since the returned frame reads it lazily
    out = corpus_scratch("stm_foreachbatch", sf_dir, "out")
    shutil.rmtree(out, ignore_errors=True)

    def _write_batch(bdf: DataFrame, _batch_id: int) -> None:
        bdf.select("event_id", "event_type", "value").write.mode("append").parquet(out)

    with run_scratch("stm_foreachbatch") as ckpt:
        (
            _stream_events(spark, sf_dir)
            .writeStream.foreachBatch(_write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    back = read_parquet(spark, out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias("sum_value"),
    )


@query(
    "stm_sliding_watermark",
    oracle="""
    WITH offs AS (SELECT UNNEST([0, 1800]) AS off)
    SELECT make_timestamp(
             ((FLOOR((epoch(CAST(ts AS TIMESTAMP)) - off) / 3600) * 3600 + off) * 1000000)::BIGINT
           ) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
    FROM events CROSS JOIN offs
    GROUP BY 1, 2
    """,
)
def stm_sliding_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of evt_sliding_window: 1-hour windows sliding
    every 30 minutes (each event lands in 2 windows) with a 1-hour
    watermark, drained under availableNow. The watermark bounds
    window state at 100 TB — closed windows are evicted from the
    state store once the event-time horizon passes, so state size
    follows the lateness bound, not the stream length. Complete mode
    + one input snapshot keeps the result equal to the batch twin
    (hash-checkable)."""
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "stm_sliding", "complete")


# NB: the oracle's "> 1800" gap rule must stay in lockstep with Spark's
# merge-at-exactly-gap session semantics; the same rule appears in the
# sessionization oracles in events.py and stream_queries.py —
# change all or none (oracle SQL is newline-collapsed, so no -- comments).
@query(
    "stm_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def stm_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING native session windows: the same
    ``session_window('ts', '30 minutes')`` aggregate as the batch twin
    (evt_session_window_native), but running inside a micro-batch
    stream with a watermark — the state store merges/extends open
    sessions across events and evicts sessions older than the
    watermark horizon (the 100 TB story: session state is bounded by
    the lateness bound, not the stream length). availableNow over one
    snapshot + complete mode keeps the result equal to the batch
    lag/cumsum sessionization, so the key is hash-checked — the
    strongest check the driver supports for a stateful stream.

    Emits (user_id, session_start, n_events, sum_value); session_end
    is omitted because complete-mode merge timing makes end = max ts
    + gap the only engine-defined column — start/count/sum are
    engine-invariant."""
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "stm_sesswin", "complete")


@query(
    "stm_join_stream_stream",
    oracle="""
    WITH c AS (
      SELECT user_id, ts AS c_ts, value AS c_val
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(p_ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(c_val AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_click_value
    FROM p JOIN c ON p.user_id = c.user_id
               AND c_ts >= p_ts - INTERVAL 30 MINUTE
               AND c_ts <= p_ts
    GROUP BY 1
    """,
)
def stm_join_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join — the one streaming join shape the
    static-side twin (stm_join_stream_static) cannot express: clicks
    and purchases arrive as two independent streams; each purchase
    joins the same user's clicks from its trailing 30-minute window.
    Both sides carry watermarks, so at 100 TB the join STATE is
    bounded: a buffered click is evicted once the purchase-side
    watermark passes its 30-minute join horizon — without the time
    bound in the join condition, stream-stream state grows forever
    (the canonical unbounded-state bug). Inner join emits in append
    mode as matches become possible; the availableNow drain then
    batch-aggregates the emitted pairs per purchase day.

    The oracle is the same interval join + aggregate in plain SQL —
    micro-batch join vs batch join must agree exactly (inner join
    output is arrival-order-independent)."""
    clicks = (
        _stream_events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_val"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("p_ts", "c_val")
    sink = _run_to_memory(joined, "stm_ssj", "append")
    return (
        sink.groupBy(F.to_date("p_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum(F.col("c_val").cast("decimal(18,4)")).cast("double"), 4).alias("sum_click_value"),
        )
    )


# Column-projected copies of events staged as a few parquet files each,
# so ``maxFilesPerTrigger=1`` forces a multi-batch drain and stream
# state must carry across micro-batches: stage name -> (columns, files).
# Each key has its own stage name because the schemas differ.
_EVENT_COL_STAGES = {
    "stm_hll_users": (("user_id",), 4),
    "stm_tws_events": (("user_id", "value"), 2),
    "stm_tws_types": (("user_id", "event_type"), 2),
    "stm_tws_ids": (("user_id", "event_id"), 2),
    "stm_tws_ts": (("user_id", "ts"), 2),
    "stm_rkcl_events": (("event_type", "value"), 2),
}


def _stage_event_cols(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Stage the ``_EVENT_COL_STAGES[name]`` projection of events."""
    cols, n_files = _EVENT_COL_STAGES[name]

    def build(indir: str) -> None:
        (
            load(spark, sf_dir, "events")
            .select(*cols)
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(indir)
        )

    return stage_scratch(name, sf_dir, "events", build)


# ---------------------------------------------------------------------------
# stm_sketch_hll_merge — mergeable HLL registers maintained as stream state
# ---------------------------------------------------------------------------


@query("stm_sketch_hll_merge", oracle=_hll_oracle("user_id", "events"))
def stm_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct sketch maintained as STREAMING STATE —
    the operational proof of the sketch family's central claim: the
    (register, max-rho) state max-combines across micro-batches
    exactly as it does across partitions/shards/days, so a 24/7
    ingest keeps a live distinct-user estimate with <=256 rows of
    state and NO distinct exchange ever ([P med]: live cardinality
    dashboards over event streams are the canonical streaming-sketch
    deployment).

    Mechanics: events.user_id staged as 4 files, drained with
    maxFilesPerTrigger=1 under availableNow — FOUR micro-batches, so
    the `groupBy(reg).max(rho)` streaming aggregate genuinely merges
    register state batch-over-batch (complete mode publishes the
    merged registers after the final batch). The batch tail (256-row
    spine, exact shiftleft harmonic terms in DECIMAL(38,0), one
    double division) and the closed-form DuckDB oracle are the
    agg_hll_deterministic machinery verbatim — the stream must land
    on the IDENTICAL registers or the hash flips.

    Scale shape: per-batch map-side (reg, rho) derivation, one
    <=256-row stateful aggregate; state is bounded by m=256 forever.
    At 100 TB/day the same query runs unchanged with a real
    checkpoint and a kafka source."""
    indir = _stage_event_cols(spark, sf_dir, "stm_hll_users")
    raw = _stream_files(spark, indir, per_file=True)
    return _hll_estimate(
        _run_to_memory(_hll_registers(raw, "user_id"), "stm_hll", "complete")
    )


# ---------------------------------------------------------------------------
# stm_join_stream_left — LEFT OUTER stream-stream join with watermark flush
# ---------------------------------------------------------------------------


def _stage_events_with_sentinel(spark: SparkSession, sf_dir: str) -> str:
    """Stage events plus ONE far-future sentinel row per joined type.

    Why (measured in this round's probe): an outer stream-stream join
    emits its UNMATCHED left rows only when the global watermark
    passes their join horizon. availableNow runs the trailing
    no-data batch, which flushes everything EXCEPT rows inside the
    final watermark gap — the probe withheld exactly the purchases
    newer than max(event_ts) − watermark. The sentinel (+30 days,
    user_id = −1, one 'click' and one 'purchase' so BOTH sides'
    watermark operators see it) pushes the final watermark beyond
    every real row's horizon; the tail filters user_id = −1 back
    out. This is the streaming analogue of the batch world's "close
    the books" record, and it is exactly what a production feed's
    heartbeat/punctuation message does at 100 TB."""

    def build(indir: str) -> None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = read_parquet(spark, f"{sf_dir}/events.parquet")
        ts_type = raw.schema["ts"].dataType
        mx = raw.agg(F.max("ts").alias("m")).first()["m"]
        if isinstance(ts_type, T.LongType):  # legacy nanos
            p_ts, c_ts = mx + 30 * 86400 * 10**9, mx + 31 * 86400 * 10**9
        else:
            import datetime as _dt

            p_ts = mx + _dt.timedelta(days=30)
            c_ts = mx + _dt.timedelta(days=31)
        # click AFTER purchase -> the sentinels cannot pair with each
        # other (c_ts > p_ts fails the trailing-window condition)
        sent = spark.createDataFrame(
            [(-1, p_ts, -1, "purchase", 0.0, "{}"), (-2, c_ts, -1, "click", 0.0, "{}")],
            schema=raw.schema,
        )
        raw.unionByName(sent).write.mode("overwrite").parquet(indir)

    return stage_scratch("stm_louter_events", sf_dir, "events", build)


@query(
    "stm_join_stream_left",
    oracle="""
    WITH c AS (
      SELECT user_id, ts AS c_ts, value AS c_val
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id AS p_user, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(p_ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c_val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched,
           ROUND(CAST(SUM(CASE WHEN c_val IS NOT NULL
                               THEN CAST(c_val AS DECIMAL(18,4))
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE), 4)
             AS sum_matched_value
    FROM p LEFT JOIN c ON p.p_user = c.user_id
               AND c_ts >= p_ts - INTERVAL 30 MINUTE
               AND c_ts <= p_ts
    GROUP BY 1
    """,
)
def stm_join_stream_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the outer-emission
    semantics the inner twin (stm_join_stream_stream) cannot
    express: every purchase emits, WITH its trailing-30-minute
    clicks when they exist and exactly once with NULLs when they do
    not — but an unmatched purchase can only be emitted once the
    watermark PROVES no qualifying click can still arrive. That
    proof is the whole operator: state for both sides is bounded by
    the watermark + join horizon, and the unmatched-row flush rides
    watermark passage (this round's probe measured availableNow's
    trailing no-data batch flushing all but the final-horizon rows;
    the staged sentinel row closes that gap — see
    _stage_events_with_sentinel). At 100 TB the same query runs on
    kafka with the provider's heartbeat as the sentinel.

    The oracle is the batch LEFT JOIN + aggregate: outer stream
    output (pairs + exactly-one NULL row per unmatched purchase) is
    arrival-order-independent once fully flushed, so the engines
    must agree row-for-row — a duplicate or withheld unmatched
    emission flips n_rows/n_unmatched."""
    # the stage arrives as one batch: split into several, the watermark
    # could drop real rows as late
    stage = _stage_events_with_sentinel(spark, sf_dir)
    ev = events_ts_to_timestamp(_stream_files(spark, stage, per_file=False))
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_val"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("p_user", "p_ts", "c_val")
    sink = _run_to_memory(joined, "stm_lsj", "append")
    dec = "decimal(18,4)"
    return (
        sink.where(F.col("p_user") != -1)
        .groupBy(F.to_date("p_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("c_val").isNull(), 1).otherwise(0)).alias(
                "n_unmatched"
            ),
            F.round(
                F.sum(
                    F.when(
                        F.col("c_val").isNotNull(), F.col("c_val").cast(dec)
                    ).otherwise(F.lit(0).cast(dec))
                ).cast("double"),
                4,
            ).alias("sum_matched_value"),
        )
    )


# ---------------------------------------------------------------------------
# stm_transform_with_state — Spark 4 arbitrary-state API (transformWithState)
# ---------------------------------------------------------------------------

_PROTOBUF_SDK_SRC = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"
)
# the protobuf minor version pyspark 4.1's StateMessage_pb2 gencode
# requires (runtime must be >= gencode within the same major)
_PB_TARGET_MINOR = "6.33"


def _ensure_protobuf_runtime() -> str | None:
    """Unblock ``transformWithStateInPandas`` on this container (r8,
    verdict item 7): the TWS Python runner needs the ``google.protobuf``
    runtime for its state-server protocol (StateMessage_pb2), which is
    not installed and pip is unavailable. A pure-Python protobuf
    runtime DOES ship on the box inside the google-cloud-sdk
    (appengine platform copy, v6.32). This stages it once as a
    pyfiles zip with ONE patch: runtime_version OSS_MINOR 32 -> 33 /
    SUFFIX '' so the gencode check (pyspark's StateMessage_pb2 is
    generated by protobuf 6.33; the runtime refuses to load newer
    gencode) accepts it — a minor-version gap is inside protobuf's
    own cross-version wire/API guarantee, and the end-to-end key is
    hash-checked against a closed-form oracle anyway.

    Risk scope (r8 ADVICE #2) — the patch DELIBERATELY defeats
    protobuf's gencode-newer-than-runtime safety check, so if
    pyspark's StateMessage_pb2 ever uses a 6.33-only runtime feature
    the failure surfaces as a confusing AttributeError/behavior error
    at run time instead of the clear version error the check exists
    to give; and the spoofed version claim applies to ANY gencode
    loaded in the same interpreter. Both are bounded here: the zip
    rides only the TWS driver-worker's PYTHONPATH (sc.environment),
    never this interpreter or sys.path, and a REAL ``google.protobuf``
    is always preferred — this fallback stages nothing when one is
    importable. If a TWS key ever dies with an AttributeError inside
    ``google.protobuf``, suspect the spoof first and install a real
    protobuf wheel.

    Returns None when a real ``google.protobuf`` is already
    importable (nothing to stage); raises a documented RuntimeError
    when neither a runtime nor the SDK copy exists (a genuinely
    protobuf-less container)."""
    import importlib.util
    import zipfile
    from pathlib import Path

    try:
        # raises ModuleNotFoundError when even the parent 'google'
        # namespace is absent (this container)
        if importlib.util.find_spec("google.protobuf") is not None:
            return None
    except ModuleNotFoundError:
        pass
    src = Path(_PROTOBUF_SDK_SRC)
    # the target gencode minor is part of the zip NAME, so a future
    # pyspark that generates with a newer protobuf gets a FRESH
    # staging (with updated constants below) instead of silently
    # reusing a stale zip and failing the gencode check (r8 review
    # finding #5)
    zpath = (
        Path(scratch_dir("pyfiles"))
        / f"protobuf_runtime_{_PB_TARGET_MINOR.replace('.', '_')}.zip"
    )
    if zpath.exists():
        return str(zpath)
    if not src.exists():
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime: "
            "none installed, and the google-cloud-sdk fallback copy is "
            f"absent ({src}). Container constraint — see SURVEY §7.6."
        )
    rv = (src / "runtime_version.py").read_text()
    patched = rv.replace("OSS_MINOR = 32", f"OSS_MINOR = {_PB_TARGET_MINOR.split('.')[1]}").replace(
        "OSS_SUFFIX = '-dev'", "OSS_SUFFIX = ''"
    )
    if patched == rv:
        # the SDK copy's constants moved/reformatted: fail LOUDLY at
        # staging instead of shipping an unpatched runtime that later
        # rejects pyspark's gencode with a confusing version error
        raise RuntimeError(
            f"protobuf runtime staging: version-constant patch did not "
            f"apply to {src}/runtime_version.py (expected 'OSS_MINOR = 32' "
            f"and \"OSS_SUFFIX = '-dev'\"); update _ensure_protobuf_runtime "
            f"for this SDK copy."
        )
    rv = patched
    tmp = zpath.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("google/__init__.py", "")
        for p in src.rglob("*.py"):
            rel = p.relative_to(src.parent.parent)
            if "blaze-out" in str(rel):
                continue
            z.writestr(
                str(rel),
                rv if p.name == "runtime_version.py" and p.parent == src else p.read_text(),
            )
    os.replace(tmp, zpath)
    return str(zpath)


def _tws_runtime_env(spark: SparkSession) -> None:
    """Route the staged protobuf runtime to the TWS driver worker (one
    definition for the whole TWS family — r9 review finding #7; the
    semantics are documented at ``_ensure_protobuf_runtime``):
    pyspark keys its Python-worker factories by (exec, envVars), so
    mutating ``sc.environment`` BEFORE building the plan spawns a
    correctly-pathed worker even on an already-running session."""
    zip_path = _ensure_protobuf_runtime()
    if zip_path is not None:
        env = spark.sparkContext.environment
        cur = env.get("PYTHONPATH", "")
        if zip_path not in cur.split(":"):
            env["PYTHONPATH"] = zip_path + (":" + cur if cur else "")


def _tws_drain(
    stream: DataFrame,
    processor: StatefulProcessor,
    output_type: str,
    time_mode: str,
    prefix: str,
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run ``processor`` over ``stream`` grouped by ``user_id`` through
    ``transformWithStateInPandas`` (Update mode, ``time_mode``) on the
    RocksDB state store, plus any ``confs`` the key names, and drain
    the result to a memory sink (``_run_to_memory``, update mode).

    ``_tws_runtime_env`` runs first, before the stateful plan is
    built: the Python function the plan carries takes
    ``sc.environment`` as it is at that moment, so the TWS driver
    worker it spawns finds the staged protobuf runtime."""
    spark = stream.sparkSession
    _tws_runtime_env(spark)
    with conf_override(spark, {**_ROCKSDB, **(confs or {})}):
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=processor,
            outputStructType=output_type,
            outputMode="Update",
            timeMode=time_mode,
        )
        return _run_to_memory(out, prefix, "update")


def _drain_to_target(
    spark: SparkSession, q, name: str, target: int, timeout_s: float = 120.0
) -> DataFrame:
    """Bounded drain of the memory sink ``name`` for a stream that
    does not stop by itself — the Python stream source has no
    availableNow (stm_python_stream_source): poll until ``target``
    rows landed, re-raise the query's own exception immediately (a
    dead query never fills the sink), and return the sink's table.
    On exit the query is stopped and the sink's temp view dropped."""
    import time as _time

    deadline = _time.monotonic() + timeout_s
    try:
        while spark.table(name).count() < target:
            if q.exception() is not None:
                raise q.exception()
            if not q.isActive:
                # clean termination under target (an under-emitting
                # batch): fail FAST with the observed count instead of
                # burning the whole timeout (r9 ADVICE #2); one final
                # recheck since rows may have landed after the poll —
                # and re-check the query's OWN exception first, so a
                # failure that landed between the exception poll and
                # the isActive check surfaces as itself, not as a
                # generic under-target error (r10 review finding #3)
                if q.exception() is not None:
                    raise q.exception()
                final = spark.table(name).count()
                if final >= target:
                    break
                raise RuntimeError(
                    f"drain: stream terminated with {final} of {target} rows"
                )
            if _time.monotonic() > deadline:
                raise TimeoutError(
                    f"drain: {spark.table(name).count()} of {target} "
                    f"rows after {timeout_s:.0f} s"
                )
            _time.sleep(0.2)
        return spark.table(name)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


@query(
    "stm_transform_with_state",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stm_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ARBITRARY-STATE streaming (``transformWithStateInPandas``
    + RocksDB state store + ValueState): per-user running (count, sum)
    carried across micro-batches — the modern successor to
    ``applyInPandasWithState`` (`stm_stateful_session`), unblocked in
    r8 by staging the container's own pure-Python protobuf runtime
    (see ``_ensure_protobuf_runtime``; the runner's state-server
    protocol needs StateMessage_pb2; ``_tws_drain`` routes it to the
    TWS driver worker).

    Determinism/hash-check: events staged as 2 files, drained with
    ``maxFilesPerTrigger=1`` under availableNow — TWO micro-batches,
    so batch 2's emission equals batch-1-state + batch-2-input ONLY
    if the RocksDB ValueState survived the batch boundary. Update
    mode emits one row per (user, batch-with-input); the readback
    takes each user's max-``n_events`` struct (n strictly grows per
    emission, so the max is the FINAL state = the all-events totals,
    independent of how repartition(2) split the rows) and rounds the
    sum JVM-side (F.round HALF_UP, rounding-mode parity). State is
    genuinely exercised: a lost state would leave batch-2-only
    counts, which cannot equal the groupBy oracle.

    Scale shape: per-batch map-side pandas fold, state = one
    (long, double) row per user in RocksDB — bounded, incremental,
    24/7-capable; the same query runs unchanged against a kafka
    source with a real checkpoint at production scale."""

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tot = handle.getValueState(
                "tot",
                T.StructType(
                    [
                        T.StructField("c", T.LongType()),
                        T.StructField("s", T.DoubleType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            c, s = 0, 0.0
            for pdf in rows:
                c += len(pdf)
                s += float(pdf["value"].sum())
            prev = self._tot.get()
            if prev is not None:
                c, s = c + prev[0], s + prev[1]
            self._tot.update((c, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [c], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    indir = _stage_event_cols(spark, sf_dir, "stm_tws_events")
    sink = _tws_drain(
        _stream_files(spark, indir, per_file=True),
        RunningTotals(),
        "user_id long, n_events long, sum_value double",
        "None",
        "stm_tws",
    )
    final = F.max(F.struct("n_events", "sum_value")).alias("m")
    return (
        sink.groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("m.n_events").alias("n_events"),
            F.round(F.col("m.sum_value"), 4).alias("sum_value"),
        )
    )


@query(
    "stm_tws_map_state",
    oracle="""
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id, event_type
    """,
)
def stm_tws_map_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 arbitrary-state MAP STATE (`handle.getMapState`):
    per-user map event_type → running count in RocksDB, maintained
    across the same 2-micro-batch drain as `stm_transform_with_state`
    (which exercises ValueState; together they cover the TWS state
    family the container previously blocked — see §7.6). Each batch
    folds its pandas chunk counts into the map with
    getValue/updateValue and emits the FULL map via iterator(), so a
    (user, type) whose events all arrived in batch 1 is re-emitted
    in batch 2 with its state-carried count — the readback's per-
    (user, type) max is the all-events total ONLY if the map
    survived the batch boundary AND iterator() returns keys written
    in earlier batches. Integer counts, no float hazard.

    Scale shape: state = one RocksDB row per (user, type) — the
    arbitrary-dimension generalization a built-in windowed agg can't
    express when the map keys are dynamic; per-batch work is
    map-side pandas folding."""

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState(
                "type_counts", "event_type string", "c long"
            )

        def handleInputRows(self, key, rows, timerValues):
            batch: dict[str, int] = {}
            for pdf in rows:
                for et, n in pdf.groupby("event_type").size().items():
                    batch[et] = batch.get(et, 0) + int(n)
            for et, n in batch.items():
                prev = self._m.getValue((et,))
                self._m.updateValue((et,), ((prev[0] if prev else 0) + n,))
            types, counts = [], []
            for (et,), (c,) in self._m.iterator():
                types.append(et)
                counts.append(c)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(types),
                    "event_type": types,
                    "n_events": counts,
                }
            )

        def close(self) -> None:
            pass

    indir = _stage_event_cols(spark, sf_dir, "stm_tws_types")
    sink = _tws_drain(
        _stream_files(spark, indir, per_file=True),
        TypeCounts(),
        "user_id long, event_type string, n_events long",
        "None",
        "stm_twsm",
    )
    return (
        sink.groupBy("user_id", "event_type")
        .agg(F.max("n_events").alias("n_events"))
    )


_TWS_TOPK = 3


@query(
    "stm_tws_list_state",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events
    )
    SELECT user_id, event_id FROM ranked WHERE rn <= {_TWS_TOPK}
    """,
)
def stm_tws_list_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 arbitrary-state LIST STATE (`handle.getListState`):
    per-user bounded top-k list (the k smallest event_ids) maintained
    in RocksDB across the 2-micro-batch drain — a streaming bounded
    leaderboard, the list-shaped state a built-in agg can't hold
    incrementally. Completes the TWS state-variable family
    (ValueState `stm_transform_with_state`, MapState
    `stm_tws_map_state`, ListState here; see §7.6 for the protobuf
    unblock). Each batch merges its ids into the stored list via
    get()/put() and emits (user, seen_total, id×k); seen_total
    strictly grows, so the readback filters each user's FINAL
    emission (max seen_total) and explodes it — equal to the batch
    top-k oracle ONLY if batch 1's survivors were still in the list
    when batch 2 merged (a lost list leaves batch-2-only ids).
    Integer ids, rank ties impossible (event_id unique per user at
    generation)."""

    class TopKIds(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._ids = handle.getListState("topk_ids", "event_id long")
            self._seen = handle.getValueState("seen", "n long")

        def handleInputRows(self, key, rows, timerValues):
            ids: list[int] = []
            n_batch = 0
            for pdf in rows:
                n_batch += len(pdf)
                ids.extend(int(x) for x in pdf["event_id"])
            prev = [int(t[0]) for t in self._ids.get()] if self._ids.exists() else []
            kept = sorted(prev + ids)[:_TWS_TOPK]
            self._ids.put([(i,) for i in kept])
            sv = self._seen.get()
            seen = (sv[0] if sv else 0) + n_batch
            self._seen.update((seen,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(kept),
                    "seen_total": [seen] * len(kept),
                    "event_id": kept,
                }
            )

        def close(self) -> None:
            pass

    indir = _stage_event_cols(spark, sf_dir, "stm_tws_ids")
    t = _tws_drain(
        _stream_files(spark, indir, per_file=True),
        TopKIds(),
        "user_id long, seen_total long, event_id long",
        "None",
        "stm_twsl",
    )
    w = Window.partitionBy("user_id")
    return (
        t.withColumn("max_seen", F.max("seen_total").over(w))
        .where(F.col("seen_total") == F.col("max_seen"))
        .select("user_id", "event_id")
    )


@query(
    "stm_tws_timers",
    oracle="""
    SELECT user_id, CAST(1000 + user_id AS BIGINT) AS fired_at_ms
    FROM events GROUP BY user_id
    """,
)
def stm_tws_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 arbitrary-state EVENT-TIME TIMERS
    (`handle.registerTimer` + `handleExpiredTimer`, timeMode=
    EventTime): on first sight each user registers a timer at the
    FAR-PAST unique expiry 1000+user_id ms; the timer fires as soon
    as the event-time watermark first advances past it (batch 2 for
    users first seen in batch 1, the availableNow trailing no-data
    batch otherwise — either way EXACTLY ONCE per user, so the
    emission set is split-agnostic and hash-checkable). The emitted
    row echoes `expiredTimerInfo.getExpiryTimeInMs()`, pinning the
    expiry's round-trip through RocksDB timer state and the
    state-server protocol, not just that \"something fired\".
    Completes the TWS surface: ValueState / MapState / ListState /
    timers (§7.6 for the protobuf unblock).

    Scale shape: one registered timer per user (RocksDB timer
    column family, bounded), watermark-driven expiry scans — the
    session-timeout / TTL-callback machinery a 24/7 deployment uses
    for inactivity logic."""

    class FirstSightTimer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState("seen", "s int")
            self._h = handle

        def handleInputRows(self, key, rows, timerValues):
            for _ in rows:
                pass
            if not self._seen.get():
                self._seen.update((1,))
                self._h.registerTimer(1000 + int(key[0]))
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "fired_at_ms": [expiredTimerInfo.getExpiryTimeInMs()],
                }
            )

        def close(self) -> None:
            pass

    indir = _stage_event_cols(spark, sf_dir, "stm_tws_ts")
    sink = _tws_drain(
        _stream_files(spark, indir, per_file=True).withWatermark("ts", "1 hour"),
        FirstSightTimer(),
        "user_id long, fired_at_ms long",
        "EventTime",
        "stm_twst",
    )
    # exactly-once is part of the contract: a duplicate fire would
    # double a row and flip the hash via the distinct here being absent
    return sink.select("user_id", "fired_at_ms")


@query(
    "stm_rocksdb_changelog",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stm_rocksdb_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RocksDB state store WITH CHANGELOG CHECKPOINTING (r9, VERDICT
    r8 item 6 — state-store coverage beyond the HDFS-backed default):
    a stateful per-type running aggregate drained in two forced
    micro-batches (2 staged files x maxFilesPerTrigger=1), with
    ``spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.
    enabled`` on. Instead of uploading a full RocksDB snapshot per
    batch, each commit persists only the delta as a
    ``<version>.changelog`` under the checkpoint's state dir, and
    recovery replays changelogs onto the last snapshot — the 100 TB
    posture for large state: per-batch checkpoint cost scales with
    the UPDATE rate, not the state size. The key ASSERTS the
    changelog files actually exist in the checkpoint (the layout is
    the feature's observable contract) before returning the
    aggregate, which equals the batch groupBy — so correctness is
    hash-checked and the changelog mechanics are structurally
    verified in one sweep.
    """
    from pathlib import Path as _Path

    indir = _stage_event_cols(spark, sf_dir, "stm_rkcl_events")
    raw = _stream_files(spark, indir, per_file=True)
    agg = raw.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
    )
    confs = {
        **_ROCKSDB,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    with run_scratch("stm_rkcl_ckpt") as ckpt:
        with conf_override(spark, confs):
            sink = _run_to_memory(agg, "stm_rkcl", "complete", ckpt)
        # one file per committed micro-batch (plus its .crc twin)
        batches = sum(p.name.isdigit() for p in _Path(ckpt, "commits").iterdir())
        if batches < 2:
            raise RuntimeError(
                f"changelog demo needs >=2 micro-batches, got {batches} "
                f"(maxFilesPerTrigger staging broke?)"
            )
        changelogs = sorted(_Path(ckpt).glob("state/**/*.changelog"))
        if not changelogs:
            layout = sorted(
                str(p.relative_to(ckpt)) for p in _Path(ckpt).rglob("*")
            )[:40]
            raise RuntimeError(
                "changelog checkpointing produced no *.changelog files — "
                f"state dir layout: {layout}"
            )
    return sink


# ---------------------------------------------------------------------------
# stm_tws_value_ttl — TWS ValueState with TTL (state expiry between batches)
# ---------------------------------------------------------------------------


def _stage_events_parity_files(spark: SparkSession, sf_dir: str) -> str:
    """events (user_id, value) as exactly TWO parquet files split by
    event_id PARITY — a DETERMINISTIC split (unlike repartition(2)),
    so a batch's per-user slice totals are oracle-expressible. Two
    separate single-file writes (not partitionBy) keep the listing
    order stable: f0=even, f1=odd."""
    def build(indir: str) -> None:
        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
        n_src = ev.count()
        n_staged = 0
        for tag, parity in (("f0", 0), ("f1", 1)):
            # pmod + null-bucketing: Spark's % keeps the dividend's
            # sign (-3 % 2 == -1) and NULL matches neither parity —
            # either would silently drop rows from BOTH slices and
            # undercount the oracle (r9 review finding; the NANOS/
            # MICROS precedent says corpus encodings do change)
            sliced = ev.where(
                F.coalesce(F.pmod("event_id", F.lit(2)), F.lit(0)) == parity
            ).select("user_id", "value")
            n_staged += sliced.count()
            write_one_parquet(sliced, f"{indir}/{tag}.parquet")
        if n_staged != n_src:
            raise RuntimeError(
                f"parity staging lost rows: {n_staged} staged != {n_src} "
                "source (event_id domain changed?)"
            )

    return stage_scratch("stm_tws_parity_events", sf_dir, "events", build)


@query(
    "stm_tws_value_ttl",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           FALSE AS state_carried
    FROM events GROUP BY user_id
    """,
)
def stm_tws_value_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWS ValueState with TTL (``ttlDurationMs``, Spark 4): the state
    written in micro-batch 1 EXPIRES before micro-batch 2 reads it
    (ttl = 1 ms; a batch boundary is always orders of magnitude
    longer), so each batch folds ONLY its own slice — completing the
    TWS family (value/map/list/timers/+TTL; timeMode must be
    ProcessingTime for TTL, vs the ValueState key's "None").

    The hash check works BECAUSE expiry is total: with per-batch
    emissions of (slice_count, slice_sum, had_prior_state), the
    per-user SUM over emissions equals the full-table totals IFF no
    batch double-counted carried state, and ``state_carried`` (OR
    over batches) is FALSE iff every get() after the first batch saw
    expired state. A failed expiry breaks BOTH (batch 2 would fold
    batch 1 again → sum(n) > total; carried → true). The even/odd
    event_id staging (``_stage_events_parity_files``) makes each
    slice deterministic, and the sum-readback is symmetric in batch
    ORDER, so file-listing order cannot matter either. The
    1-hour-TTL control (state survives, identical plan) lives in
    tests beside the cross-key consistency suite.

    Termination (measured, Spark 4.1): under timeMode=ProcessingTime
    with TTL'd state, ``availableNow`` does NOT terminate after the
    data batches — the engine keeps scheduling EMPTY no-data
    micro-batches (batch 290+ observed for a 2-file source) while
    TTL'd state exists, and stopping the query from outside kills
    one mid-commit (``CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT`` /
    aborted-task traces). The drain turns no-data batches off
    (``spark.sql.streaming.noDataMicroBatches.enabled``), so the
    query ends by itself after its data batches like every other
    availableNow drain. Expiry does not depend on those batches:
    a TTL'd ``get()`` checks the batch timestamp, so batch 2 still
    reads batch 1's state as expired.

    Scale shape: same bounded per-user RocksDB row as
    stm_transform_with_state, plus TTL's secondary index — the
    production knob that keeps 24/7 session state from growing
    without bound (abandoned keys expire instead of accumulating)."""

    class TtlTotals(StatefulProcessor):
        def __init__(self, ttl_ms: int) -> None:
            self._ttl_ms = ttl_ms

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tot = handle.getValueState(
                "tot",
                T.StructType(
                    [
                        T.StructField("c", T.LongType()),
                        T.StructField("s", T.DoubleType()),
                    ]
                ),
                ttlDurationMs=self._ttl_ms,
            )

        def handleInputRows(self, key, rows, timerValues):
            c, s = 0, 0.0
            for pdf in rows:
                c += len(pdf)
                s += float(pdf["value"].sum())
            prev = self._tot.get()  # None once the TTL lapsed
            carried = prev is not None
            if carried:
                c, s = c + prev[0], s + prev[1]
            self._tot.update((c, s))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [c],
                    "sum_value": [s],
                    "state_carried": [carried],
                }
            )

        def close(self) -> None:
            pass

    indir = _stage_events_parity_files(spark, sf_dir)
    sink = _tws_drain(
        _stream_files(spark, indir, per_file=True),
        TtlTotals(1),
        "user_id long, n_events long, sum_value double, state_carried boolean",
        "ProcessingTime",
        "stm_tws_ttl",
        {"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
    )
    return (
        sink.groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
            F.max("state_carried").alias("state_carried"),
        )
    )


# ---------------------------------------------------------------------------
# stm_dedup_within_watermark — dropDuplicatesWithinWatermark (Spark 3.5)
# ---------------------------------------------------------------------------


@query(
    "stm_dedup_within_watermark",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events
    GROUP BY event_type
    """,
)
def stm_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` (Spark
    3.5): unlike plain ``dropDuplicates`` (stm_watermark_dedup, one
    state row per key FOREVER unless the key carries the event-time
    column), WithinWatermark keeps a key's state only for the
    watermark delay AFTER ITS LAST SIGHTING and — the semantic
    difference — dedups two records whose event times differ, as long
    as they arrive within the delay (the at-least-once-sink replay
    case, where the replayed record may carry a regenerated
    timestamp). State is bounded by keys-per-lateness-window, not
    total key cardinality — the 24/7 form of idempotent re-ingest.

    Determinism: the corpus has no duplicate event_ids and the whole
    batch drain completes far inside the 1 h delay, so the result
    equals DISTINCT-per-type exactly and hash-checks; the
    behavioral DIFFERENCE vs plain dropDuplicates (replayed record
    with a shifted timestamp IS dropped here, kept there) is pinned
    in tests with a crafted 2-batch replay."""
    deduped = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return _run_to_memory(deduped, "stm_ddww", "complete")


# ---------------------------------------------------------------------------
# stm_cdc_stream_apply — CDC merge into a snapshot across micro-batches
# ---------------------------------------------------------------------------


def _stage_cdc_log(spark: SparkSession, sf_dir: str) -> str:
    """Stage the deterministic I/U/D log (the snk_cdc_apply
    derivation) as THREE parquet files, one per seq, so
    maxFilesPerTrigger=1 drains them as three micro-batches. The
    merge itself is declared arrival-order-ROBUST (last-writer-wins
    compares seq numbers, not batch order), so file ordering is a
    realism choice, not a correctness dependency."""

    def build(indir: str) -> None:
        ins, upd, dele = _cdc_log_parts(load(spark, sf_dir, "orders"))
        # flat files: the file source lists subdirectories only with a glob
        for i, part in enumerate((ins, upd, dele)):
            write_one_parquet(part, f"{indir}/cdc_{i}.parquet")

    return stage_scratch("stm_cdc_log", sf_dir, "orders", build)


@query("stm_cdc_stream_apply", oracle=_CDC_ORACLE)
def stm_cdc_stream_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC application — the change feed folded into a
    materialized snapshot ACROSS micro-batches ([P high]: this is
    what a Debezium/kafka consumer maintaining a queryable mirror
    does continuously; the batch twin snk_cdc_apply folds a complete
    log, this one must keep the snapshot correct after EVERY
    incremental batch). Each foreachBatch merge unions the incoming
    batch with the current snapshot, keeps last-writer-wins by SEQ
    NUMBER per key (arrival-order-robust by construction — a
    re-ordered or replayed feed folds identically), and retains
    delete TOMBSTONES in the snapshot so a late lower-seq update can
    never resurrect a deleted key; the published read filters
    tombstones out. The snapshot swap is write-new-then-rename
    (atomic publish; readers never see a half-written merge).

    Oracle = the batch fold of the full log (snk_cdc_apply's) — a
    lost update, surviving delete, resurrection, or double-applied
    batch flips the hash. At 100 TB the same foreachBatch body runs
    MERGE INTO on a lakehouse table; the tombstone and seq
    disciplines are identical. State per merge is the snapshot
    itself (the operator IS incremental materialization)."""
    stage = _stage_cdc_log(spark, sf_dir)
    with run_scratch("stm_cdc_snap") as base:
        snap_dir = f"{base}/snap"

        def merge(bdf: DataFrame, _bid: int) -> None:
            sp = bdf.sparkSession
            if os.path.exists(snap_dir):
                cur = read_parquet(sp, snap_dir)
                allr = cur.unionByName(bdf)
            else:
                allr = bdf
            w = Window.partitionBy("k").orderBy(F.col("seq").desc())
            merged = (
                allr.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn")
            )
            tmp = f"{base}/tmp_{_bid}"
            merged.write.mode("overwrite").parquet(tmp)
            old = f"{base}/old_{_bid}"
            if os.path.exists(snap_dir):
                shutil.move(snap_dir, old)
            shutil.move(tmp, snap_dir)
            shutil.rmtree(old, ignore_errors=True)

        ckpt = f"{base}/ckpt"
        q = (
            _stream_files(spark, stage, per_file=True)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            read_parquet(spark, snap_dir)
            .where(F.col("op") != "D")
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(
                    F.sum(F.col("price").cast("decimal(18,4)")).cast("double"), 4
                ).alias("sum_price"),
            )
        )
        # materialize: the frame returned must not depend on run-id dirs
        pdf = out.toPandas()
        return spark.createDataFrame(
            pdf, schema="status string, n_rows long, sum_price double"
        )


# ---------------------------------------------------------------------------
# stm_python_stream_source — PySpark 4 Python STREAMING DataSource demo
# ---------------------------------------------------------------------------

_CS_BATCHES, _CS_PER = 5, 1000


class SyntheticCounterStream(DataSource):
    """Custom STREAMING source via the PySpark 4 Python DataSource
    API — the streaming half of the V2 surface whose batch half is
    ``SyntheticFeedDataSource``: a deterministic finite feed of
    ``_CS_BATCHES`` offset-tracked micro-batches (an offline
    stand-in for a kafka/provider tail). Demonstrates the
    simple-stream-reader contract: ``initialOffset``/``read(start)
    -> (rows, nextOffset)``/``readBetweenOffsets`` replay (exactly
    the offset-log recovery path a restart takes). Rows must be
    picklable ITERATORS over materialized lists — a generator
    return dies pickling in planPartitions, a bare list dies on
    next() in latestOffset (both measured); iter(list) satisfies
    both sides of the wrapper."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_counter_stream"

    def schema(self) -> str:
        return "v BIGINT, b INT"

    def simpleStreamReader(self, schema):  # noqa: ANN001 - pyspark API
        return _CounterStreamReader()


class _CounterStreamReader(SimpleDataSourceStreamReader):
    def initialOffset(self):
        return {"b": 0}

    def read(self, start):
        b = int(start["b"])
        if b >= _CS_BATCHES:
            return iter([]), {"b": b}
        return (
            iter([(b * _CS_PER + i, b) for i in range(_CS_PER)]),
            {"b": b + 1},
        )

    def readBetweenOffsets(self, start, end):
        out = []
        for b in range(int(start["b"]), int(end["b"])):
            out.extend((b * _CS_PER + i, b) for i in range(_CS_PER))
        return iter(out)


@query(
    "stm_python_stream_source",
    oracle=f"""
    SELECT CAST(v // {_CS_PER} AS INT) AS b,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM generate_series(0, {_CS_BATCHES * _CS_PER - 1}) t(v)
    GROUP BY 1
    """,
)
def stm_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the custom Python STREAMING source end-to-end: 5
    offset-tracked micro-batches of 1000 deterministic rows into a
    memory sink (append mode — stateless pass-through per batch),
    then aggregate per batch id against the closed-form oracle.

    The Python micro-batch stream does NOT support
    Trigger.AvailableNow (probed r8: Spark logs the fallback and
    processes a SINGLE batch), so the drain runs a processingTime=0
    trigger and polls the sink until all 5x1000 rows landed
    (deadline-guarded), then stops — the documented pattern for
    finite custom streams. Offsets advance through the source's own
    read(start); a restart would replay via readBetweenOffsets, the
    same code path the oracle-side replay check exercises.

    Scale posture: SURFACE demo of the streaming V2 contract
    (driver-side prefetch + offset log); production volume streams
    stay on the JVM file/rate/kafka sources (stm_* family)."""
    # The STREAMING source planner runs in a dedicated Python worker
    # that does NOT receive addPyFile includes (probed r8:
    # ModuleNotFoundError unpickling the source class under a plain
    # /tmp driver — the batch source's plan worker does get them), so
    # the package zip rides sc.environment['PYTHONPATH'] instead —
    # pyspark keys worker factories by (exec, envVars), the same
    # route that unblocked the transformWithState driver worker.
    from .. import session as _session

    _session._ship_package(spark)
    env = spark.sparkContext.environment
    cur = env.get("PYTHONPATH", "")
    if _session._PKG_ZIP and _session._PKG_ZIP not in cur.split(":"):
        env["PYTHONPATH"] = _session._PKG_ZIP + (":" + cur if cur else "")
    try:
        spark.dataSource.register(SyntheticCounterStream)
    except Exception as exc:
        # re-registration of the same short name is the benign case; a
        # REAL registration failure will resurface as q.exception() in
        # the drain loop below, so record it here instead of masking
        # (r8 ADVICE #3)
        import warnings

        warnings.warn(f"python stream source registration: {exc!r}")
    name = f"stm_pyss_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("synthetic_counter_stream")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    return (
        _drain_to_target(spark, q, name, _CS_BATCHES * _CS_PER)
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("sum_v"),
        )
    )
