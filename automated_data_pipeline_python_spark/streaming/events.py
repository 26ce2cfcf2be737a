"""Structured Streaming surface over the events table (SURVEY §2.7).

The transformations are plain DataFrame functions, usable on batch and
streaming inputs alike — the engine's batch/stream parity contract: the
batch twins in ``queries/events.py`` are validated against the DuckDB
oracle, and the streaming tests assert stream == batch on the same data.

Source notes: the corpus has shipped ``ts`` as both TIMESTAMP(NANOS)
(surfaced as LONG under the ``nanosAsLong`` conf) and plain
``timestamp[us]`` across generations; the stream reader probes the
directory's actual schema with a batch read and branches exactly like
``tables.load`` does.

Scale: file-source streaming reads incrementally (``maxFilesPerTrigger``
for backpressure — the streaming analogue of the reference's bounded
queue, reference pipeline/collectors/nft.py:63); watermarks bound state
for windows, sessions, and dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NTZ_FROM_NANOS = (
    "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)


def read_events_stream(
    spark: SparkSession, directory: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    File-source streams require a declared schema; we take it from a
    batch read of the same directory (one driver-side footer read, no
    data scan) so the stream follows whatever physical type the corpus
    ships — LONG (nanos corpus) or a timestamp type (us corpus).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stored_schema = spark.read.parquet(directory).schema
    reader = spark.readStream.schema(stored_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(directory)
    if isinstance(stored_schema["ts"].dataType, T.LongType):
        return stream.withColumn("ts", F.expr(_NTZ_FROM_NANOS))
    return stream.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def read_rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Built-in rate source (SURVEY §2.1 S7): monotonically increasing
    ``(timestamp, value)`` rows — the standard load-generator / smoke
    source for streaming topologies. Exactly-once contract: collected
    values form a contiguous 0..N-1 sequence, no gaps or duplicates
    across micro-batches (pinned by tests/test_streaming.py).
    """
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def rate_as_events(rate: DataFrame) -> DataFrame:
    """Shape the rate source like the events table so every events
    transformation (windows, sessions, dedup) runs on generated load."""
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").cast("timestamp_ntz").alias("ts"),
        (F.col("value") % 97).alias("user_id"),
        F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 100).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )


# Kafka payload contract: JSON-encoded events records in `value`.
EVENTS_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),  # ISO-8601 in the payload
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Decode a Kafka-shaped frame (``value: binary``) into events rows.

    Separated from the source so it is testable without the Kafka
    connector jar and identical for batch backfills
    (``spark.read.format("kafka")``) and streams.
    """
    return (
        raw.select(
            F.from_json(F.col("value").cast("string"), EVENTS_JSON_SCHEMA).alias("r")
        )
        .select("r.*")
        .withColumn("ts", F.to_timestamp_ntz("ts"))
    )


def read_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source (SURVEY §2.1 S7) → parsed events rows.

    Requires the spark-sql-kafka connector on the classpath (a published
    Spark artifact; not bundled in this container — the parse stage
    above carries the testable logic). Scale: one Spark input partition
    per Kafka partition; use ``maxOffsetsPerTrigger`` for backpressure
    parity with the file source's ``maxFilesPerTrigger``.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_events(raw)


# --- transformations (batch- and stream-compatible) -----------------------


def tumbling_counts(events: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Tumbling event-time window counts per event type."""
    return (
        events.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (inactivity gap)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def with_watermark(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Late-data bound; required for append-mode windows and stateful dedup.

    Watermarks demand TimestampType (not NTZ) — cast first; the
    session-tz interpretation only affects state bookkeeping, not values.
    """
    return events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", delay
    )


def dedup_events(events: DataFrame, within_watermark: bool = False) -> DataFrame:
    """Stateful dedup on event_id.

    Streaming: ``dropDuplicatesWithinWatermark`` bounds state by the
    watermark delay (exactly-once per id within the late window) —
    apply :func:`with_watermark` first. Batch: plain dropDuplicates.
    """
    if within_watermark:
        return events.dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


# --- test/driver helper ----------------------------------------------------


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_s: int = 120,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into an
    in-memory table; returns the result as a batch DataFrame."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()
    return stream_df.sparkSession.table(query_name)


def run_foreach_batch(
    stream_df: DataFrame,
    handle_batch,
    output_mode: str = "append",
    timeout_s: int = 120,
) -> None:
    """Execute a stream to completion through a foreachBatch sink.

    ``handle_batch(batch_df, batch_id)`` receives each micro-batch as a
    normal DataFrame — the escape hatch for sinks Spark lacks natively
    (upserts, multi-table writes, external indexes). Exactly-once
    depends on the handler being idempotent per batch_id.
    """
    q = (
        stream_df.writeStream.foreachBatch(handle_batch)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()


def click_purchase_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "30 minutes",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner interval join: purchases within ``within`` of
    a click by the same user.

    Both sides MUST carry a watermark and the join condition MUST bound
    the event-time range — that pair is what lets Spark evict join
    state: a buffered click can be dropped once the purchase-side
    watermark passes ``click_ts + within``. Without the range bound,
    state grows without limit (the join would have to buffer every row
    forever).

    Works identically on batch inputs (watermark is a no-op in batch),
    which is how the tests pin stream == batch semantics.

    Scale: state is hash-partitioned on user_id; per-key state holds
    only rows inside the watermark horizon. Skewed users bound state
    growth per key, not per cluster.
    """
    c = (
        clicks.select(
            F.col("user_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        ).withWatermark("click_ts", watermark_delay)
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").cast("timestamp").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        ).withWatermark("purchase_ts", watermark_delay)
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts", "purchase_value")


def running_user_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful processing: per-user running event count/value.

    ``applyInPandasWithState`` is the custom-operator escape hatch of
    Structured Streaming (SURVEY §2.7): explicit GroupState per key,
    updated each micro-batch, emitted in update mode. State here is two
    numbers per user — bounded regardless of stream length. A timeout
    (GroupStateTimeout) would evict idle users in production.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ohlc_bars(events: DataFrame) -> DataFrame:
    """Hourly OHLC bars — works identically in batch and streaming.

    The batch catalog twin (``queries/events.py events_ohlc_hourly``)
    picks open/close with tiebroken row_number ranks; streaming cannot
    run rank windows, so this formulation uses lexicographic struct
    min/max over (ts, event_id, value) — the earliest/latest row's
    value with the SAME (ts, event_id) tiebreak, expressible as a plain
    windowed aggregation that Structured Streaming accepts (parity
    between the two formulations is pinned in tests). State per
    (type, hour) key is two structs + three scalars — bounded; add a
    watermark upstream to evict closed hours in production.
    """
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("o"),
            F.max(F.struct("ts", "event_id", "value")).alias("c"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.col("o.value").alias("open"),
            "high",
            "low",
            F.col("c.value").alias("close"),
            "n",
        )
    )


def mad_baselines(events: DataFrame) -> DataFrame:
    """Frozen per-type median/MAD baselines for robust stream scoring.

    Computed batch-side over a reference window (exact interpolated
    percentiles — tiny result: one row per event type). Production
    refreshes these on a schedule; the stream scores against the
    FROZEN values, which is what keeps the streaming side stateless.
    """
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 5e-1)").alias("med")
    )
    return (
        events.join(med, "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.expr("percentile(abs(value - med), 5e-1)").alias("mad"),
        )
    )


def mad_alarm(events: DataFrame, baselines: DataFrame) -> DataFrame:
    """Robust z-score alarm: score each event against frozen baselines.

    Map-only on the stream — a broadcast join against the per-type
    baseline row (event-type cardinality is fixed-small at every
    scale, so the hint is safe) and per-row arithmetic; no state, no
    shuffle, works identically in batch and streaming. z snaps to the
    1e-6 grid before the |z| > 3.5 flag, matching the batch
    events_mad_outliers discipline.
    """
    z = F.expr("floor((6745e-4 * (value - med) / mad) * 1e6 + 0.5) / 1e6")
    return (
        events.join(F.broadcast(baselines), "event_type")
        .where(F.col("mad") != 0)
        .select(
            "event_id",
            "ts",
            "event_type",
            "value",
            z.alias("robust_z"),
            (F.abs(z) > F.lit(3.5)).cast("int").alias("alarm"),
        )
    )


def count_min_cells(events: DataFrame, d: int = 4, w: int = 256) -> DataFrame:
    """Count-Min grid over the user_id stream — batch and streaming.

    The d×w counter grid is a plain grouped count, so Structured
    Streaming maintains it as windowless aggregation state (bounded:
    d·w cells, regardless of stream cardinality) and batch computes
    the identical relation — additive merge IS the shuffle combine in
    both. The portable SHA-derived bucket hash matches the batch
    catalog operator (queries/sketches.py sketch_count_min_terms), so
    a grid built on yesterday's batch and one maintained on today's
    stream ADD into one sketch.
    """
    from automated_data_pipeline_python_spark.functions.text import spark_hash60

    rows = events.sparkSession.range(d).select(
        F.col("id").cast("int").alias("r")
    )
    # bucket hash built from the SAME helper and 'cm<r>:<key>' format as
    # the batch sketch (queries/sketches.py) — additive batch+stream
    # merging depends on the hash families staying byte-identical
    key = "concat('cm', CAST(r AS STRING), ':', CAST(user_id AS STRING))"
    keyed = events.crossJoin(F.broadcast(rows)).select(
        "r",
        F.expr(f"{spark_hash60(key)} % {w}").alias("bucket"),
    )
    return keyed.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("c"))


def hysteresis_alarm_stream(
    events: DataFrame, hi: float = 200.0, lo: float = 50.0
) -> DataFrame:
    """Streaming twin of ``queries.timeseries.events_hysteresis_alerts``:
    the two-threshold dead-band alarm as explicit per-user GroupState.

    State is four integers per user (alarm flag, episode count,
    events-in-alarm, events seen) — bounded regardless of stream
    length; rows sort by (ts, event_id) inside each micro-batch, the
    same total order the batch LOCF window uses, so a fully-delivered
    ordered stream converges to the batch answer exactly
    (tests/test_streaming.py pins it).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        alarm, episodes, in_alarm, n = (
            state.get if state.exists else (0, 0, 0, 0)
        )
        pdfs = list(pdf_iter)
        if pdfs:
            pdf = pd.concat(pdfs).sort_values(["ts", "event_id"])
            for v in pdf["value"]:
                sig = 1 if v >= hi else (0 if v <= lo else None)
                if sig is not None:
                    if sig == 1 and alarm == 0:
                        episodes += 1
                    alarm = sig
                if alarm:
                    in_alarm += 1
                n += 1
        state.update((alarm, episodes, in_alarm, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_episodes": [episodes],
                "n_events_in_alarm": [in_alarm],
                "n_events": [n],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_episodes long,"
            " n_events_in_alarm long, n_events long"
        ),
        stateStructType="alarm long, episodes long, in_alarm long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def view_click_purchase_stream_join(
    views: DataFrame,
    clicks: DataFrame,
    purchases: DataFrame,
    click_within: str = "1 hour",
    purchase_within: str = "24 hours",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """CHAINED stream-stream interval join: every (view, click ≤1h
    after it, purchase ≤24h after the click) triple — the multi-way
    join the stream-join literature sizes state for, and the streaming
    twin of ``queries.events.events_three_way_interval_join``'s core.

    Spark supports cascaded stream-stream joins in append mode when
    every input carries a watermark and every join bounds its
    event-time range: the first join's state evicts once the
    click-side watermark passes ``view_ts + click_within``, the
    second's once the purchase-side watermark passes
    ``click_ts + purchase_within``. Batch inputs run the identical
    plan (watermarks no-op), which is how the parity test pins it.
    """
    v = views.select(
        F.col("user_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark_delay)
    c = clicks.select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark_delay)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", watermark_delay)
    vc = v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {click_within}")
        ),
    )
    return vc.join(
        p,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {purchase_within}")
        ),
    ).select("user_id", "view_id", "click_id", "purchase_id")
