"""Streaming tests: batch/stream parity on the events table.

Each test streams the sf0.001 events parquet through a transformation
(availableNow trigger → memory sink) and compares against the identical
transformation applied in batch.
"""

from __future__ import annotations

import shutil

import pytest

from automated_data_pipeline_python_spark.streaming.events import (
    dedup_events,
    read_events_stream,
    run_to_memory,
    sessionize,
    tumbling_counts,
    with_watermark,
)
from automated_data_pipeline_python_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_counts_stream_equals_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_to_memory(tumbling_counts(stream), "t_tumbling")
    want = tumbling_counts(load(spark, SF_DIR, "events"))
    cols = ["win_start", "event_type", "cnt"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_sessionize_stream_equals_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_to_memory(sessionize(stream), "t_sessions")
    want = sessionize(load(spark, SF_DIR, "events"))
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_incremental_microbatches_converge(spark, events_dir, tmp_path):
    # Split the file into two "arrivals" and bound ingest rate: the
    # backpressure analogue of the reference's Queue(maxsize=500)
    # (reference nft.py:63). Final aggregate must equal single-shot batch.
    d = tmp_path / "multi"
    d.mkdir()
    ev = load(spark, SF_DIR, "events")
    a = ev.filter("event_id % 2 = 0")
    b = ev.filter("event_id % 2 = 1")
    for name, part in [("a", a), ("b", b)]:
        part.selectExpr(
            "event_id",
            "CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01', ts) AS LONG) * 1000 AS ts",
            "user_id",
            "event_type",
            "value",
            "props",
        ).coalesce(1).write.parquet(str(d / name))
    # flatten part files into the watch dir
    watch = tmp_path / "watch"
    watch.mkdir()
    i = 0
    for sub in d.iterdir():
        for f in sub.glob("*.parquet"):
            shutil.copy(f, watch / f"part-{i:03d}.parquet")
            i += 1
    stream = read_events_stream(spark, str(watch), max_files_per_trigger=1)
    got = run_to_memory(tumbling_counts(stream), "t_incremental")
    want = tumbling_counts(ev)
    cols = ["win_start", "event_type", "cnt"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_dedup_within_watermark_drops_duplicates(spark, events_dir, tmp_path):
    # Duplicate the entire input (two identical files) → stateful dedup
    # must return each event_id once.
    d = tmp_path / "dup"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-001.parquet")
    stream = read_events_stream(spark, str(d))
    deduped = dedup_events(with_watermark(stream, "2 hours"), within_watermark=True)
    got = run_to_memory(deduped.select("event_id"), "t_dedup", output_mode="append")
    n_unique = load(spark, SF_DIR, "events").select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.distinct().count() == n_unique


def _write_events_file(spark, rows, path):
    """rows: (event_id, ts_iso_micros, user_id, type, value)."""
    df = spark.createDataFrame(
        [
            (eid, ts, uid, et, val, "{}")
            for eid, ts, uid, et, val in rows
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).selectExpr(
        "event_id",
        "CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01', CAST(ts AS TIMESTAMP_NTZ)) AS LONG) * 1000 AS ts",
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(path))
    return df


def test_watermark_drops_late_rows_in_append_windows(spark, tmp_path):
    from pyspark.sql import functions as F
    from automated_data_pipeline_python_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        with_watermark,
    )

    # Spark drops a late row once the watermark passed its window end in
    # a PRIOR batch (state evicted) — merely being older than the
    # current watermark is not enough (verified empirically on 4.1:
    # numRowsDroppedByWatermark stays 0 until eviction). So: two batches
    # push the watermark past the 10:00 window, a third delivers the
    # late row.
    d = tmp_path / "late"
    d.mkdir()
    _write_events_file(
        spark,
        [(1, "2024-01-01 10:00:01", 1, "click", 1.0),
         (2, "2024-01-01 10:05:00", 1, "click", 1.0)],
        d / "gen1",
    )
    _write_events_file(
        spark, [(3, "2024-01-01 12:00:00", 1, "click", 1.0)], d / "gen2"
    )
    _write_events_file(
        spark, [(4, "2024-01-01 12:30:00", 1, "click", 1.0)], d / "gen3"
    )
    _write_events_file(
        spark,
        [(5, "2024-01-01 10:02:00", 1, "click", 1.0),   # late -> dropped
         (6, "2024-01-01 13:00:00", 1, "click", 1.0)],
        d / "gen4",
    )
    watch = tmp_path / "late_watch"
    watch.mkdir()
    import os
    import time

    now = time.time()
    for i, sub in enumerate(sorted(d.iterdir())):
        for f in sub.glob("*.parquet"):
            dest = watch / f"part-{i:03d}.parquet"
            shutil.copy(f, dest)
            # File-source batch order follows modification time, not
            # path — pin distinct mtimes so gen1 is the first batch.
            os.utime(dest, (now - 600 + i * 60, now - 600 + i * 60))

    stream = read_events_stream(spark, str(watch), max_files_per_trigger=1)
    windowed = (
        with_watermark(stream, "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .count()
        .select(F.date_format("win.start", "HH:mm").alias("start"), "count")
    )
    got = {
        r.start: r["count"]
        for r in run_to_memory(windowed, "t_late", output_mode="append").collect()
    }
    # The 10:00 window closed with 2 events; the late 4th never counted.
    assert got.get("10:00") == 2


def test_foreach_batch_sink_receives_all_rows(spark, events_dir):
    from automated_data_pipeline_python_spark.streaming.events import (
        read_events_stream,
        run_foreach_batch,
    )

    seen: dict[int, int] = {}

    def handle(batch_df, batch_id):
        seen[batch_id] = batch_df.count()

    run_foreach_batch(read_events_stream(spark, events_dir), handle)
    assert sum(seen.values()) == load(spark, SF_DIR, "events").count()


def test_apply_in_pandas_with_state_running_totals(spark, tmp_path):
    import os
    import time
    from pyspark.sql import functions as F
    from automated_data_pipeline_python_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        running_user_totals,
    )

    ev = load(spark, SF_DIR, "events")
    d = tmp_path / "state_watch"
    d.mkdir()
    now = time.time()
    for i, cond in enumerate(["event_id % 2 = 0", "event_id % 2 = 1"]):
        part = ev.filter(cond).selectExpr(
            "event_id",
            "CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01', ts) AS LONG) * 1000 AS ts",
            "user_id",
            "event_type",
            "value",
            "props",
        )
        sub = tmp_path / f"gen{i}"
        part.coalesce(1).write.parquet(str(sub))
        for f in sub.glob("*.parquet"):
            dest = d / f"part-{i:03d}.parquet"
            shutil.copy(f, dest)
            os.utime(dest, (now - 600 + i * 60,) * 2)

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    got = run_to_memory(
        running_user_totals(stream), "t_state", output_mode="update"
    )
    # update mode re-emits per batch; the final (max) row per user is the
    # accumulated state — must equal the plain batch aggregate.
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("total_value").alias("v"))
        .collect()
    )
    want = {
        r.user_id: (r.n, r.v)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    got_map = {r.user_id: (r.n, r.v) for r in final}
    assert set(got_map) == set(want)
    for k, (n, v) in want.items():
        # exact count; value within float-accumulation-order tolerance
        # (round() at a .5 boundary could split the two sides — the
        # repo's stable-rounding concern applied to test asserts)
        assert got_map[k][0] == n, k
        assert abs(got_map[k][1] - v) < 1e-6, k


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    from automated_data_pipeline_python_spark.streaming.events import (
        click_purchase_stream_join,
    )

    # Two INDEPENDENT stream reads (separate sources, like separate topics).
    clicks = read_events_stream(spark, events_dir).filter("event_type = 'click'")
    purchases = read_events_stream(spark, events_dir).filter(
        "event_type = 'purchase'"
    )
    got = run_to_memory(
        click_purchase_stream_join(clicks, purchases),
        "t_ss_join",
        output_mode="append",
    )

    ev = load(spark, SF_DIR, "events")
    want = click_purchase_stream_join(
        ev.filter("event_type = 'click'"), ev.filter("event_type = 'purchase'")
    )
    cols = ["user_id", "click_id", "purchase_id"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() > 0


def test_rate_source_exactly_once(spark):
    """Rate source (S7): values collected across micro-batches form a
    contiguous 0..N-1 sequence — no gaps, no duplicates."""
    import time

    from automated_data_pipeline_python_spark.streaming.events import (
        read_rate_stream,
    )

    q = (
        read_rate_stream(spark, rows_per_second=200)
        .writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table("t_rate").count() >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    values = sorted(r.value for r in spark.table("t_rate").collect())
    assert len(values) >= 100
    assert values == list(range(len(values)))


def test_rate_as_events_feeds_event_transformations(spark):
    """Generated load shaped as events runs the same windowed aggregate
    as the real table (schema parity between rate source and events)."""
    from automated_data_pipeline_python_spark.streaming.events import (
        rate_as_events,
        read_rate_stream,
    )

    shaped = rate_as_events(read_rate_stream(spark, rows_per_second=500))
    assert [f.name for f in shaped.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
    got = run_to_memory(tumbling_counts(shaped), "t_rate_events", timeout_s=30)
    rows = got.collect()
    if rows:  # at least one micro-batch fired within the window
        assert {r.event_type for r in rows} <= {"click", "view", "purchase"}


def test_parse_kafka_events_batch(spark):
    """Kafka payload decode is connector-independent: a batch frame with
    Kafka's (value: binary) shape parses into typed events rows."""
    import json

    from automated_data_pipeline_python_spark.streaming.events import (
        parse_kafka_events,
    )

    payloads = [
        json.dumps(
            {
                "event_id": i,
                "ts": f"2024-01-0{i + 1}T00:00:0{i}",
                "user_id": i * 10,
                "event_type": "click",
                "value": i * 1.5,
                "props": "{}",
            }
        ).encode()
        for i in range(3)
    ]
    raw = spark.createDataFrame([(p,) for p in payloads], "value binary")
    parsed = parse_kafka_events(raw)
    rows = sorted(parsed.collect(), key=lambda r: r.event_id)
    assert [r.event_id for r in rows] == [0, 1, 2]
    assert rows[1].ts.isoformat() == "2024-01-02T00:00:01"
    assert rows[2].value == 3.0
    assert str(parsed.schema["ts"].dataType) == "TimestampNTZType()"


def test_read_events_kafka_requires_connector(spark):
    """The Kafka source binding either loads (connector on classpath) or
    fails with the documented missing-data-source error — never a crash
    in our code."""
    from automated_data_pipeline_python_spark.streaming.events import (
        read_events_kafka,
    )

    try:
        df = read_events_kafka(spark, "localhost:9092", "events")
        assert "event_id" in df.columns
    except Exception as exc:  # connector jar absent in this container
        assert "kafka" in str(exc).lower()


def test_rocksdb_state_store_parity(spark, events_dir, tmp_path):
    """The production state backend at scale: HDFS-backed state keeps
    every key in executor heap (OOM at 100 TB state); RocksDB spills to
    local disk. Same results either way — parity pinned here."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, events_dir)
        got = run_to_memory(tumbling_counts(stream), "t_rocksdb")
        want = tumbling_counts(load(spark, SF_DIR, "events"))
        cols = ["win_start", "event_type", "cnt"]
        assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill a stream mid-ingest, restart from the checkpoint, and the
    final aggregate equals the single-shot batch answer — offsets in
    the checkpoint make re-delivered files exactly-once."""
    import pyspark.sql.functions as F

    src = tmp_path / "src"
    src.mkdir()
    ev = load(spark, SF_DIR, "events")
    # Four arrival files.
    ev.filter("event_id % 4 = 0").write.parquet(str(src / "a"))
    ev.filter("event_id % 4 = 1").write.parquet(str(src / "b"))
    ev.filter("event_id % 4 = 2").write.parquet(str(src / "c"))
    ev.filter("event_id % 4 = 3").write.parquet(str(src / "d"))
    glob_dir = f"{src}/*"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once(max_files):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(glob_dir)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        return q

    # First run: ingest only some files, then stop mid-stream.
    q1 = run_once(max_files=1)
    import time

    deadline = time.time() + 60
    while time.time() < deadline and not q1.recentProgress:
        time.sleep(0.2)
    q1.stop()  # hard stop: some batches committed, some not

    # Restart from the same checkpoint: picks up remaining files only.
    q2 = run_once(max_files=16)
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # no loss, no duplication
    assert got.agg(F.sum("event_id")).first()[0] == ev.agg(F.sum("event_id")).first()[0]


def test_ohlc_stream_equals_batch_and_catalog_twin(spark, events_dir):
    """The struct-min/max OHLC formulation streams; it must match both
    its own batch run and the rank-based catalog query row-for-row."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.streaming.events import ohlc_bars

    stream = read_events_stream(spark, events_dir)
    got = run_to_memory(ohlc_bars(stream), "t_ohlc")
    want = ohlc_bars(load(spark, SF_DIR, "events"))
    cols = ["hour", "event_type", "open", "high", "low", "close", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    catalog = QUERIES["events_ohlc_hourly"].fn(spark, SF_DIR)
    assert _sorted_rows(got, cols) == _sorted_rows(
        catalog.select("hour", "event_type", "open", "high", "low", "close", "n"),
        cols,
    )


def test_mad_alarm_stream_equals_batch(spark, events_dir):
    """The frozen-baseline robust-z scorer is stateless map-only logic;
    the stream run must match the batch run row-for-row, and flagged
    rows must be exactly the |z| > 3.5 set."""
    from automated_data_pipeline_python_spark.streaming.events import (
        mad_alarm,
        mad_baselines,
    )

    batch_events = load(spark, SF_DIR, "events")
    # localCheckpoint RETURNS the frozen frame — reassign, or both runs
    # would recompute the lazy plan independently
    base = mad_baselines(batch_events).localCheckpoint(eager=True)

    stream = read_events_stream(spark, events_dir)
    got = run_to_memory(mad_alarm(stream, base), "t_mad", output_mode="append")
    want = mad_alarm(batch_events, base)
    cols = ["event_id", "event_type", "value", "robust_z", "alarm"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    flagged = want.where("alarm = 1").count()
    by_pred = want.where("abs(robust_z) > 3.5").count()
    assert flagged == by_pred


def test_count_min_grid_stream_equals_batch(spark, events_dir):
    """The CM grid is a windowless grouped count: the stream-maintained
    grid must equal the batch grid cell-for-cell (bounded state: d x w
    cells), proving the sketch can be maintained incrementally and
    merged additively with batch-built grids."""
    from automated_data_pipeline_python_spark.streaming.events import (
        count_min_cells,
    )

    stream = read_events_stream(spark, events_dir)
    got = run_to_memory(count_min_cells(stream), "t_cm")
    want = count_min_cells(load(spark, SF_DIR, "events"))
    cols = ["r", "bucket", "c"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() <= 4 * 256


def test_hysteresis_alarm_stream_equals_batch_catalog(spark, events_dir):
    """The stateful streaming alarm converges to the oracle-checked
    batch query on a fully-delivered stream."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.streaming.events import (
        hysteresis_alarm_stream,
        read_events_stream,
        run_to_memory,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.user_id: (r.n_episodes, r.n_events_in_alarm, r.n_events)
        for r in QUERIES["events_hysteresis_alerts"].fn(spark, sf).collect()
    }
    stream = read_events_stream(spark, events_dir)
    out = run_to_memory(
        hysteresis_alarm_stream(stream), "t_hyst", output_mode="update"
    )
    # update mode re-emits per batch; the final row per user (max
    # n_events) is the accumulated state.
    got = {}
    for r in out.collect():
        cur = got.get(r.user_id)
        if cur is None or r.n_events > cur[2]:
            got[r.user_id] = (r.n_episodes, r.n_events_in_alarm, r.n_events)
    got = {u: v for u, v in got.items() if v[0] > 0}
    assert got == batch
    assert batch, "vacuous fixture: no alarm episodes"


def test_three_way_stream_join_equals_batch(spark, events_dir):
    """Chained stream-stream interval joins (view→click→purchase)
    produce exactly the batch triples."""
    from pyspark.sql import functions as F

    from automated_data_pipeline_python_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        view_click_purchase_stream_join,
    )

    ev = load(spark, SF_DIR, "events")
    legs_b = [
        ev.filter(F.col("event_type") == t)
        for t in ("view", "click", "purchase")
    ]
    batch = {
        (r.view_id, r.click_id, r.purchase_id)
        for r in view_click_purchase_stream_join(*legs_b).collect()
    }

    stream = read_events_stream(spark, events_dir)
    legs_s = [
        stream.filter(F.col("event_type") == t)
        for t in ("view", "click", "purchase")
    ]
    out = run_to_memory(
        view_click_purchase_stream_join(*legs_s),
        "t_3way",
        output_mode="append",
    )
    got = {(r.view_id, r.click_id, r.purchase_id) for r in out.collect()}
    assert got == batch
    assert batch, "vacuous fixture: no triples"


@pytest.fixture(scope="module")
def documents_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("documents_stream")
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-000.parquet")
    return str(d)


def test_psi_monitor_stream_equals_catalog(spark, events_dir):
    """Frozen-baseline PSI drift monitor: cutoffs + early histogram
    frozen batch-side, the stream pays one bounded grouped count, and
    the report (the catalog tail SQL verbatim) must equal
    events_psi_value_drift row-for-row."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.streaming.monitors import (
        psi_baseline,
        psi_late_counts,
        psi_report,
    )

    batch = load(spark, SF_DIR, "events")
    cuts, early = psi_baseline(batch)
    cuts = cuts.localCheckpoint(eager=True)
    early = early.localCheckpoint(eager=True)

    stream = read_events_stream(spark, events_dir)
    got_counts = run_to_memory(
        psi_late_counts(stream, cuts), "t_psi_late", output_mode="complete"
    )
    got = psi_report(got_counts, early)
    want = QUERIES["events_psi_value_drift"].fn(spark, SF_DIR)
    cols = ["bucket", "p_early", "p_late", "psi_term"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    # And the monitor's own batch run matches its stream run (counts
    # path is engine-identical batch vs stream).
    batch_counts = psi_late_counts(batch, cuts)
    assert _sorted_rows(got_counts, ["bucket", "n"]) == _sorted_rows(
        batch_counts, ["bucket", "n"]
    )


def test_doremi_monitor_stream_equals_catalog(spark, documents_dir):
    """Frozen-vocab DoReMi mixture monitor: the surprisal table is
    frozen from the reference corpus, the stream maintains per-source
    (n_tok, loss_u) with |sources| state rows, and the report (the
    catalog tail SQL verbatim) must equal mixture_doremi_round
    row-for-row."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.streaming.documents import (
        read_documents_stream,
    )
    from automated_data_pipeline_python_spark.streaming.monitors import (
        doremi_reference,
        doremi_report,
        doremi_source_stats,
    )
    from automated_data_pipeline_python_spark.tables import load_scaled

    batch_docs = load_scaled(spark, SF_DIR, "documents")
    ref = doremi_reference(batch_docs).localCheckpoint(eager=True)

    stream = read_documents_stream(spark, documents_dir)
    got_stats = run_to_memory(
        doremi_source_stats(stream, ref), "t_doremi", output_mode="complete"
    )
    got = doremi_report(got_stats)
    want = QUERIES["mixture_doremi_round"].fn(spark, SF_DIR)
    cols = ["source", "n_tok", "mean_loss", "excess",
            "weight_before", "weight_after"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    batch_stats = doremi_source_stats(batch_docs, ref)
    assert _sorted_rows(got_stats, ["source", "n_tok", "loss_u"]) == \
        _sorted_rows(batch_stats, ["source", "n_tok", "loss_u"])


def test_ks_monitor_stream_equals_catalog(spark, events_dir):
    """Frozen-reference KS drift monitor: the reference (purchase)
    histogram is frozen batch-side, the stream maintains the live
    (click) distinct-cents histogram as bounded state, and the report
    (the catalog {grid} template verbatim) must equal
    events_ks_two_sample row-for-row."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.streaming.monitors import (
        ks_live_counts,
        ks_reference,
        ks_report,
    )

    batch = load(spark, SF_DIR, "events")
    ref = ks_reference(batch).localCheckpoint(eager=True)

    stream = read_events_stream(spark, events_dir)
    got_counts = run_to_memory(
        ks_live_counts(stream), "t_ks_live", output_mode="complete"
    )
    got = ks_report(got_counts, ref)
    want = QUERIES["events_ks_two_sample"].fn(spark, SF_DIR)
    cols = ["n_click", "n_purchase", "ks_stat", "ks_location", "p_value"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    batch_counts = ks_live_counts(batch)
    assert _sorted_rows(got_counts, ["cents", "n"]) == _sorted_rows(
        batch_counts, ["cents", "n"]
    )

    # The W1 report reads the SAME state — one grid, two drift reports.
    from automated_data_pipeline_python_spark.streaming.monitors import (
        w1_report,
    )

    got_w1 = w1_report(got_counts, ref)
    want_w1 = QUERIES["events_wasserstein_distance"].fn(spark, SF_DIR)
    cols_w1 = ["n_click", "n_purchase", "w1_distance"]
    assert _sorted_rows(got_w1, cols_w1) == _sorted_rows(want_w1, cols_w1)


def test_cusum_monitor_stream_equals_catalog(spark, events_dir):
    """Incremental (type, day) counts + the catalog tail verbatim must
    equal events_cusum_changepoint row-for-row."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.streaming.monitors import (
        cusum_daily_counts,
        cusum_report,
    )

    stream = read_events_stream(spark, events_dir)
    got_counts = run_to_memory(
        cusum_daily_counts(stream), "t_cusum", output_mode="complete"
    )
    got = cusum_report(got_counts)
    want = QUERIES["events_cusum_changepoint"].fn(spark, SF_DIR)
    cols = ["event_type", "changepoint_date", "changepoint_index",
            "cusum_stat"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    batch_counts = cusum_daily_counts(load(spark, SF_DIR, "events"))
    assert _sorted_rows(got_counts, ["event_type", "d", "n"]) == \
        _sorted_rows(batch_counts, ["event_type", "d", "n"])


def test_page_hinkley_monitor_stream_equals_catalog(spark, events_dir):
    """The CUSUM monitor's incremental (type, day) state + the PH
    template verbatim must equal events_page_hinkley_drift
    row-for-row — one state relation feeds both detectors."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.streaming.monitors import (
        cusum_daily_counts,
        page_hinkley_report,
    )

    stream = read_events_stream(spark, events_dir)
    got_counts = run_to_memory(
        cusum_daily_counts(stream), "t_ph", output_mode="complete"
    )
    got = page_hinkley_report(got_counts)
    want = QUERIES["events_page_hinkley_drift"].fn(spark, SF_DIR)
    cols = ["event_type", "day", "n_events", "ph_stat", "alarm"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


@pytest.fixture(scope="module")
def embeddings_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("embeddings_stream")
    shutil.copy(f"{SF_DIR}/embeddings.parquet", d / "part-000.parquet")
    return str(d)


def test_centroid_drift_monitor_stream_equals_catalog(spark, embeddings_dir):
    """Frozen-baseline embedding centroid drift monitor (the drift
    suite's vector axis): the reference half's per-(label, dim) snapped
    component sums are frozen batch-side, the stream maintains the live
    half's sums as bounded state (labels x dims rows), and the report
    (the catalog {sums} template verbatim) must equal
    embedding_centroid_drift row-for-row."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.streaming.monitors import (
        centroid_drift_report,
        centroid_live_sums,
        centroid_reference,
    )

    batch = load(spark, SF_DIR, "embeddings")
    ref = centroid_reference(batch).localCheckpoint(eager=True)

    schema = spark.read.parquet(embeddings_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(embeddings_dir)
        .where("vec_id % 2 = 1")
    )
    got_sums = run_to_memory(
        centroid_live_sums(stream), "t_centroid_live", output_mode="complete"
    )
    got = centroid_drift_report(got_sums, ref)
    want = QUERIES["embedding_centroid_drift"].fn(spark, SF_DIR)
    cols = ["label", "n_early", "n_late", "centroid_cosine", "norm_ratio"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    # the monitor's own batch run matches its stream run (state parity)
    batch_sums = centroid_live_sums(batch.where("vec_id % 2 = 1"))
    assert _sorted_rows(got_sums, ["label", "d", "sx", "c"]) == \
        _sorted_rows(batch_sums, ["label", "d", "sx", "c"])


def test_slo_burn_monitor_stream_equals_catalog(spark, events_dir):
    """Incremental per-day (total, error) counts + the catalog burn
    tail verbatim must equal events_slo_burn_rate row-for-row."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.streaming.monitors import (
        slo_burn_report,
        slo_daily_counts,
    )

    stream = read_events_stream(spark, events_dir)
    got_counts = run_to_memory(
        slo_daily_counts(stream), "t_slo", output_mode="complete"
    )
    got = slo_burn_report(got_counts)
    want = QUERIES["events_slo_burn_rate"].fn(spark, SF_DIR)
    cols = ["day", "n_events", "err_rate_1d", "err_rate_7d",
            "err_rate_28d", "burn_1d", "burn_7d", "burn_28d",
            "page_alert", "ticket_alert"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    batch_counts = slo_daily_counts(load(spark, SF_DIR, "events"))
    assert _sorted_rows(got_counts, ["d", "n", "e"]) == \
        _sorted_rows(batch_counts, ["d", "n", "e"])
