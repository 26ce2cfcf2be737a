"""Console status loop vs reference semantics (api.py:80-108): TTY →
1 Hz carriage-return rewrite; non-TTY → slow plain prints; the final
state is always emitted on stop."""

from __future__ import annotations

import io
import time
from dataclasses import asdict

from automated_data_pipeline_python_spark.ingest.fetcher import FetchStats
from automated_data_pipeline_python_spark.utils.status import (
    ConsoleStatus,
    format_status,
)


def test_interactive_rewrites_one_line():
    stats = FetchStats()
    out = io.StringIO()
    with ConsoleStatus(
        lambda: asdict(stats), interval=0.02, out=out, interactive=True
    ):
        stats.pages = 3
        stats.items = 75
        time.sleep(0.08)
    text = out.getvalue()
    assert "\r" in text and not text.startswith("\n")
    assert text.count("\n") == 1  # only the final newline on stop
    last = text.rsplit("\r", 1)[1]
    assert "Pages: 3" in last and "Items: 75" in last
    assert "Elapsed:" in last and "minutes" in last


def test_non_interactive_prints_plain_lines_slowly():
    stats = FetchStats(errors=2, retries=5)
    out = io.StringIO()
    with ConsoleStatus(
        lambda: asdict(stats), interval=0.01, log_interval=0.05,
        out=out, interactive=False,
    ):
        time.sleep(0.12)
    lines = [ln for ln in out.getvalue().splitlines() if ln]
    # ticked at log_interval (not interval): ~2 ticks + final emit
    assert 2 <= len(lines) <= 4
    assert all("\r" not in ln for ln in lines)
    assert "Errors: 2" in lines[-1] and "Retries: 5" in lines[-1]


def test_final_state_always_emitted():
    stats = FetchStats()
    out = io.StringIO()
    with ConsoleStatus(
        lambda: asdict(stats), interval=60, out=out, interactive=False
    ):
        stats.enriched = 42  # changes after the (never-fired) first tick
    assert "Enriched: 42" in out.getvalue()


def test_format_status_shape():
    line = format_status({"api_requests": 7, "cache_hits": 3}, elapsed_s=90)
    assert line == "Api Requests: 7 | Cache Hits: 3 | Elapsed: 1.50 minutes"


def test_observe_metrics_feed_the_status_line(spark):
    """df.observe counters plug into the same reporter the fetcher
    stats use — the engine-side twin of the reference's API counters."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("status_obs")
    df = spark.range(1000).withColumn("v", F.col("id") % 7).observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum("v").alias("sum_v")
    )
    df.write.format("noop").mode("overwrite").save()  # action populates obs
    out = io.StringIO()
    reporter = ConsoleStatus(lambda: obs.get, interval=60, out=out, interactive=False)
    reporter.start()
    reporter.stop()  # final emit reads the observation
    assert "Rows: 1000" in out.getvalue()
    assert "Sum V:" in out.getvalue()
