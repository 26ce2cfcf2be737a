"""``etl_ingest``: the reference pipeline against a loopback fixture API.

One pass, in ``examples/nft_pipeline.py`` order: paginated fetch with
per-item enrichment through the pooled HTTP transport, ``from_records`` +
``normalize_nfts``, ``write_tables`` into a fresh directory, and the
top-traits read-back aggregation. The queries package is never imported.

Each pass writes into a directory of its own; the output checks read
them all after the timed passes and the peak-memory reading, and the
directories are deleted at the end.
"""

from __future__ import annotations

import asyncio
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request

from common import PassProbe, Run, end_to_end, record_peak_rss, start_session, timed, timed_passes
from nft_api import NftApi
from tracing import median_of

PAGES, PER_PAGE, N_META = 24, 100, 240
CONCURRENCY = 4
# The first pass runs cold (JIT, class loading) at ~3x a warm one and is
# untimed. The host slows down for seconds at a time, so the median is
# taken over many short passes: a slow spell then has to cover more than
# half of them to move it. Eight is what the run budget allows.
TIMED_PASSES = 8


class Fixture:
    """The fixture server child process and its request counters."""

    def __init__(self, seed: int) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "fixture_server.py"),
             str(seed), str(PAGES), str(PER_PAGE), str(N_META)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"fixture server did not start: {line!r}")
        self.base = f"http://127.0.0.1:{int(line.split()[1])}"

    def stats(self) -> dict:
        """Counters since the previous call (the server resets them)."""
        with urllib.request.urlopen(f"{self.base}/_stats", timeout=30) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _parquet_files(directory: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, fs in os.walk(directory) for f in fs if f.endswith(".parquet")
    ]


def _parquet_rows(directory: str) -> int:
    """Row count of a written table, from its parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(directory))


def run_etl(run: Run) -> dict:
    api = NftApi(run.seed, PAGES, PER_PAGE, N_META)
    expected_top = api.top_traits()
    out_root = os.path.join(run.work, "etl_out")
    spark = start_session(run)
    with timed() as seg:
        from pyspark.sql import functions as F

        from automated_data_pipeline_python_spark.ingest.fetcher import (
            RetryingFetcher,
            collect_with_enrichment,
        )
        from automated_data_pipeline_python_spark.ingest.normalize import from_records, normalize_nfts
        from automated_data_pipeline_python_spark.ingest.store import write_tables
        from automated_data_pipeline_python_spark.ingest.transport import PooledHttpTransport

        fixture = Fixture(run.seed)
    fixture_wall = seg["wall"]
    probe = PassProbe(spark) if run.traced else None
    per_pass: list[dict] = []
    pass_walls: dict[int, float] = {}
    outcomes: list[tuple] = []  # per pass: (pass_no, out_dir, records, enriched, top rows)

    def one_pass(pass_no: int, traced: bool) -> float:
        out_dir = os.path.join(out_root, f"pass{pass_no}")
        # Each pass starts from collected Python and JVM heaps, outside timing.
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        fixture.stats()  # reset the server counters
        lat: list[float] = []
        tr = run.tracer
        tr.pass_id = f"{run.workload}/{pass_no}"
        if traced:
            probe.begin()
        with tr.span("pass"):
            with timed() as s_collect, tr.span("ingest.fetcher.collect"):
                cpu0 = time.process_time()
                transport = PooledHttpTransport(maxsize=CONCURRENCY)
                fetch = transport
                if traced:
                    async def fetch(url: str) -> dict:
                        t = time.perf_counter()
                        try:
                            return await transport(url)
                        finally:
                            lat.append(time.perf_counter() - t)
                fetcher = RetryingFetcher(fetch, max_concurrency=CONCURRENCY)
                records = asyncio.run(collect_with_enrichment(
                    fetcher, fetcher, f"{fixture.base}/page/0",
                    next_url=lambda page, _u: page.get("next"),
                    enrich_url=lambda item: item.get("metadata_url"),
                    apply_enrichment=lambda item, extra: {**item, "traits": extra["attributes"]},
                    queue_size=500,
                    workers=CONCURRENCY,
                ))
                transport.close()
                cpu_collect = time.process_time() - cpu0
            with timed() as s_norm, tr.span("ingest.normalize"):
                tables = normalize_nfts(from_records(spark, records))
            with timed() as s_write, tr.span("ingest.store.write"):
                write_tables(tables, out_dir)
            with timed() as s_read, tr.span("ingest.readback"):
                top = (
                    spark.read.parquet(f"{out_dir}/traits")
                    .groupBy("trait_type", "value").count()
                    .orderBy(F.desc("count"), "trait_type", "value")
                    .limit(10)
                    .collect()
                )
        segs = (s_collect, s_norm, s_write, s_read)
        wall = pass_walls[pass_no] = sum(sg["wall"] for sg in segs)
        print(*(f"{k}={sg['wall']:.2f}" for k, sg in
                zip(("collect", "normalize", "write", "readback"), segs)), file=sys.stderr)

        served = fixture.stats()
        stats = fetcher.stats
        got_top = [(r["trait_type"], r["value"], r["count"]) for r in top]
        outcomes.append((pass_no, out_dir, len(records), stats.enriched, got_top))

        if traced:
            files = _parquet_files(out_dir)
            layer = probe.end(wall)
            layer.update({
                "ingest.fetcher.collect_s": s_collect["wall"],
                "ingest.fetcher.requests": served["requests"],
                "ingest.fetcher.useful_ratio": served["meta_distinct"] / max(1, served["meta_requests"]),
                "ingest.fetcher.retries": stats.retries,
                "ingest.fetcher.errors": stats.errors,
                "ingest.transport.cpu_ms_per_request": 1000.0 * cpu_collect / max(1, served["requests"]),
                "ingest.transport.request_p50_ms": 1000.0 * statistics.median(lat),
                "ingest.transport.request_p99_ms": 1000.0 * statistics.quantiles(lat, n=100)[98],
                "ingest.normalize.s": s_norm["wall"],
                "ingest.store.write_s": s_write["wall"],
                "ingest.store.files": len(files),
                "ingest.store.bytes_per_input_byte": sum(map(os.path.getsize, files)) / served["bytes"],
                "ingest.readback_s": s_read["wall"],
            })
            per_pass.append(layer)
        return wall

    try:
        one_pass(-1, False)
        # Set-up spans session start, fixture start and the warm-up pass.
        run.layer["warmup_s"] = pass_walls[-1]
        setup_s = run.layer["session.start_s"] + fixture_wall + run.layer["warmup_s"]
        plain, traced = timed_passes(run, one_pass, passes=TIMED_PASSES)
        record_peak_rss(run)
        n = api.n_items
        for pass_no, out_dir, n_records, n_enriched, got_top in outcomes:
            run.check(n_enriched == n, f"pass {pass_no}: {n - n_enriched}/{n} items not enriched")
            run.check(n_records == n, f"pass {pass_no}: {n_records}/{n} records")
            run.check(_parquet_rows(f"{out_dir}/nfts") == n, f"pass {pass_no}: nfts rows")
            run.check(_parquet_rows(f"{out_dir}/traits") == 3 * n, f"pass {pass_no}: traits rows")
            run.check(got_top == expected_top, f"pass {pass_no}: top traits {got_top} != {expected_top}")
    finally:
        fixture.close()
        shutil.rmtree(out_root, ignore_errors=True)
    if run.traced:
        run.layer.update(median_of(per_pass))
        run.layer["trace_overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    return end_to_end(run, setup_s, plain)
