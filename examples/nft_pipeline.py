"""End-to-end pipeline: the reference's ``main.py`` re-expressed.

COLLECT → TRANSFORM → LOAD → QUERY (reference main.py:38-73 stages plus
the query the reference deferred to a "future DuckDB/PostgreSQL layer",
README.md:145-155):

1. collect: paginated fetch with enrichment via the worker pipeline
   (injectable transport — pass a real HTTP client's coroutine to run
   against a live API),
2. transform: schema application, identifier cast, trait explode,
3. load: parquet datasets (empty-safe),
4. query: top trait (type, value) pairs by count — the flagship
   aggregation over the exploded traits table.

Run: ``python examples/nft_pipeline.py [output_dir]`` — serves the demo
API over a loopback HTTP server and drives the COLLECT stage through
the real pooled transport (``ingest.transport.PooledHttpTransport``);
pass ``--in-process`` to skip HTTP and use the coroutine stand-in, and
``--logfile=PATH`` to add a rotating DEBUG log file to the console log.
"""

from __future__ import annotations

import asyncio
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from automated_data_pipeline_python_spark.ingest.fetcher import (
    RetryingFetcher,
    collect_with_enrichment,
)
from automated_data_pipeline_python_spark.ingest.normalize import (
    from_records,
    normalize_nfts,
)
from automated_data_pipeline_python_spark.ingest.store import write_tables
from automated_data_pipeline_python_spark.session import get_spark
from automated_data_pipeline_python_spark.utils.logs import setup_logging

LIST_CONCURRENCY = 2  # reference api_clients.py:10
ENRICH_CONCURRENCY = 15  # reference api_clients.py:17


def make_env_keyed_transport():
    """Env-keyed client factory (reference api_clients.py:4-17):
    ``OPENSEA_API_KEY`` — when set — rides every request as the
    ``X-API-KEY`` header; the metadata/enrichment side needs no key.
    The reference loads it via dotenv (main.py:16); any env loader
    works — only ``os.getenv`` is assumed here. One pool serves both
    fetchers, so it holds a connection for each request either may
    have in flight.
    """
    from automated_data_pipeline_python_spark.ingest.transport import PooledHttpTransport

    api_key = os.getenv("OPENSEA_API_KEY")
    headers = {"X-API-KEY": api_key} if api_key else {}
    return PooledHttpTransport(headers=headers, maxsize=LIST_CONCURRENCY + ENRICH_CONCURRENCY)


def demo_transport(n_pages: int = 5, per_page: int = 200):
    """Deterministic stand-in for the OpenSea API (no network in this
    environment); ``make_env_keyed_transport()`` is the live binding."""

    async def fetch(url: str) -> dict:
        if url.startswith("api://collection/page/"):
            page = int(url.rsplit("/", 1)[1])
            items = [
                {
                    "identifier": str(page * per_page + i),
                    "collection": "demo",
                    "contract": "0xdemo",
                    "token_standard": "erc721",
                    "name": f"Demo #{page * per_page + i}",
                    "metadata_url": f"api://meta/{(page * per_page + i) % 40}",
                }
                for i in range(per_page)
            ]
            nxt = f"api://collection/page/{page + 1}" if page + 1 < n_pages else None
            return {"items": items, "next": nxt}
        if url.startswith("api://meta/"):
            k = int(url.rsplit("/", 1)[1])
            return {
                "attributes": [
                    {"trait_type": "color", "value": ["red", "green", "blue", "gold"][k % 4]},
                    {"trait_type": "tier", "value": str(k % 5)},
                ]
            }
        raise KeyError(url)

    return fetch


def serve_demo_api(n_pages: int = 5, per_page: int = 200):
    """Serve the demo collection over loopback HTTP so the pipeline can
    exercise the REAL pooled transport. Returns (base_url, shutdown)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    inner = demo_transport(n_pages=n_pages, per_page=per_page)
    base_holder: list[str] = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            try:
                page = asyncio.run(inner("api:/" + self.path))
            except KeyError:
                self.send_response(404)
                self.end_headers()
                return
            # Rewrite api:// URLs to this server's own base URL.
            body = json.dumps(page).replace("api://", base_holder[0] + "/").encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    base_holder.append(f"http://127.0.0.1:{server.server_address[1]}")
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()

    def shutdown():
        server.shutdown()
        thread.join(timeout=5)

    return base_holder[0], shutdown


def run_pipeline(spark, output_dir: str, transport=None, first_url=None) -> dict:
    """Run the four stages; ``transport`` is closed after COLLECT when it
    has ``aclose`` or ``close``."""
    transport = transport or demo_transport()
    first_url = first_url or "api://collection/page/0"
    list_fetcher = RetryingFetcher(transport, max_concurrency=LIST_CONCURRENCY)
    enrich_fetcher = RetryingFetcher(transport, max_concurrency=ENRICH_CONCURRENCY)

    # COLLECT (reference main.py:38-49), with the live status line the
    # reference runs at 1 Hz (api.py:80-108)
    from dataclasses import asdict

    from automated_data_pipeline_python_spark.utils.status import ConsoleStatus

    def counters():
        merged = {
            k: asdict(list_fetcher.stats)[k] + asdict(enrich_fetcher.stats)[k]
            for k in ("pages", "items", "enriched", "errors", "retries")
        }
        return merged

    async def collect():
        try:
            return await collect_with_enrichment(
                list_fetcher,
                enrich_fetcher,
                first_url,
                next_url=lambda page, _u: page.get("next"),
                enrich_url=lambda item: item.get("metadata_url"),
                apply_enrichment=lambda item, extra: {**item, "traits": extra["attributes"]},
                queue_size=500,  # reference nft.py:63
                workers=15,  # reference nft.py:83
            )
        finally:
            # close inside the loop: an async client must not outlive it
            if hasattr(transport, "aclose"):
                await transport.aclose()
            elif hasattr(transport, "close"):
                transport.close()

    with ConsoleStatus(counters):
        records = asyncio.run(collect())

    # TRANSFORM (reference main.py:51-67)
    tables = normalize_nfts(from_records(spark, records))

    # LOAD (reference main.py:69-73)
    write_tables(tables, output_dir, prefix="demo_")

    # QUERY (SURVEY §7 phase 2 flagship)
    top_traits = (
        spark.read.parquet(f"{output_dir}/demo_traits")
        .groupBy("trait_type", "value")
        .count()
        .orderBy(F.desc("count"), "trait_type", "value")
        .limit(10)
    )
    return {
        "n_records": len(records),
        "enriched": enrich_fetcher.stats.enriched,
        "top_traits": top_traits.collect(),
    }


if __name__ == "__main__":
    # logging first, as the reference main.py:19-29 does
    logfile = next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--logfile=")), None)
    setup_logging(logfile=logfile)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out = args[0] if args else "/tmp/nft_pipeline_demo"
    spark = get_spark(app_name="nft-pipeline-demo")
    if "--in-process" in sys.argv:
        result = run_pipeline(spark, out)
    else:
        base, shutdown = serve_demo_api()
        try:
            result = run_pipeline(
                spark,
                out,
                transport=make_env_keyed_transport(),
                first_url=f"{base}/collection/page/0",
            )
        finally:
            shutdown()
    print(f"collected {result['n_records']} records ({result['enriched']} enriched)")
    for row in result["top_traits"]:
        print(f"  {row.trait_type}={row.value}: {row['count']}")
    spark.stop()
