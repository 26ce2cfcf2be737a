"""Integration test: the real pooled HTTP transport driving the fetcher
pipeline against a live local server (no network beyond loopback).

Covers the seam the hermetic fetcher tests inject around: a real
urllib3 connection pool, real sockets, real JSON decode, real non-2xx
error paths — the binding the reference ships as its httpx client
(reference pipeline/utils/api.py:33-46).
"""

from __future__ import annotations

import asyncio
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from automated_data_pipeline_python_spark.ingest.fetcher import (
    RetryingFetcher,
    collect_with_enrichment,
)
from automated_data_pipeline_python_spark.ingest.transport import (
    HttpStatusError,
    PooledHttpTransport,
)

N_PAGES = 4
PER_PAGE = 25


class _ApiHandler(BaseHTTPRequestHandler):
    """Cursor-paginated listing + per-item enrichment + failure routes,
    and a slow route that records its peak number of requests in flight."""

    flaky_hits: dict[str, int] = {}
    in_flight = 0
    peak_in_flight = 0
    lock = threading.Lock()

    def _json(self, status: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        if self.path.startswith("/collection/page/"):
            page = int(self.path.rsplit("/", 1)[1])
            items = [
                {"identifier": str(page * PER_PAGE + i), "meta": f"/meta/{(page * PER_PAGE + i) % 10}"}
                for i in range(PER_PAGE)
            ]
            nxt = f"/collection/page/{page + 1}" if page + 1 < N_PAGES else None
            self._json(200, {"items": items, "next": nxt})
        elif self.path.startswith("/meta/"):
            k = int(self.path.rsplit("/", 1)[1])
            self._json(200, {"rarity": k % 3, "family": f"fam{k}"})
        elif self.path == "/slow":
            cls = type(self)
            with cls.lock:
                cls.in_flight += 1
                cls.peak_in_flight = max(cls.peak_in_flight, cls.in_flight)
            time.sleep(0.1)
            with cls.lock:
                cls.in_flight -= 1
            self._json(200, {"ok": True})
        elif self.path == "/moved":
            self.send_response(301)
            self.send_header("Location", "/meta/3")
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path == "/flaky":
            hits = self.flaky_hits.setdefault("flaky", 0)
            self.flaky_hits["flaky"] = hits + 1
            if hits < 2:
                self._json(503, {"error": "busy"})
            else:
                self._json(200, {"ok": True, "attempts": hits + 1})
        else:
            self._json(404, {"error": "not found"})

    def log_message(self, *args) -> None:  # quiet test output
        pass


class _Server(ThreadingHTTPServer):
    request_queue_size = 64  # a burst of connects must not overflow the listen backlog


@pytest.fixture(scope="module")
def api_base():
    server = _Server(("127.0.0.1", 0), _ApiHandler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()
    server.server_close()
    thread.join(timeout=5)


def test_paginate_through_real_pool(api_base):
    """The producer follows the page cursor to its end over a real
    pool; items without an enrichment URL pass through unfetched."""
    with PooledHttpTransport(headers={"X-Api-Key": "test"}) as transport:
        listf = RetryingFetcher(transport, max_concurrency=8)
        enrichf = RetryingFetcher(transport, max_concurrency=8)
        items = asyncio.run(
            collect_with_enrichment(
                listf,
                enrichf,
                f"{api_base}/collection/page/0",
                lambda page, url: (api_base + page["next"]) if page.get("next") else None,
                lambda item: None,
                lambda item, extra: {**item, **extra},
                workers=8,
            )
        )
    assert sorted(int(it["identifier"]) for it in items) == list(range(N_PAGES * PER_PAGE))
    assert listf.stats.pages == N_PAGES
    assert enrichf.stats.enriched == 0


def test_collect_with_enrichment_real_client(api_base):
    with PooledHttpTransport() as transport:
        listf = RetryingFetcher(transport, max_concurrency=8)
        enrichf = RetryingFetcher(transport, max_concurrency=8)
        out = asyncio.run(
            collect_with_enrichment(
                listf,
                enrichf,
                f"{api_base}/collection/page/0",
                lambda page, url: (api_base + page["next"]) if page.get("next") else None,
                lambda item: api_base + item["meta"],
                lambda item, extra: {**item, **extra},
                workers=8,
            )
        )
    assert sorted(int(item["identifier"]) for item in out) == list(range(N_PAGES * PER_PAGE))
    assert listf.stats.pages == N_PAGES
    assert all("rarity" in item for item in out)
    assert enrichf.stats.enriched == N_PAGES * PER_PAGE


def test_requests_in_flight_reach_the_pool_size(api_base):
    """Every pooled connection can carry a request at once: the
    transport's threads, not the loop's default executor
    (min(32, cpus + 4) threads), bound the requests in flight."""
    n = 12
    _ApiHandler.peak_in_flight = 0
    with PooledHttpTransport(maxsize=n) as transport:
        fetcher = RetryingFetcher(transport, max_concurrency=n)

        async def burst():
            return await asyncio.gather(*(fetcher.get(f"{api_base}/slow") for _ in range(3 * n)))

        assert all(r == {"ok": True} for r in asyncio.run(burst()))
    assert _ApiHandler.peak_in_flight == n


def test_retry_on_503_then_success(api_base):
    _ApiHandler.flaky_hits.clear()
    with PooledHttpTransport() as transport:
        fetcher = RetryingFetcher(transport, max_attempts=5, wait_initial=0.01)
        result = asyncio.run(fetcher.get(f"{api_base}/flaky"))
    assert result["ok"] is True
    assert fetcher.stats.retries == 2  # two 503s before the 200


def test_redirect_followed_not_retried(api_base):
    """A permanent 301 must be FOLLOWED by the pool, not surfaced as an
    HttpStatusError that RetryingFetcher retries to exhaustion (urllib3's
    retries=False disables redirect following along with retries; the
    pool uses a Retry that allows redirects only)."""
    with PooledHttpTransport() as transport:
        fetcher = RetryingFetcher(transport, max_attempts=2, wait_initial=0.01)
        result = asyncio.run(fetcher.get(f"{api_base}/moved"))
    assert result == {"rarity": 0, "family": "fam3"}
    assert fetcher.stats.retries == 0


def test_non_2xx_raises_with_status(api_base):
    with PooledHttpTransport() as transport:
        fetcher = RetryingFetcher(transport, max_attempts=2, wait_initial=0.01)
        with pytest.raises(HttpStatusError) as exc:
            asyncio.run(fetcher.get(f"{api_base}/nope"))
    assert exc.value.status == 404
