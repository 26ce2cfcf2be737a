"""Production HTTP transport bindings for the injectable fetch seam.

The reference ships a pooled HTTP/2 httpx AsyncClient as its one real
transport (reference pipeline/utils/api.py:33-46: shared client,
connection pool, timeout, default headers). The engine keeps the seam
injectable (``FetchFn = Callable[[str], Awaitable[dict]]``) and this
module provides the one real binding, :class:`PooledHttpTransport`: a
urllib3 ``PoolManager`` (pooled keep-alive HTTP/1.1, stdlib-adjacent,
present everywhere Spark's Python is). The sync client is bridged onto
the event loop through the transport's own ``maxsize``-thread executor
so the async fetcher pipeline (``RetryingFetcher`` /
``collect_with_enrichment``) drives it unchanged; requests in flight
are bounded by the smaller of ``maxsize`` and the fetcher's
``max_concurrency``.

Transport contract (what ``RetryingFetcher`` expects):
- return the decoded JSON dict on 2xx,
- raise on transport errors AND on retryable HTTP statuses — retry
  policy (attempts/backoff/jitter) lives in ``RetryingFetcher``
  (reference api.py:154 @retry), never in the transport,
- no retries, no sleeps, no global state inside the transport itself.
"""

from __future__ import annotations

import asyncio
import json
from concurrent.futures import ThreadPoolExecutor
from typing import Any

__all__ = ["HttpStatusError", "PooledHttpTransport"]


class HttpStatusError(Exception):
    """Non-2xx response; carries the status for retry/skip decisions."""

    def __init__(self, url: str, status: int, body_snippet: str = ""):
        super().__init__(f"HTTP {status} for {url}: {body_snippet[:200]}")
        self.url = url
        self.status = status


class PooledHttpTransport:
    """urllib3-backed pooled transport (keep-alive HTTP/1.1).

    One ``PoolManager`` per transport instance = one connection pool
    shared across all fetches, mirroring the reference's single shared
    client (api.py:33-46). ``num_pools``/``maxsize`` bound sockets the
    way httpx's ``Limits(max_connections=...)`` does. Requests run on a
    ``maxsize``-thread executor owned by the transport, so every pooled
    connection can be in use at once.
    """

    def __init__(
        self,
        headers: dict[str, str] | None = None,
        timeout_s: float = 30.0,
        maxsize: int = 15,
        num_pools: int = 4,
    ) -> None:
        import urllib3

        self._threads = ThreadPoolExecutor(max_workers=maxsize, thread_name_prefix="http")
        self._http = urllib3.PoolManager(
            num_pools=num_pools,
            maxsize=maxsize,
            block=False,
            headers=headers or {},
            timeout=urllib3.Timeout(total=timeout_s),
            # Retry policy belongs to RetryingFetcher — but retries=False
            # would also disable redirect FOLLOWING in urllib3, turning a
            # permanent 301/302 into an HttpStatusError that the fetcher
            # retries to exhaustion. Allow redirects only: total must be
            # None (it takes precedence over every per-category count,
            # so total=0 would block redirects too — verified against a
            # live server), with connect/read/status/other retries at 0.
            retries=urllib3.Retry(
                total=None, connect=0, read=0, status=0, other=0, redirect=3
            ),
        )

    def fetch_sync(self, url: str) -> dict[str, Any]:
        resp = self._http.request("GET", url)
        if not 200 <= resp.status < 300:
            raise HttpStatusError(url, resp.status, resp.data[:200].decode("utf-8", "replace"))
        return json.loads(resp.data.decode("utf-8"))

    async def __call__(self, url: str) -> dict[str, Any]:
        # Not asyncio.to_thread: the loop's default executor holds
        # min(32, cpus + 4) threads, fewer than maxsize on small hosts.
        loop = asyncio.get_running_loop()
        return await loop.run_in_executor(self._threads, self.fetch_sync, url)

    def close(self) -> None:
        self._threads.shutdown()
        self._http.clear()

    def __enter__(self) -> "PooledHttpTransport":
        return self

    def __exit__(self, *exc: object) -> None:
        self.close()
