"""Paginated REST ingestion with retry, backpressure, and error isolation.

Re-expresses the reference's collector architecture
(``pipeline/collectors/nft.py:25-99`` + ``pipeline/utils/api.py``):

- cursor-paginated producer feeding a bounded ``asyncio.Queue``
  (reference nft.py:25-45,63)
- a worker pool consuming items with per-item error isolation
  (reference nft.py:66-86: log & skip, run survives)
- sentinel shutdown (reference nft.py:89-96)
- retry with exponential backoff (reference api.py:154,23)
- bounded concurrency semaphore (reference api.py:54,176)
- one fetch per distinct enrichment URL within a collect, the in-run
  effect of the reference's Redis response cache (api.py:174-221)

The transport is injected (``fetch: Callable[[str], Awaitable[dict]]``)
so tests run hermetically and the engine has no HTTP dependency; wire in
an httpx/aiohttp client at deployment. The output is a bronze-layer
record list ready for ``spark.createDataFrame``. Within one collect,
repeated enrichment URLs are coalesced onto one fetch; across runs,
re-runs read bronze parquet instead of refetching. Together these
replace the reference's Redis response cache (SURVEY.md §4.3).
"""

from __future__ import annotations

import asyncio
import logging
import random
from collections.abc import Awaitable, Callable
from dataclasses import dataclass

logger = logging.getLogger(__name__)

FetchFn = Callable[[str], Awaitable[dict]]


@dataclass
class FetchStats:
    """Run counters (reference api.py:22 Counter equivalent)."""

    pages: int = 0
    items: int = 0
    enriched: int = 0
    errors: int = 0
    retries: int = 0


class RetryingFetcher:
    """Bounded-concurrency fetch with exponential backoff + jitter.

    Reference parity: stamina @retry(wait_initial=1, wait_max=300)
    (api.py:154,23) and BoundedSemaphore(max_concurrency) (api.py:54).
    """

    def __init__(
        self,
        fetch: FetchFn,
        max_concurrency: int = 15,
        max_attempts: int = 5,
        wait_initial: float = 1.0,
        wait_max: float = 300.0,
        stats: FetchStats | None = None,
        rng: random.Random | None = None,
    ) -> None:
        self._fetch = fetch
        self._semaphore = asyncio.BoundedSemaphore(max_concurrency)
        self._max_attempts = max_attempts
        self._wait_initial = wait_initial
        self._wait_max = wait_max
        self.stats = stats or FetchStats()
        self._rng = rng or random.Random()

    async def get(self, url: str) -> dict:
        delay = self._wait_initial
        async with self._semaphore:
            for attempt in range(1, self._max_attempts + 1):
                try:
                    return await self._fetch(url)
                except Exception:
                    if attempt == self._max_attempts:
                        raise
                    self.stats.retries += 1
                    sleep = min(delay, self._wait_max) * (0.5 + self._rng.random())
                    logger.warning("retry %d for %s in %.1fs", attempt, url, sleep)
                    await asyncio.sleep(sleep)
                    delay *= 2
        raise AssertionError("unreachable")


async def collect_with_enrichment(
    list_fetcher: RetryingFetcher,
    enrich_fetcher: RetryingFetcher,
    first_url: str,
    next_url: Callable[[dict, str], str | None],
    enrich_url: Callable[[dict], str | None],
    apply_enrichment: Callable[[dict, dict], dict],
    items_key: str = "items",
    queue_size: int = 500,
    workers: int = 15,
) -> list[dict]:
    """Producer→queue→worker-pool pipeline with per-item error isolation.

    Reference parity (nft.py:47-99): the producer follows the page
    cursor (``next_url(page_json, current_url)`` returns the next URL or
    None, nft.py:25-45) and pushes items onto a
    bounded queue while ``workers`` consumers enrich concurrently;
    enrichment failures are logged and the bare item kept (nft.py:76-77
    isolates per-NFT exceptions); items without an enrichment URL pass
    through (nft.py:18-20); sentinel shutdown after the producer drains
    (nft.py:89-96).

    Each distinct enrichment URL is fetched once per call, the way the
    reference's response cache serves repeats: items sharing a URL await
    one shared fetch task and ``apply_enrichment`` gets the same decoded
    payload for each of them, so it must treat the payload as read-only. A fetch that fails after its retries is not kept: each
    item that waited on it stays bare and counts in ``stats.errors``,
    and a later item with that URL fetches it again. ``stats.enriched``
    still counts items, not fetches.
    """
    queue: asyncio.Queue[dict | None] = asyncio.Queue(maxsize=queue_size)
    out: list[dict] = []
    stats = enrich_fetcher.stats
    fetches: dict[str, asyncio.Task] = {}  # url -> its one fetch this call

    async def enrich(url: str) -> dict:
        task = fetches.get(url)
        if task is None:
            task = fetches[url] = asyncio.create_task(enrich_fetcher.get(url))

            def drop_if_failed(done: asyncio.Task) -> None:
                # a failed or cancelled fetch is not kept: a later item refetches
                if done.cancelled() or done.exception() is not None:
                    del fetches[url]

            task.add_done_callback(drop_if_failed)
        # shield: a cancelled item must not cancel the fetch others share
        return await asyncio.shield(task)

    async def producer() -> None:
        url: str | None = first_url
        while url:
            page = await list_fetcher.get(url)
            for item in page.get(items_key, []):
                await queue.put(item)
                list_fetcher.stats.items += 1
            list_fetcher.stats.pages += 1
            url = next_url(page, url)

    async def worker() -> None:
        while True:
            item = await queue.get()
            try:
                if item is None:
                    return
                url = enrich_url(item)
                if not url:
                    out.append(item)
                    continue
                try:
                    extra = await enrich(url)
                    out.append(apply_enrichment(item, extra))
                    stats.enriched += 1
                except Exception:
                    logger.exception("enrichment failed; keeping bare item")
                    stats.errors += 1
                    out.append(item)
            finally:
                queue.task_done()

    tasks = [asyncio.create_task(worker()) for _ in range(workers)]
    await producer()
    for _ in tasks:
        await queue.put(None)
    await asyncio.gather(*tasks)
    return out
