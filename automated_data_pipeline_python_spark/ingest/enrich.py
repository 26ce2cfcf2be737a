"""Distinct-URL batch enrichment: the relational form of per-row fetch.

The reference enriches each NFT by fetching its ``metadata_url`` per row
(``pipeline/collectors/nft.py:15-23``), using a Redis response cache to
absorb duplicate URLs. Relationally that is a LEFT JOIN against a
``metadata(url, payload)`` table — so the Spark-native shape is:

1. ``distinct()`` the URL column (deduplicates fetches *by
   construction*, subsuming the response cache within a run),
2. fetch each distinct URL — driver-side (:func:`fetch_distinct_urls`)
   for dimension-sized URL sets, or executor-side
   (:func:`fetch_distinct_urls_distributed`, ``mapInPandas`` over URL
   partitions) for large fan-out with zero driver-side collect,
3. broadcast/left-join the fetched table back.

The streaming shape (``fetcher.collect_with_enrichment``) gets the same
property another way: items that share a URL share one in-run fetch.
Either shape fetches each distinct URL once per call.
"""

from __future__ import annotations

import asyncio
from collections.abc import Awaitable, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def enrichment_join(nfts: DataFrame, metadata: DataFrame, url_col: str = "metadata_url") -> DataFrame:
    """``nfts LEFT JOIN metadata ON metadata_url`` (SURVEY §2.3 J1).

    No broadcast hint: the fetched side is bounded by distinct-URL
    count, which GROWS with the corpus (the distributed fetch path
    exists precisely because it can be large). AQE broadcasts it while
    it fits and shuffle-joins beyond — the same policy as the
    scale-growing dimension tables (tests/test_no_scaling_broadcast_hints.py).
    """
    return nfts.join(metadata, on=url_col, how="left")


def _url_traits_schema(url_col: str) -> T.StructType:
    """The ``(url, traits)`` table both fetch paths return."""
    from automated_data_pipeline_python_spark.schemas import TRAIT_TYPE

    return T.StructType(
        [
            T.StructField(url_col, T.StringType()),
            T.StructField("traits", T.ArrayType(TRAIT_TYPE)),
        ]
    )


async def _fetch_traits(fetcher, urls: list[str], payload_field: str) -> list[tuple]:
    """``(url, payload[payload_field])`` per URL through ``fetcher``.

    Error-isolating: a URL whose fetch fails (after the fetcher's own
    retries) yields ``(url, None)`` and counts in ``fetcher.stats.errors``
    instead of failing the whole batch.
    """

    async def one(u: str) -> tuple:
        try:
            payload = await fetcher.get(u)
            return (u, payload.get(payload_field))
        except Exception:
            fetcher.stats.errors += 1
            return (u, None)

    return list(await asyncio.gather(*(one(u) for u in urls)))


def fetch_distinct_urls(
    df: DataFrame,
    fetch: Callable[[str], Awaitable[dict]],
    url_col: str = "metadata_url",
    payload_field: str = "attributes",
    max_concurrency: int = 15,
) -> DataFrame:
    """Fetch each distinct non-null URL once → ``(url, traits)`` table.

    Driver-side async fan-out with bounded concurrency (reference
    api.py:54); suitable for dimension-sized URL sets. The result joins
    back via :func:`enrichment_join`.
    """
    from automated_data_pipeline_python_spark.ingest.fetcher import RetryingFetcher

    urls = [
        r[0]
        for r in df.select(url_col).where(F.col(url_col).isNotNull() & (F.col(url_col) != "")).distinct().collect()
    ]
    fetcher = RetryingFetcher(fetch, max_concurrency=max_concurrency)
    rows = asyncio.run(_fetch_traits(fetcher, urls, payload_field))
    return df.sparkSession.createDataFrame(rows, schema=_url_traits_schema(url_col))


def fetch_distinct_urls_auto(
    df: DataFrame,
    transport_factory: Callable[[], Callable[[str], Awaitable[dict]]],
    url_col: str = "metadata_url",
    payload_field: str = "attributes",
    max_concurrency: int = 15,
    driver_side_limit: int = 10_000,
    partitions: int | None = None,
) -> DataFrame:
    """Route between the driver-side and executor-side fetch by size.

    The driver-side path (:func:`fetch_distinct_urls`) is lower-latency
    for dimension-sized URL sets (no Python-worker spin-up, one pooled
    connection set); the executor-side path
    (:func:`fetch_distinct_urls_distributed`) is the only one that
    survives a URL set that grows with the corpus (zero driver collect,
    fan-out bounded by ``partitions × max_concurrency``). This wrapper
    makes the scale path the DEFAULT above a threshold instead of an
    opt-in: the distinct-URL count is estimated with one
    ``approx_count_distinct`` pass (no shuffle of the full distinct
    set, ~2% relative error — the threshold is a routing heuristic, not
    a correctness boundary), and the driver path is taken only when the
    estimate fits ``driver_side_limit``.

    Both paths build the transport from ``transport_factory`` (the
    driver path locally — closed after the eager fetch; the distributed
    path per executor partition), so callers configure exactly one
    thing. Results are identical across paths: same distinct-once
    semantics, same (url, traits) schema.
    """
    est = df.agg(
        F.approx_count_distinct(
            F.when(
                F.col(url_col).isNotNull() & (F.col(url_col) != ""),
                F.col(url_col),
            )
        ).alias("n_urls")
    ).collect()[0][0]
    if est <= driver_side_limit:
        transport = transport_factory()
        try:
            # eager: rows are fetched and localized before we return
            return fetch_distinct_urls(
                df,
                transport,
                url_col=url_col,
                payload_field=payload_field,
                max_concurrency=max_concurrency,
            )
        finally:
            close = getattr(transport, "close", None)
            if callable(close):
                close()
    return fetch_distinct_urls_distributed(
        df,
        transport_factory,
        url_col=url_col,
        payload_field=payload_field,
        max_concurrency=max_concurrency,
        partitions=partitions,
    )


def fetch_distinct_urls_distributed(
    df: DataFrame,
    transport_factory: Callable[[], Callable[[str], Awaitable[dict]]],
    url_col: str = "metadata_url",
    payload_field: str = "attributes",
    max_concurrency: int = 15,
    partitions: int | None = None,
) -> DataFrame:
    """Executor-side variant: ``mapInPandas`` over distinct-URL partitions.

    The scale path: no driver-side collect anywhere. A global
    ``distinct()`` on the URL column (one hash shuffle) preserves the
    duplicate-URL-fetched-once property of the reference's response
    cache (``pipeline/utils/api.py:174-221``) by construction; each URL
    partition then fetches through its OWN :class:`RetryingFetcher` with
    the same bounded concurrency / retry / error-isolation semantics as
    the driver-side path. Total in-flight requests =
    ``partitions × max_concurrency`` — size accordingly.

    ``transport_factory`` builds the transport ON the executor (a
    connection pool cannot be pickled); pass e.g.
    ``lambda: PooledHttpTransport(headers=...)``. Arrow moves only
    (url, traits) rows — batch-columnar, never per-row Python in the
    surrounding plan.
    """
    urls = df.select(url_col).where(
        F.col(url_col).isNotNull() & (F.col(url_col) != "")
    ).distinct()
    if partitions is not None:
        urls = urls.repartition(partitions)

    def fetch_partition(batches):
        import pandas as pd

        from automated_data_pipeline_python_spark.ingest.fetcher import (
            RetryingFetcher,
        )

        transport = transport_factory()
        fetcher = RetryingFetcher(transport, max_concurrency=max_concurrency)
        try:
            for pdf in batches:
                rows = asyncio.run(
                    _fetch_traits(fetcher, pdf[url_col].tolist(), payload_field)
                )
                yield pd.DataFrame(
                    {
                        url_col: [r[0] for r in rows],
                        "traits": [r[1] for r in rows],
                    }
                )
        finally:
            close = getattr(transport, "close", None)
            if callable(close):
                close()

    return urls.mapInPandas(fetch_partition, schema=_url_traits_schema(url_col))
