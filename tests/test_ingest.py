"""Ingest-boundary tests: normalize/store/fetcher.

Fixtures model the reference's data shapes (FIXTURES.md §A), including
the documented edge rows: missing metadata_url, null/empty traits,
duplicate URLs, non-numeric identifier, empty input.
"""

from __future__ import annotations

import asyncio
import re

import pytest

from automated_data_pipeline_python_spark.ingest.fetcher import (
    RetryingFetcher,
    collect_with_enrichment,
)
from automated_data_pipeline_python_spark.ingest.normalize import (
    from_records,
    normalize_nfts,
)
from automated_data_pipeline_python_spark.ingest.store import write_tables
from automated_data_pipeline_python_spark.schemas import NFTS_SCHEMA, TRAITS_SCHEMA
from automated_data_pipeline_python_spark.sources.files import write_parquet

RAW_RECORDS = [
    {
        "identifier": "1",
        "collection": "c",
        "contract": "0xabc",
        "token_standard": "erc721",
        "name": "one",
        "metadata_url": "http://meta/1",
        "traits": [
            {"trait_type": "color", "value": "red"},
            {"trait_type": "size", "value": "xl"},
        ],
    },
    {
        "identifier": "2",
        "collection": "c",
        "contract": "0xabc",
        "token_standard": "erc721",
        "name": None,
        "metadata_url": None,  # enrichment skipped (reference nft.py:18-20)
        "traits": None,
    },
    {
        "identifier": "not-a-number",  # cast edge
        "collection": "c",
        "contract": "0xabc",
        "token_standard": "erc721",
        "name": "bad id",
        "metadata_url": "http://meta/1",  # duplicate URL
        "traits": [],
    },
]

# Non-string JSON scalars in string fields, an int identifier, extra and
# missing keys (top level and inside a trait), and a null trait element.
COERCION_RECORDS = [
    {
        "identifier": 7,
        "collection": "c",
        "name": 5,
        "rarity_rank": 12,  # extra key: dropped
        "traits": [
            {"trait_type": "int", "value": 5},
            {"trait_type": "float", "value": 1e-05},
            {"trait_type": "bool", "value": True},
            {"trait_type": "dict", "value": {"x": 1}},
            None,
            {"trait_type": "extra", "value": "v", "display_type": "number"},
            {"trait_type": "missing"},
        ],
    },
    {"identifier": "8", "name": 1e-05, "traits": None},
    {"identifier": "9", "name": True, "traits": []},
    {"identifier": "10", "name": {"x": 1}},
]


class TestNormalize:
    def test_schema_applied_and_cast(self, spark):
        tables = normalize_nfts(from_records(spark, RAW_RECORDS))
        nfts = tables["nfts"].orderBy("name").collect()
        assert [f.name for f in tables["nfts"].schema.fields] == [
            "identifier",
            "collection",
            "contract",
            "token_standard",
            "name",
            "metadata_url",
        ]
        by_name = {r.name: r for r in nfts}
        assert by_name["one"].identifier == 1
        assert by_name["bad id"].identifier is None  # non-numeric -> null

    def test_traits_exploded_one_row_per_trait(self, spark):
        # The reference's flatten is a documented no-op
        # (normalize.py:26-29); we implement the intent.
        traits = normalize_nfts(from_records(spark, RAW_RECORDS))["traits"]
        rows = sorted(traits.collect())
        assert [tuple(r) for r in rows] == [
            (1, "color", "red"),
            (1, "size", "xl"),
        ]  # null + empty trait arrays produce no rows

    def test_empty_input_preserves_schema(self, spark):
        tables = normalize_nfts(from_records(spark, []))
        assert tables["nfts"].count() == 0
        assert tables["traits"].columns == ["identifier", "trait_type", "value"]

    def test_string_coercion_and_key_matching(self, spark):
        # JSON scalars in string fields become their string form (bools
        # lowercased); extra keys are dropped and missing keys read null,
        # at the top level and inside a trait.
        tables = normalize_nfts(from_records(spark, COERCION_RECORDS))
        assert sorted(tuple(r) for r in tables["nfts"].collect()) == [
            (7, "c", None, None, "5", None),
            (8, None, None, None, "1e-05", None),
            (9, None, None, None, "true", None),
            (10, None, None, None, "{'x': 1}", None),
        ]
        assert sorted((tuple(r) for r in tables["traits"].collect()), key=repr) == sorted(
            [
                (7, "int", "5"),
                (7, "float", "1e-05"),
                (7, "bool", "true"),
                (7, "dict", "{'x': 1}"),
                (7, None, None),  # a null trait explodes to a null struct
                (7, "extra", "v"),
                (7, "missing", None),
            ],
            key=repr,
        )

    def test_output_schemas_match_declared(self, spark):
        tables = normalize_nfts(from_records(spark, RAW_RECORDS))
        assert tables["nfts"].schema == NFTS_SCHEMA
        assert tables["traits"].schema == TRAITS_SCHEMA

    @pytest.mark.parametrize(
        "record, where",
        [
            ({"identifier": "1", "traits": "notalist"}, "record 1: traits "),
            ({"identifier": "1", "traits": {"trait_type": "a"}}, "record 1: traits "),
            ({"identifier": "1", "traits": ["abc"]}, "record 1: traits[0] "),
            ({"identifier": "1", "traits": [None, 5]}, "record 1: traits[1] "),
            # Divergence 3: a positional [trait_type, value] pair is not
            # read as a struct.
            ({"identifier": "1", "traits": [["a", "b"]]}, "record 1: traits[0] "),
            ("abc", "record 1 "),
        ],
    )
    def test_malformed_record_raises_type_error(self, spark, record, where):
        with pytest.raises(TypeError, match=re.escape(where)):
            from_records(spark, [RAW_RECORDS[0], record])

    def test_arrow_conf_off_gives_same_rows(self, spark):
        key = "spark.sql.execution.arrow.pyspark.enabled"
        before = spark.conf.get(key, None)
        records = RAW_RECORDS + COERCION_RECORDS

        def rows() -> dict[str, list]:
            tables = normalize_nfts(from_records(spark, records))
            return {k: sorted(df.collect(), key=repr) for k, df in tables.items()}

        try:
            spark.conf.set(key, "true")
            on = rows()
            spark.conf.set(key, "false")
            off = rows()
        finally:
            if before is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, before)
        assert off == on
        assert len(on["nfts"]) == 7 and len(on["traits"]) == 9


class TestStore:
    def test_writes_empty_dataset(self, spark, tmp_path):
        # Divergence from reference store.py:9-11 (skips empty tables):
        # we persist schema-preserving empty datasets.
        empty = normalize_nfts(from_records(spark, []))["nfts"]
        path = str(tmp_path / "empty_nfts")
        write_parquet(empty, path)
        back = spark.read.parquet(path)
        assert back.count() == 0
        assert back.columns == empty.columns

    def test_write_tables_roundtrip(self, spark, tmp_path):
        tables = normalize_nfts(from_records(spark, RAW_RECORDS))
        write_tables(tables, str(tmp_path), prefix="slug_")
        nfts = spark.read.parquet(str(tmp_path / "slug_nfts"))
        traits = spark.read.parquet(str(tmp_path / "slug_traits"))
        assert nfts.count() == 3
        assert traits.count() == 2


def _paged_api(n_pages: int, per_page: int, fail_urls: dict[str, int] | None = None):
    """Fake cursor-paginated endpoint; fail_urls[url] = #failures before ok."""
    remaining = dict(fail_urls or {})

    async def fetch(url: str) -> dict:
        if url in remaining and remaining[url] > 0:
            remaining[url] -= 1
            raise ConnectionError(f"flaky {url}")
        if url.startswith("http://api/page/"):
            page = int(url.rsplit("/", 1)[1])
            items = [
                {"identifier": str(page * per_page + i), "metadata_url": f"http://meta/{(page * per_page + i) % 3}"}
                for i in range(per_page)
            ]
            nxt = f"http://api/page/{page + 1}" if page + 1 < n_pages else None
            return {"items": items, "next": nxt}
        if url.startswith("http://meta/"):
            return {"attributes": [{"trait_type": "mod", "value": url[-1]}]}
        raise KeyError(url)

    return fetch


def _next_url(page: dict, _cur: str) -> str | None:
    return page.get("next")


class TestFetcher:
    def test_collect_exhausts_cursor(self):
        fetcher = RetryingFetcher(_paged_api(3, 4), wait_initial=0.001)
        out = asyncio.run(self._collect(fetcher, fetcher, "http://api/page/0", 2, enrich_url=lambda it: None))
        assert sorted(int(o["identifier"]) for o in out) == list(range(12))
        assert (fetcher.stats.pages, fetcher.stats.items) == (3, 12)

    def test_retry_with_backoff_recovers(self):
        fetch = _paged_api(2, 2, fail_urls={"http://api/page/1": 2})
        fetcher = RetryingFetcher(fetch, wait_initial=0.001)
        page = asyncio.run(fetcher.get("http://api/page/1"))
        assert len(page["items"]) == 2
        assert fetcher.stats.retries == 2

    def test_retry_gives_up_after_max_attempts(self):
        fetch = _paged_api(1, 1, fail_urls={"http://api/page/0": 99})
        fetcher = RetryingFetcher(fetch, max_attempts=3, wait_initial=0.001)
        with pytest.raises(ConnectionError):
            asyncio.run(fetcher.get("http://api/page/0"))
        assert fetcher.stats.retries == 2

    def test_pipeline_enriches_and_isolates_errors(self):
        # meta/2 always fails -> its items pass through bare
        # (reference nft.py:76-77 error isolation).
        fetch = _paged_api(2, 3, fail_urls={"http://meta/2": 99})
        lf = RetryingFetcher(fetch, wait_initial=0.001)
        ef = RetryingFetcher(fetch, max_attempts=2, wait_initial=0.001)

        def apply(item, extra):
            return {**item, "traits": extra["attributes"]}

        out = asyncio.run(
            collect_with_enrichment(
                lf,
                ef,
                "http://api/page/0",
                _next_url,
                enrich_url=lambda it: it.get("metadata_url"),
                apply_enrichment=apply,
                workers=4,
                queue_size=2,
            )
        )
        assert len(out) == 6
        enriched = [o for o in out if "traits" in o]
        bare = [o for o in out if "traits" not in o]
        assert len(enriched) == 4  # urls meta/0 and meta/1
        assert len(bare) == 2  # meta/2 items survive bare
        assert ef.stats.errors == 2

    @staticmethod
    def _collect(lf, ef, first_url, workers, enrich_url=lambda it: it.get("metadata_url")):
        return collect_with_enrichment(
            lf,
            ef,
            first_url,
            _next_url,
            enrich_url=enrich_url,
            apply_enrichment=lambda item, extra: {**item, "traits": extra["attributes"]},
            workers=workers,
        )

    def test_pipeline_fetches_each_enrichment_url_once(self):
        inner = _paged_api(6, 20)  # 120 items over 3 distinct meta URLs
        calls: list[str] = []

        async def fetch(url: str) -> dict:
            calls.append(url)
            await asyncio.sleep(0)  # let the other workers interleave
            return await inner(url)

        ef = RetryingFetcher(fetch, wait_initial=0.001)
        collect = self._collect(RetryingFetcher(fetch), ef, "http://api/page/0", workers=16)
        out = asyncio.run(asyncio.wait_for(collect, 10))
        assert len(calls) == 6 + 3
        assert sorted(u for u in calls if u.startswith("http://meta/")) == [f"http://meta/{k}" for k in range(3)]
        assert len(out) == 120 and all("traits" in o for o in out)
        assert ef.stats.enriched == 120

    def test_workers_share_an_in_flight_enrichment_fetch(self):
        meta = "http://meta/0"
        calls: list[str] = []
        asked: list[str] = []

        async def scenario():
            started, gate = asyncio.Event(), asyncio.Event()

            async def fetch(url: str) -> dict:
                calls.append(url)
                if url == "http://api/page/0":
                    return {"items": [{"identifier": "0", "metadata_url": meta}], "next": "http://api/page/1"}
                if url == "http://api/page/1":
                    await started.wait()  # the second item arrives mid-fetch
                    return {"items": [{"identifier": "1", "metadata_url": meta}], "next": None}
                started.set()
                await gate.wait()
                return {"attributes": [{"trait_type": "mod", "value": "0"}]}

            def enrich_url(item: dict) -> str:
                asked.append(item["identifier"])
                if len(asked) == 2:  # release the fetch once both items want it
                    asyncio.get_running_loop().call_soon(gate.set)
                return item["metadata_url"]

            lf, ef = RetryingFetcher(fetch), RetryingFetcher(fetch)
            out = await asyncio.wait_for(self._collect(lf, ef, "http://api/page/0", 2, enrich_url), 10)
            return out, ef

        out, ef = asyncio.run(scenario())
        assert calls.count(meta) == 1
        assert len(out) == 2 and all("traits" in o for o in out)
        assert ef.stats.enriched == 2 and ef.stats.errors == 0

    def test_failed_enrichment_fetch_is_not_memoized(self):
        # items 0..3 use meta/0, 1, 2, 0; the first meta/0 exchange fails
        inner = _paged_api(1, 4, fail_urls={"http://meta/0": 1})
        calls: list[str] = []

        async def fetch(url: str) -> dict:
            calls.append(url)
            return await inner(url)

        ef = RetryingFetcher(fetch, max_attempts=1, wait_initial=0.001)
        out = asyncio.run(self._collect(RetryingFetcher(fetch), ef, "http://api/page/0", workers=1))
        by_id = {o["identifier"]: o for o in out}
        assert "traits" not in by_id["0"]  # kept bare
        assert by_id["3"]["traits"] == [{"trait_type": "mod", "value": "0"}]  # refetched
        assert calls.count("http://meta/0") == 2
        assert (ef.stats.enriched, ef.stats.errors) == (3, 1)
