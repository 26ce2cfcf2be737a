"""Ingest boundary: the reference pipeline's ETL surface, Spark-first.

The reference (HunterX405/automated-data-pipeline-python) is an
asyncio extract→transform→load pipeline; this package re-expresses each
stage idiomatically:

- ``fetcher``    — paginated producer/consumer fetch with retry,
                   bounded concurrency, error isolation, and one fetch
                   per distinct enrichment URL within a collect
                   (reference pipeline/collectors/nft.py, utils/api.py)
- ``transport``  — pooled HTTP clients for the fetcher's injectable
                   fetch seam (reference utils/api.py:33-46)
- ``normalize``  — one Arrow table from the collected dicts, cast,
                   projections, trait explode
                   (reference pipeline/transform/normalize.py)
- ``store``      — parquet sink (reference pipeline/load/store.py)
"""
