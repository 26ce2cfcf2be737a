"""Parquet sink (reference ``pipeline/load/store.py:8-19``).

Divergence from the reference, kept deliberately: the reference
*silently skips* None and empty tables (``if not table`` at store.py:9-11
— an empty pa.Table is falsy), which loses schema information for empty
partitions. We always write, so downstream readers see a stable schema
even for empty datasets; at 100 TB empty partitions are routine and must
not vanish.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from automated_data_pipeline_python_spark.sources.files import write_parquet


def write_tables(tables: dict[str, DataFrame], directory: str, prefix: str = "") -> None:
    """Write a named set of tables, ``{directory}/{prefix}{name}`` each.

    Mirrors the reference's per-table write loop (main.py:71-73) with
    directory-dataset layout instead of single files.
    """
    for name, df in tables.items():
        write_parquet(df, f"{directory.rstrip('/')}/{prefix}{name}")
