"""DuckDB-oracle check for tests that build their own DataFrame (another
corpus, changed session conf), mirroring the driver's t2 gate.

The comparison is `tools/verify_driver.oracle_mismatch`, the one the
driver-contract verifier runs: column set, row count, then the rows
canonicalized by `tools/verify_driver.rows_canon` (columns sorted by
name, floats at full `%.17g` precision, timestamps ISO, nulls/NaN as
`<null>`, rows sorted). `tools/result_hash.py` and perfbench use the
same canon.
"""

from __future__ import annotations

import duckdb

from tools.verify_driver import oracle_mismatch, rows_canon


def assert_matches_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "") -> list:
    """Collect ``spark_df``, assert it matches DuckDB's result of ``sql``
    and return the canonical rows, so a caller checks them without
    running the query again."""
    rows = rows_canon(spark_df.columns, spark_df.collect())
    diff = oracle_mismatch(spark_df.columns, rows, con, sql)
    assert diff is None, f"{name}: {diff}"
    return rows
