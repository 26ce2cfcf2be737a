"""DuckDB-oracle comparison helper mirroring the driver's t2 gate.

Canonicalization is `tools/verify_driver.rows_canon`, the one the
driver-contract verifier, `tools/result_hash.py` and perfbench use:
sort columns by name, render each cell (floats at full `%.17g`
precision, timestamps ISO, nulls/NaN as `<null>`), sort the rows —
then compare row by row.
"""

from __future__ import annotations

import duckdb

from automated_data_pipeline_python_spark.tables import TABLE_NAMES
from tools.verify_driver import rows_canon


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def assert_matches_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "") -> None:
    actual = spark_df.collect()
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    expected = cur.fetchall()
    assert sorted(spark_df.columns) == sorted(cols), (
        f"{name}: column mismatch spark={sorted(spark_df.columns)} duckdb={sorted(cols)}"
    )
    assert len(actual) == len(expected), (
        f"{name}: row count spark={len(actual)} duckdb={len(expected)}"
    )
    a, e = rows_canon(spark_df.columns, actual), rows_canon(cols, expected)
    if a != e:
        diffs = [(x, y) for x, y in zip(a, e) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs {diffs}")
