"""Verify the driver contract the way the driver does.

Vanilla SparkSession (NOT the session factory) + `import __spark_entry__`
+ DuckDB views over the same parquet. Compares sorted column names, row
count, and canonicalized sorted rows per query (``oracle_mismatch``,
the one comparison the test suite's oracle checks use too).

Usage: python tools/verify_driver.py [sf_dir] [name_substring ...]
       (default /root/testdata/sf0.01, all queries)

Floats canonicalize at full precision (%.17g): the driver hashes raw
values, so a one-ULP divergence between engines is a real failure — a
6-sig-digit canon would hide exactly the q7-style cent-off bugs.
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from automated_data_pipeline_python_spark.tables import TABLE_NAMES

TABLES = list(TABLE_NAMES)


def canon(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        return f"{v:.17g}"
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def duckdb_conn(sf: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table over ``sf``'s parquet."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def oracle_mismatch(columns, rows, con, sql: str) -> str | None:
    """Compare one Spark result with DuckDB's result of ``sql``.

    The Spark side comes as its column names and its ``rows_canon``
    rows. Checks the column set, then the row count, then the canonical
    rows; returns None when all match, else the first difference.
    """
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    if sorted(columns) != sorted(ocols):
        return f"columns {sorted(columns)} != {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} != {len(orows)}"
    expected = rows_canon(ocols, orows)
    if rows != expected:
        diffs = [(a, e) for a, e in zip(rows, expected) if a != e][:5]
        return f"values mismatch ({len(rows)} rows); first diffs {diffs}"
    return None


def main(sf: str, only: list[str] | None = None) -> int:
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    import __spark_entry__ as E

    if not only:
        n = len(E.entry(spark).collect())
        assert n > 0, "entry() returned 0 rows"
        print(f"entry() ok: {n} rows")

    con = duckdb_conn(sf)

    queries = E.queries()
    oracles = E.oracle_sql()
    # registry idempotency probe
    assert set(E.queries()) == set(queries) and set(E.oracle_sql()) == set(oracles)

    failed, empty = [], []
    for name, fn in queries.items():
        if only and not any(s in name for s in only):
            continue
        try:
            sdf = fn(spark, sf)
            srows = rows_canon(sdf.columns, sdf.collect())
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {exc}")
            failed.append(name)
            continue
        if not srows:
            empty.append(name)
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            diff = oracle_mismatch(sdf.columns, srows, con, oracles[name])
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {exc}")
            failed.append(name)
            continue
        if diff:
            print(f"FAIL {name}: {diff}")
            failed.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match oracle")

    ran = len(queries) if not only else sum(
        1 for n in queries if any(s in n for s in only)
    )
    print(f"\n{ran} queries, {len(failed)} failed, empties: {empty or 'none'}")
    return 1 if failed else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    sys.exit(main(sf_dir, args[1:] or None))
