"""Verify the driver contract the way the driver does.

Vanilla SparkSession (NOT the session factory) + `import __spark_entry__`
+ DuckDB views over the same parquet. Compares sorted column names, row
count, and canonicalized sorted rows per query.

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


def main(sf: str, only: list[str] | None = None) -> int:
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    import __spark_entry__ as E

    if not only:
        n = len(E.entry(spark).collect())
        assert n > 0, "entry() returned 0 rows"
        print(f"entry() ok: {n} rows")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

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
            srows = sdf.collect()
            scols = sorted(sdf.columns)
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
            cur = con.execute(oracles[name])
            ocols = sorted(d[0] for d in cur.description)
            orows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {exc}")
            failed.append(name)
            continue
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} != {ocols}")
            failed.append(name)
        elif len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(orows)}")
            failed.append(name)
        elif rows_canon(sdf.columns, srows) != rows_canon([d[0] for d in cur.description], orows):
            print(f"FAIL {name}: values mismatch ({len(srows)} rows)")
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
