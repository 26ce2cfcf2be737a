"""Hash a query's full result set, canonicalized like verify_driver.

Usage: python tools/result_hash.py <sf_dir> <query> [query ...]
       python tools/result_hash.py <sf_dir> --all

Prints one line per query: ``<name> <rowcount> <sha256[:16]>``;
``--all`` hashes every registered query in registry order. Used to
prove a restructure byte-preserves the declared result (run before and
after; hashes must match). Canonicalization matches verify_driver.py
(%.17g floats), sorted columns + sorted rows.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from tools.verify_driver import canon  # noqa: E402


def main() -> None:
    sf = sys.argv[1]
    names = sys.argv[2:]
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("result-hash")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from automated_data_pipeline_python_spark.queries import QUERIES

    if names == ["--all"]:
        names = list(QUERIES)
    for name in names:
        # The registered fn drops the temp views its build created.
        df = QUERIES[name].fn(spark, sf)
        cols = sorted(df.columns)
        rows = sorted(
            ",".join(canon(r[c]) for c in cols) for r in df.collect()
        )
        digest = hashlib.sha256(
            ("|".join(cols) + "\n" + "\n".join(rows)).encode()
        ).hexdigest()[:16]
        print(f"{name} {len(rows)} {digest}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
