"""Dump ``explain("formatted")`` for named queries to plans/<tag>/.

Usage::

    python tools/dump_plans.py <suffix> [query ...]

Writes ``plans/$PLANS_TAG/<query>_<suffix>.txt`` (default r13) for each query (default: the
bench headline set). The optimization-round judge checks plan claims
(Exchange counts, join strategies, PushedFilters) against these files,
so regenerate the ``_after`` files whenever a touched query's plan
changes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from automated_data_pipeline_python_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "plans", os.environ.get("PLANS_TAG", "r13"))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    spark = get_spark(app_name="dump-plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    from automated_data_pipeline_python_spark.queries import QUERIES

    if not names:
        import bench

        names = [n for n in bench.HEADLINE if n in QUERIES]
    os.makedirs(OUT, exist_ok=True)
    for name in names:
        df = QUERIES[name].fn(spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {SF} ({suffix})\n")
            f.write(buf.getvalue())
        print(path)
    spark.stop()


if __name__ == "__main__":
    main()
