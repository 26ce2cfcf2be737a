"""SparkSession factory with scale-appropriate defaults.

Defaults encode the 100 TB design point even though tests run on
``local[N]``: AQE on (runtime join-strategy switching + skew-join
splitting), Arrow on (fast Pandas UDF boundary), small broadcast
threshold left at Spark's default so dimension tables broadcast.

The generated-code cache (``spark.sql.codegen.cache.maxEntries``) is
raised from Spark's 100 to 1000 entries so that a long-lived session
re-running a query set reuses its compiled classes: ``bench.py``'s
28-query headline at sf0.1 compiles 453 distinct classes, and at 100
entries every later cycle recompiled 541 of them.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "automated-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS``
    so the bench harness and tests share one sizing knob.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime partition coalescing, broadcast-join
        # conversion, and skew-join splitting — essential at 100 TB where
        # static planning misguesses sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any Pandas-UDF boundary (vector ops, as-of join).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Naive timestamps throughout: the testdata parquet is
        # isAdjustedToUTC=false and the DuckDB oracle is timezone-naive.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Compiled-class cache (a static conf, fixed at session start).
        # bench.py's 28-query headline at sf0.1 compiles 453 distinct
        # classes once under an unbounded cache (4 more per later
        # cycle), perfbench's 10-query query_catalog set 265; at
        # Spark's 100 entries each cycle evicts what the next needs and
        # recompiles 541 of 546. 1000 holds the headline with 2.2x
        # headroom. Cost, measured on that run: +2.8 MiB metaspace and
        # +6 MiB heap after GC for 455 entries, so ~20 MiB when full.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def recursion_limits(
    spark: SparkSession,
    level_limit: str = "100000",
    row_limit: str = "100000000",
):
    """Temporarily raise the recursive-CTE limits on a shared session.

    Spark's defaults (level 100, rows 1e6) would reject legitimate
    bounded recursions (a year-long daily series, a 2^11-path word
    segmentation), but leaving a 1e8 row limit installed weakens the
    runaway-recursion safety valve for every later query on the same
    session. Callers therefore materialize the recursive result
    EAGERLY inside this block (``.localCheckpoint(eager=True)``) so
    the previous limits can be restored immediately — all users
    recurse over provably bounded relations (calendar days, vocab),
    so the eager result is always small.
    """
    keys = ("spark.sql.cteRecursionLevelLimit", "spark.sql.cteRecursionRowLimit")
    prev = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set(keys[0], level_limit)
    spark.conf.set(keys[1], row_limit)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
