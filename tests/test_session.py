"""The session factory's compiled-code cache holds a repeated query set.

Spark SQL compiles each physical stage to Java at run time and keeps
the classes in a cache of ``spark.sql.codegen.cache.maxEntries``
entries, 100 by default. ``get_spark`` sizes that cache so a
long-lived session that re-runs a set of queries reuses their classes
instead of compiling them again.
"""

from __future__ import annotations

from automated_data_pipeline_python_spark.queries import QUERIES
from tests.conftest import SF_SMOKE

# Their first run compiles well over Spark's default of 100 classes.
REPEATED = ["dedup_prefix_filter_join", "ann_lsh_topk", "dq_mutual_information"]


def _empty_codegen_cache(spark) -> None:
    """Drop every cached class, so that the first run below compiles the
    set's whole working set whatever earlier tests in this session left
    in the cache. The cache is a private field of Spark's
    ``CodeGenerator`` object; no public API clears it."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(cls.getField("MODULE$").get(None)).invalidateAll()


def _compilations_of_one_run(spark) -> int:
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = compilations.getCount()
    for name in REPEATED:
        QUERIES[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    return compilations.getCount() - before


def test_repeated_queries_reuse_compiled_code(spark):
    _empty_codegen_cache(spark)
    first = _compilations_of_one_run(spark)
    second = _compilations_of_one_run(spark)
    assert first > 100, f"the first run compiled only {first} classes, too few to test the cache"
    assert second < 0.1 * first, f"the second run recompiled {second} of {first} classes"
