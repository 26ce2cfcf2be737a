"""Registry for the driver-facing query catalog.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) a DuckDB oracle SQL string over the same
parquet tables. Column names MUST match between the two: alias every
computed column identically on both sides — the driver sorts columns by
name before value-hashing.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    doc: str = ""


QUERIES: dict[str, Query] = {}


def _drop_views_created_by(fn: QueryFn) -> QueryFn:
    """Build the query, then drop the temp views it registered.

    Plans bind at build time (pinned by the deferred-collect isolation
    test), so the views — and especially any localCheckpoint blocks
    reachable through them — are only needed DURING the build. Without
    this, a session that builds many catalog queries accumulates every
    intermediate in the catalog; the checkpoint blocks stay reachable
    and executor heap pressure grows for the life of the session
    (measured: multi-second inflation of later queries in a 28-query
    run). Views that existed before the call are left untouched.
    """

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        before = _temp_view_names(spark)
        df = fn(spark, sf_dir)
        for name in _temp_view_names(spark) - before:
            spark.catalog.dropTempView(name)
        return df

    return run


def _temp_view_names(spark: SparkSession) -> set[str]:
    """Local temp-view names, fast.

    ``spark.catalog.listTables()`` resolves full metadata per entry
    (~200 ms/call — far too slow for a per-build bookkeeping step); the
    session catalog's own listing is ~2 ms. Fall back to the public API
    under Spark Connect, where the JVM handle is absent.
    """
    try:
        seq = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*")
        return {seq.apply(i).table() for i in range(seq.size())}
    except Exception:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the catalog."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(
            name=name,
            fn=_drop_views_created_by(fn),
            oracle=oracle,
            doc=fn.__doc__ or "",
        )
        return fn

    return wrap


def materialize(df: DataFrame, name: str) -> DataFrame:
    """Compute ``df`` once and register it as temp view ``name``.

    Spark inlines CTEs, so a WITH-subtree referenced N times runs N
    times; self-joining pipelines (LSH bands, simhash chunks) would pay
    the whole hash pipeline repeatedly. ``localCheckpoint`` materializes
    the intermediate (GC-managed, no lingering cache entries), and a
    temp view exposes it to the tail SQL. DuckDB materializes multiply-
    referenced CTEs on its own, so oracles keep the single-statement
    form. Returns the checkpointed frame.
    """
    out = df.localCheckpoint(eager=True)
    out.createOrReplaceTempView(name)
    return out


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in QUERIES.values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in QUERIES.values() if q.oracle is not None}
