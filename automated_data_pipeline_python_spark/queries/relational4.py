"""Relational surface, part 4: statistical aggregates, dup-aware set
ops, cross join, sampling, and the Pandas-UDAF boundary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.functions.numeric import (
    sql_exact_sum,
    stable_round,
)
from automated_data_pipeline_python_spark.queries.catalog import register
from automated_data_pipeline_python_spark.tables import load, register_views


def _corr_sql(table: str) -> str:
    """Bivariate statistics from exact snapped moment sums.

    The builtin corr/covar/regr_* aggregates accumulate doubles in
    partition order — not reproducible across engines at a rounding
    boundary. Computing them from order-independent moment sums
    (Σx, Σy, Σx², Σy², Σxy — each snapped to its decimal grid, summed
    as DECIMAL) makes every downstream double op a deterministic
    function of exact inputs. Identical SQL text runs on both engines,
    so even the operation ORDER matches.
    """
    sx = sql_exact_sum("l_quantity", 2)
    sy = sql_exact_sum("l_extendedprice", 2)
    sd = sql_exact_sum("l_discount", 2)
    sxx = sql_exact_sum("l_quantity * l_quantity", 4)
    syy = sql_exact_sum("l_extendedprice * l_extendedprice", 4)
    sxy = sql_exact_sum("l_quantity * l_extendedprice", 4)
    sxd = sql_exact_sum("l_quantity * l_discount", 4)
    return f"""
    WITH m AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               {sx} AS sx, {sy} AS sy, {sd} AS sd,
               {sxx} AS sxx, {syy} AS syy, {sxy} AS sxy, {sxd} AS sxd
        FROM {table}
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
        floor(((n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) * 1e6 + 0.5) / 1e6
            AS qty_price_corr,
        floor(((sxd - sx * sd / n) / (n - 1)) * 1e6 + 0.5) / 1e6
            AS qty_disc_covar,
        floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1e4 + 0.5) / 1e4
            AS price_per_qty,
        floor(((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n) * 1e4 + 0.5) / 1e4
            AS price_at_zero,
        floor((((n * sxy - sx * sy) * (n * sxy - sx * sy))
               / ((n * sxx - sx * sx) * (n * syy - sy * sy))) * 1e6 + 0.5) / 1e6
            AS r2
    FROM m
    """


@register("agg_corr_regression", oracle=_corr_sql("lineitem"))
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics: corr/covar/linear regression per group.

    Single aggregation pass (all moments partial-aggregate map-side);
    see ``_corr_sql`` for why the moments formulation replaces the
    builtin corr/covar/regr_* accumulators.
    """
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_corr_sql("lineitem"))


@register(
    "setops_all_variants",
    oracle="""
    WITH a AS (SELECT o_custkey % 50 AS k FROM orders WHERE o_orderkey < 2000),
         b AS (SELECT o_custkey % 50 AS k FROM orders WHERE o_orderkey >= 1000
                                                        AND o_orderkey < 3000)
    SELECT k, 'intersect_all' AS op FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    UNION ALL
    SELECT k, 'except_all' AS op FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    """,
)
def setops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL / EXCEPT ALL (duplicate-aware semantics)."""
    orders = load(spark, sf_dir, "orders")
    a = orders.filter("o_orderkey < 2000").selectExpr("o_custkey % 50 AS k")
    b = orders.filter("o_orderkey >= 1000 AND o_orderkey < 3000").selectExpr(
        "o_custkey % 50 AS k"
    )
    return (
        a.intersectAll(b).withColumn("op", F.lit("intersect_all"))
        .unionByName(a.exceptAll(b).withColumn("op", F.lit("except_all")))
    )


@register(
    "cross_join_regions_segments",
    oracle="""
    SELECT r_name, seg, CAST(coalesce(cnt, 0) AS BIGINT) AS customers
    FROM region
    CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
    LEFT JOIN (
        SELECT r2.r_name AS rn, c_mktsegment AS cs, count(*) AS cnt
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region r2 ON n_regionkey = r2.r_regionkey
        GROUP BY rn, cs
    ) x ON x.rn = r_name AND x.cs = seg
    """,
)
def cross_join_regions_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian scaffold (dimension grid) + left join of facts —
    the dense-grid reporting pattern (zero-filled cells survive)."""
    region = load(spark, sf_dir, "region")
    segs = load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg")
    ).distinct()
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region2 = load(spark, sf_dir, "region")
    counts = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region2), nation.n_regionkey == region2.r_regionkey)
        .groupBy(F.col("r_name").alias("rn"), F.col("c_mktsegment").alias("cs"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = region.crossJoin(segs)
    return grid.join(
        counts, (counts.rn == grid.r_name) & (counts.cs == grid.seg), "left"
    ).select(
        "r_name", "seg", F.coalesce("cnt", F.lit(0)).alias("customers")
    )


@register("sample_reproducible", oracle=None)  # engine-specific RNG → rows-only
def sample_reproducible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling (A-series). No oracle: sampling RNGs are
    engine-specific by design; determinism within the engine is what
    matters (same seed → same sample, asserted in tests)."""
    li = load(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.01, seed=42).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def grouped_slope_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer price/time slope via grouped ``applyInPandas``.

    The UDAF escape hatch (SURVEY §2.8): used when an aggregate has no
    Catalyst expression. This one intentionally duplicates
    ``regr_slope`` so tests can verify the Pandas path against the JVM
    path — the pattern to copy for genuinely custom aggregates.
    Not in the catalog: the JVM version (agg_corr_regression) is the
    production path; Python-per-group costs ~ms per group.
    """

    def slope(pdf: pd.DataFrame) -> pd.DataFrame:
        x = (pdf["o_orderdate"] - pd.Timestamp(0)).dt.total_seconds() / 86_400  # days
        y = pdf["o_totalprice"]
        vx = ((x - x.mean()) ** 2).sum()
        s = float("nan") if vx == 0 else ((x - x.mean()) * (y - y.mean())).sum() / vx
        return pd.DataFrame({"o_custkey": [pdf["o_custkey"].iloc[0]], "slope": [s]})

    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_custkey", "o_orderdate", "o_totalprice")
        .groupBy("o_custkey")
        .applyInPandas(slope, schema="o_custkey long, slope double")
    )


# ---------------------------------------------------------------------------
# Two-factor OLS via normal equations (closed-form multiple regression)
# ---------------------------------------------------------------------------
# revenue ~ quantity + discount, solved exactly: one aggregation pass
# collects the 3x3 normal-equation moments (each an order-independent
# exact sum on a decimal grid, like agg_corr_regression's bivariate
# stats), then Cramer's rule solves for the coefficients in a single
# deterministic double expression — identical SQL text on both engines,
# so operation order matches bit-for-bit. This is the distributed
# closed-form fit: at 100 TB it is ONE map-side-combinable aggregation
# (9 moments), no gradient iterations, no driver-side math.


def _ols2_sql(table: str) -> str:
    y = "l_extendedprice * (1e0 - l_discount)"
    s1 = sql_exact_sum("l_quantity", 2)
    s2 = sql_exact_sum("l_discount", 2)
    sy = sql_exact_sum(y, 4)
    s11 = sql_exact_sum("l_quantity * l_quantity", 4)
    s12 = sql_exact_sum("l_quantity * l_discount", 4)
    s22 = sql_exact_sum("l_discount * l_discount", 4)
    s1y = sql_exact_sum(f"l_quantity * ({y})", 4)
    s2y = sql_exact_sum(f"l_discount * ({y})", 4)
    syy = sql_exact_sum(f"({y}) * ({y})", 4)
    return f"""
    WITH m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(count(*) AS BIGINT) AS n_rows,
               {s1} AS s1, {s2} AS s2, {sy} AS sy,
               {s11} AS s11, {s12} AS s12, {s22} AS s22,
               {s1y} AS s1y, {s2y} AS s2y, {syy} AS syy
        FROM {table}
    ),
    sol AS (
        SELECT n_rows, n, sy, s1y, s2y, syy,
               (n * (s11 * s22 - s12 * s12)
                - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2))  AS det,
               (sy * (s11 * s22 - s12 * s12)
                - s1 * (s1y * s22 - s12 * s2y)
                + s2 * (s1y * s12 - s11 * s2y)) AS det0,
               (n * (s1y * s22 - s12 * s2y)
                - sy * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2))  AS det1,
               (n * (s11 * s2y - s1y * s12)
                - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - s11 * s2))  AS det2
        FROM m
    )
    SELECT n_rows,
           floor((det0 / det) * 1e4 + 0.5) / 1e4 AS beta_intercept,
           floor((det1 / det) * 1e4 + 0.5) / 1e4 AS beta_quantity,
           floor((det2 / det) * 1e4 + 0.5) / 1e4 AS beta_discount,
           floor((1e0 - (syy - (det0 * sy + det1 * s1y + det2 * s2y) / det)
                        / (syy - sy * sy / n)) * 1e6 + 0.5) / 1e6
                                                 AS r2
    FROM sol
    """


@register("lineitem_ols_two_factor", oracle=_ols2_sql("lineitem"))
def lineitem_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple regression: revenue ~ quantity + discount,
    via the 3x3 normal equations from exact moment sums and a Cramer
    solve in one deterministic expression.

    One map-side-combinable aggregation (9 moments + count) at any SF;
    the solve itself is constant work on a single row.
    """
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_ols2_sql("lineitem"))
