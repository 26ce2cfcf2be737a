"""Relational surface, part 2: pivot/unpivot, percentiles, arrays,
extended scalar batteries, scalar subqueries, limit/offset.

Completes the SURVEY.md §2.4–2.6 [target] inventory beyond the core set
in ``relational.py``. Same parity conventions (aliases, stable rounding,
total orders for LIMIT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.functions.numeric import (
    snap_scaled,
    sql_exact_avg,
    sql_snap_scaled,
    stable_round,
)
from automated_data_pipeline_python_spark.queries.catalog import register
from automated_data_pipeline_python_spark.tables import load, register_views


# ---------------------------------------------------------------------------
# Pivot / unpivot
# ---------------------------------------------------------------------------


@register(
    "pivot_status_by_priority",
    oracle=f"""
    SELECT
        o_orderpriority,
        CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS status_o,
        CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS status_f,
        CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS status_p,
        floor((CAST(sum({sql_snap_scaled("o_totalprice", 2)})
                    FILTER (o_orderstatus = 'O') AS DOUBLE) / 1e2) * 1e2 + 0.5) / 1e2 AS total_o
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True pivot operator (explicit value list → no extra value-discovery
    pass; at scale always pass the values explicitly)."""
    orders = load(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(snap_scaled("o_totalprice", 2)).alias("total"),
        )
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce("O_cnt", F.lit(0)).alias("status_o"),
        F.coalesce("F_cnt", F.lit(0)).alias("status_f"),
        F.coalesce("P_cnt", F.lit(0)).alias("status_p"),
        stable_round(F.col("O_total").cast("double") / F.lit(100.0), 2).alias("total_o"),
    )


@register(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, metric, metric_value
    FROM (
        UNPIVOT (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size, p_retailprice
                 FROM part WHERE p_partkey < 100)
        ON p_size, p_retailprice INTO NAME metric VALUE metric_value
    )
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide metric columns → (name, value) rows."""
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    return part.selectExpr(
        "p_partkey", "CAST(p_size AS DOUBLE) AS p_size", "p_retailprice"
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


# ---------------------------------------------------------------------------
# Exact percentiles / median
# ---------------------------------------------------------------------------


@register(
    "percentiles_price_by_brand",
    oracle="""
    SELECT
        p_brand,
        floor((quantile_cont(p_retailprice, 0.25)) * 1e4 + 0.5) / 1e4 AS p25,
        floor((quantile_cont(p_retailprice, 0.50)) * 1e4 + 0.5) / 1e4 AS p50,
        floor((quantile_cont(p_retailprice, 0.75)) * 1e4 + 0.5) / 1e4 AS p75,
        floor((median(p_retailprice)) * 1e4 + 0.5) / 1e4               AS med
    FROM part
    GROUP BY p_brand
    """,
)
def percentiles_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``). The *exact* variant sorts per group — use
    ``percentile_approx`` (A5) at 100 TB unless exactness is required.
    """
    part = load(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        stable_round(F.expr("percentile(p_retailprice, 0.25)"), 4).alias("p25"),
        stable_round(F.expr("percentile(p_retailprice, 0.50)"), 4).alias("p50"),
        stable_round(F.expr("percentile(p_retailprice, 0.75)"), 4).alias("p75"),
        stable_round(F.median("p_retailprice"), 4).alias("med"),
    )


# ---------------------------------------------------------------------------
# Array aggregation / functions
# ---------------------------------------------------------------------------


@register(
    "array_agg_functions",
    oracle="""
    WITH per_nation AS (
        SELECT
            c_nationkey,
            list_sort(list(DISTINCT c_mktsegment)) AS segs,
            CAST(count(*) AS BIGINT) AS n_customers
        FROM customer
        GROUP BY c_nationkey
    )
    SELECT
        c_nationkey,
        array_to_string(segs, ',')                  AS segments,
        CAST(len(segs) AS INT)                      AS n_segments,
        CASE WHEN list_contains(segs, 'BUILDING') THEN 1 ELSE 0 END AS has_building,
        segs[1]                                     AS first_segment,
        array_to_string(list_reverse(segs), ',')    AS segments_rev,
        n_customers
    FROM per_nation
    """,
)
def array_agg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery: collect_set → sort/contains/element_at/reverse/join.

    Arrays are rendered to strings in the output so the value-hash is
    representation-independent.
    """
    cust = load(spark, sf_dir, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.array_sort(F.collect_set("c_mktsegment")).alias("segs"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    return per_nation.select(
        "c_nationkey",
        F.array_join("segs", ",").alias("segments"),
        F.size("segs").alias("n_segments"),
        F.when(F.array_contains("segs", "BUILDING"), 1).otherwise(0).alias("has_building"),
        F.element_at("segs", 1).alias("first_segment"),
        F.array_join(F.reverse("segs"), ",").alias("segments_rev"),
        "n_customers",
    )


@register(
    "map_functions_demo",
    oracle="""
    SELECT o_custkey,
           o_orderkey   AS order_key,
           o_totalprice AS order_price,
           CAST(cnt AS INT) AS n_orders,
           CAST(big AS INT) AS n_big_orders,
           first_price
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               count(*) OVER (PARTITION BY o_custkey) AS cnt,
               count(*) FILTER (o_totalprice > 1000.0)
                   OVER (PARTITION BY o_custkey)      AS big,
               first_value(o_totalprice)
                   OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS first_price
        FROM orders
    )
    """,
)
def map_functions_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface (F10): build, entries, values, filter.

    The plan builds a real MapType column per customer
    (map_from_entries ← sorted collect_list), interrogates it with
    map_filter / map_values / size, then EXPLODES map_entries back to
    scalar rows — map key order is engine-dependent, so rows (not the
    map itself) are the canonical cross-engine rendering the driver can
    sort and hash. The DuckDB oracle mirrors the semantics with
    windowed counts (it has no equivalent map pipeline).
    """
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("o_orderkey", "o_totalprice"))
            )
        ).alias("order_prices")
    )
    return per_cust.select(
        "o_custkey",
        F.explode(F.map_entries("order_prices")).alias("e"),
        F.size("order_prices").alias("n_orders"),
        F.size(
            F.map_filter("order_prices", lambda _, v: v > 1000.0)
        ).alias("n_big_orders"),
        F.element_at(F.map_values("order_prices"), 1).alias("first_price"),
    ).select(
        "o_custkey",
        F.col("e.key").alias("order_key"),
        F.col("e.value").alias("order_price"),
        "n_orders",
        "n_big_orders",
        "first_price",
    )


# ---------------------------------------------------------------------------
# Extended scalar batteries
# ---------------------------------------------------------------------------


@register(
    "scalar_string_funcs2",
    oracle="""
    SELECT
        c_custkey,
        lpad(CAST(c_custkey AS VARCHAR), 10, '0')        AS padded,
        rpad(c_mktsegment, 12, '.')                      AS rpadded,
        reverse(c_mktsegment)                            AS seg_rev,
        repeat(substr(c_mktsegment, 1, 2), 3)            AS rep2x3,
        translate(c_mktsegment, 'AEIOU', 'aeiou')        AS lowered_vowels,
        CAST(strpos(c_name, '#') AS INT)                 AS hash_pos,
        CASE WHEN starts_with(c_name, 'Customer') THEN 1 ELSE 0 END AS is_cust,
        md5(c_name)                                      AS name_md5
    FROM customer
    WHERE c_custkey < 300
    """,
)
def scalar_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery 2: pad/reverse/repeat/translate/instr/startswith/md5."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    return cust.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.rpad("c_mktsegment", 12, ".").alias("rpadded"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.repeat(F.substring("c_mktsegment", 1, 2), 3).alias("rep2x3"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("lowered_vowels"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.when(F.col("c_name").startswith("Customer"), 1).otherwise(0).alias("is_cust"),
        F.md5("c_name").alias("name_md5"),
    )


@register(
    "scalar_date_funcs2",
    oracle="""
    SELECT
        o_orderkey,
        strftime(last_day(o_orderdate), '%Y-%m-%d')                       AS month_end,
        strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d')              AS plus_3m,
        strftime(o_orderdate - INTERVAL 45 DAY, '%Y-%m-%d')               AS minus_45d,
        CAST(dayofweek(o_orderdate) AS INT)                               AS dow_sun0,
        CAST(weekofyear(o_orderdate) AS INT)                              AS iso_week,
        CAST(dayofyear(o_orderdate) AS INT)                               AS doy
    FROM orders
    WHERE o_orderkey < 500
    """,
)
def scalar_date_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date battery 2: last_day/add_months/day-offsets/dow/week.

    Engine mapping note: Spark ``dayofweek`` is 1=Sunday, DuckDB is
    0=Sunday — normalized to Sunday=0 here.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3m"),
        F.date_format(F.date_sub(d.cast("date"), 45), "yyyy-MM-dd").alias("minus_45d"),
        (F.dayofweek(d) - 1).alias("dow_sun0"),
        F.weekofyear(d).alias("iso_week"),
        F.dayofyear(d).alias("doy"),
    )


@register(
    "null_handling_funcs",
    oracle="""
    SELECT
        c_custkey,
        coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
        ifnull(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS pos_bal,
        CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END AS bal_is_null,
        CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NULL THEN 'b' ELSE 'nb' END AS flagged
    FROM customer
    WHERE c_custkey < 400
    """,
)
def null_handling_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null battery: coalesce/nullif/ifnull/IS NULL interplay."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400)
    return cust.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.ifnull(
            F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")),
            F.lit(0.0),
        ).alias("pos_bal"),
        F.when(F.col("c_acctbal").isNull(), 1).otherwise(0).alias("bal_is_null"),
        F.when(
            F.nullif("c_mktsegment", F.lit("BUILDING")).isNull(), "b"
        ).otherwise("nb").alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Subqueries / limit-offset
# ---------------------------------------------------------------------------


@register(
    "scalar_subquery_above_avg",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.9 * (SELECT {sql_exact_avg("o_totalprice", 2)} FROM orders)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a predicate.

    Scale: the subquery is a one-row broadcast — Catalyst plans it as a
    subquery-reuse + broadcast, no per-row evaluation.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.9 * (SELECT {sql_exact_avg("o_totalprice", 2)} FROM orders)
        """
    )


@register(
    "in_subquery_hot_parts",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey IN (
        SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING count(*) > 40
    )
    """,
)
def in_subquery_hot_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (plans as left-semi join) + HAVING."""
    register_views(spark, sf_dir, "part", "lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name
        FROM part
        WHERE p_partkey IN (
            SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING count(*) > 40
        )
        """
    )


@register(
    "limit_offset_page2",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25 OFFSET 50
    """,
)
def limit_offset_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pagination (total order + LIMIT/OFFSET).

    Scale note: OFFSET pagination materializes offset+limit rows on one
    node — fine for UI pages, wrong for deep scans (use keyset
    pagination: WHERE (price, key) < last_seen ORDER BY ... LIMIT k).
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25 OFFSET 50
        """
    )
