"""Relational query surface (SURVEY.md §2.2–2.6 [target] rows).

Every query is pure DataFrame API — Catalyst gets the whole logical plan,
so predicate pushdown / column pruning / join reordering are automatic.
Scale notes per query explain the 100 TB execution shape (broadcast vs
shuffle, partial aggregation, ordering guarantees).

Oracle parity gotchas handled throughout:
- DuckDB ``sum(BIGINT)`` returns HUGEINT → oracles cast to BIGINT.
- Every computed column aliased identically on both sides.
- LIMIT queries carry a total order (explicit tiebreak keys) so top-k is
  deterministic on both engines.
- Timestamps are naive on both sides (parquet isAdjustedToUTC=false →
  Spark TimestampNTZ; DuckDB TIMESTAMP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.operators.joins import (
    asof_join,
    asof_join_union_window,
)
from automated_data_pipeline_python_spark.functions.numeric import (
    exact_avg,
    exact_sum,
    snap_scaled,
    sql_exact_avg,
    sql_exact_sum,
    sql_snap_scaled,
    stable_round,
)
from automated_data_pipeline_python_spark.queries.catalog import register
from automated_data_pipeline_python_spark.tables import (
    load,
    load_scaled,
    register_views,
)

# Money sums snap per-row to an integer grid before SUM so the total is
# order-independent (see functions/numeric.py). Grid = decimal
# granularity of the expression: money 2dp, price*(1-disc) 4dp,
# price*(1-disc)*(1+tax) 6dp, events.value 6dp.
_REV = "l_extendedprice * (1 - l_discount)"


# ---------------------------------------------------------------------------
# Aggregations over the fact table
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
        l_returnflag,
        l_linestatus,
        floor(({sql_exact_sum("l_quantity", 2)}) * 1e2 + 0.5) / 1e2                 AS sum_qty,
        floor(({sql_exact_sum("l_extendedprice", 2)}) * 1e2 + 0.5) / 1e2            AS sum_base_price,
        floor(({sql_exact_sum(_REV, 4)}) * 1e2 + 0.5) / 1e2                         AS sum_disc_price,
        floor(({sql_exact_sum(_REV + " * (1 + l_tax)", 6)}) * 1e2 + 0.5) / 1e2      AS sum_charge,
        floor(({sql_exact_avg("l_quantity", 2)}) * 1e4 + 0.5) / 1e4                 AS avg_qty,
        floor(({sql_exact_avg("l_extendedprice", 2)}) * 1e4 + 0.5) / 1e4            AS avg_price,
        floor(({sql_exact_avg("l_discount", 2)}) * 1e6 + 0.5) / 1e6                 AS avg_disc,
        count(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan→filter→hash-agg.

    Scale: the filter and the 2-column grouping key push partial
    aggregation map-side; shuffle carries ~6 grouped rows per partition.
    The shipdate predicate reaches the parquet scan (PushedFilters).
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            stable_round(exact_sum("l_quantity", 2), 2).alias("sum_qty"),
            stable_round(exact_sum("l_extendedprice", 2), 2).alias("sum_base_price"),
            stable_round(exact_sum(disc_price, 4), 2).alias("sum_disc_price"),
            stable_round(exact_sum(disc_price * (1 + F.col("l_tax")), 6), 2).alias("sum_charge"),
            stable_round(exact_avg("l_quantity", 2), 4).alias("avg_qty"),
            stable_round(exact_avg("l_extendedprice", 2), 4).alias("avg_price"),
            stable_round(exact_avg("l_discount", 2), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT
        l_orderkey,
        floor(({sql_exact_sum(_REV, 4)}) * 1e2 + 0.5) / 1e2 AS revenue,
        strftime(o_orderdate, '%Y-%m-%d')       AS orderdate,
        o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → agg → top-k.

    Scale: customer grows with SF, so no forced broadcast hint — at
    sf0.1 AQE picks the identical broadcast hash join (under the
    autoBroadcastJoinThreshold); at 100 TB it degrades gracefully to a
    shuffled hash/sort-merge join instead of OOMing on a multi-GB
    broadcast. orders↔lineitem shuffles on the order key. Top-k plans
    as TakeOrderedAndProject — no global sort. Deterministic: ties
    broken by l_orderkey.
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(stable_round(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
    )


@register(
    "q5_region_revenue",
    oracle=f"""
    SELECT
        n_name,
        floor(({sql_exact_sum(_REV, 4)}) * 1e2 + 0.5) / 1e2 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join (5 dims around lineitem) → agg.

    Scale: region/nation carry explicit broadcast hints (fixed-size 5-
    and 25-row tables at any SF); customer/supplier are left unhinted so
    AQE broadcasts them while they fit and falls back to shuffle joins
    at scale. Only orders↔lineitem always shuffles. The co-located-
    nation predicate (c_nationkey = s_nationkey) applies post-join.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(stable_round(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2).alias("revenue"))
    )


@register(
    "top_customers_by_revenue",
    oracle=f"""
    SELECT
        c_custkey,
        c_name,
        CAST(count(*) AS BIGINT) AS order_cnt,
        floor(({sql_exact_sum("o_totalprice", 2)}) * 1e2 + 0.5) / 1e2 AS total_spent
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spent DESC, c_custkey
    LIMIT 20
    """,
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped agg + deterministic top-k (ties broken by key)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            stable_round(exact_sum("o_totalprice", 2), 2).alias("total_spent"),
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(20)
    )


_QTY_S1 = sql_exact_sum("l_quantity", 2)
_QTY_S2 = sql_exact_sum("l_quantity * l_quantity", 2)
_QTY_VAR = f"(({_QTY_S2}) - ({_QTY_S1}) * ({_QTY_S1}) / count(l_quantity)) / (count(l_quantity) - 1)"


@register(
    "agg_stats_lineitem",
    oracle=f"""
    SELECT
        l_returnflag,
        CAST(count(*) AS BIGINT)              AS cnt,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
        min(l_quantity)                       AS min_qty,
        max(l_quantity)                       AS max_qty,
        floor(({sql_exact_avg("l_extendedprice", 2)}) * 1e4 + 0.5) / 1e4        AS avg_price,
        floor((sqrt({_QTY_VAR})) * 1e6 + 0.5) / 1e6     AS sd_qty,
        floor(({_QTY_VAR}) * 1e6 + 0.5) / 1e6           AS var_qty,
        floor(({sql_exact_sum("l_quantity * l_extendedprice", 2)} / 1000000) * 1e3 + 0.5) / 1e3 AS weighted_m
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scalar-aggregate battery incl. count-distinct and moments.

    Scale: count(DISTINCT) triggers the expand+two-phase plan; everything
    else stays partial-aggregated map-side. Variance/stddev use the
    two-moment formula over order-independent snapped sums — the builtin
    ``var_samp``/``stddev_samp`` accumulate doubles in partition order,
    which is not reproducible across engines (or runs) at a rounding
    boundary.
    """
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    s1 = exact_sum(qty, 2)
    s2 = exact_sum(qty * qty, 2)
    n = F.count(qty)
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("l_partkey").alias("distinct_parts"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        stable_round(exact_avg("l_extendedprice", 2), 4).alias("avg_price"),
        stable_round(F.sqrt(var), 6).alias("sd_qty"),
        stable_round(var, 6).alias("var_qty"),
        stable_round(exact_sum(qty * F.col("l_extendedprice"), 2) / 1000000, 3).alias("weighted_m"),
    )


@register(
    "agg_rollup_region_nation",
    oracle=f"""
    SELECT
        r_name,
        n_name,
        CAST(count(*) AS BIGINT) AS customer_cnt,
        floor(({sql_exact_sum("c_acctbal", 2)}) * 1e2 + 0.5) / 1e2 AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("customer_cnt"),
        stable_round(exact_sum("c_acctbal", 2), 2).alias("total_acctbal"),
    )


@register(
    "agg_cube_status_priority",
    oracle=f"""
    SELECT
        o_orderstatus,
        o_orderpriority,
        CAST(count(*) AS BIGINT) AS cnt,
        floor(({sql_exact_sum("o_totalprice", 2)}) * 1e2 + 0.5) / 1e2 AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions."""
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        stable_round(exact_sum("o_totalprice", 2), 2).alias("total"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT
        o_orderstatus,
        o_orderpriority,
        CAST(count(*) AS BIGINT) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via SQL (Catalyst Expand operator)."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register("agg_approx_distinct", oracle=None)  # approximate → rows-only check
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts (SURVEY §2.4 A5).

    No oracle: DuckDB's approx_count_distinct uses a different sketch, so
    values legitimately differ. The exact variant is covered by
    ``agg_stats_lineitem``. Scale: HLL sketches merge map-side — constant
    memory per partition vs the expand plan of exact count-distinct.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
    )


# ---------------------------------------------------------------------------
# Filters / predicates / scalar functions
# ---------------------------------------------------------------------------


@register(
    "filter_in_like_between",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
    FROM part
    WHERE p_type IN ('ECONOMY', 'PROMO')
      AND p_size BETWEEN 10 AND 30
      AND p_name LIKE '%blue%'
      AND p_retailprice IS NOT NULL
    """,
)
def filter_in_like_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate battery: IN / BETWEEN / LIKE / IS NOT NULL (P7).

    Scale: all four predicates are Catalyst-native → pushed to the
    parquet scan (PushedFilters) except LIKE '%..%' which filters
    post-scan but still inside codegen.
    """
    part = load(spark, sf_dir, "part")
    return part.filter(
        F.col("p_type").isin("ECONOMY", "PROMO")
        & F.col("p_size").between(10, 30)
        & F.col("p_name").like("%blue%")
        & F.col("p_retailprice").isNotNull()
    )


@register(
    "scalar_string_funcs",
    oracle="""
    SELECT
        c_custkey,
        upper(c_name)                             AS name_upper,
        substr(c_name, 10, 9)                     AS name_digits,
        length(c_name)                            AS name_len,
        concat(c_mktsegment, ':', c_name)         AS tagged,
        replace(c_name, 'Customer#', '')          AS stripped,
        CAST(split_part(c_name, '#', 2) AS BIGINT) AS parsed_id
    FROM customer
    WHERE c_custkey < 500
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (F10): upper/substr/length/concat/replace/split."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 10, 9).alias("name_digits"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat_ws(":", "c_mktsegment", "c_name").alias("tagged"),
        F.regexp_replace("c_name", "Customer#", "").alias("stripped"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).cast("long").alias("parsed_id"),
    )


@register(
    "scalar_date_funcs",
    oracle="""
    SELECT
        o_orderkey,
        CAST(year(o_orderdate) AS INT)       AS order_year,
        CAST(month(o_orderdate) AS INT)      AS order_month,
        CAST(dayofmonth(o_orderdate) AS INT) AS order_day,
        CAST(quarter(o_orderdate) AS INT)    AS order_quarter,
        strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS INT) AS days_to_2002
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery (F10): year/month/day/quarter/trunc/diff."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_2002"),
    )


@register(
    "scalar_math_funcs",
    oracle="""
    SELECT
        l_orderkey,
        l_linenumber,
        floor((l_extendedprice) * 1e1 + 0.5) / 1e1              AS price_r1,
        floor(l_extendedprice)                 AS price_floor,
        ceil(l_extendedprice)                  AS price_ceil,
        abs(l_extendedprice - 1000.0)          AS dist_1000,
        CAST(l_orderkey % 7 AS BIGINT)         AS key_mod7,
        sqrt(l_quantity)                       AS qty_sqrt,
        floor((ln(l_extendedprice + 1.0)) * 1e6 + 0.5) / 1e6 AS price_ln,
        floor((power(l_discount, 2)) * 1e6 + 0.5) / 1e6      AS disc_sq,
        greatest(l_tax, l_discount)            AS max_rate,
        least(l_tax, l_discount)               AS min_rate
    FROM lineitem
    WHERE l_orderkey < 300
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function battery (F10): round/floor/ceil/abs/mod/sqrt/ln/pow.

    ``ln``/``pow`` are NOT correctly-rounded by IEEE (JVM Math.log and
    libm disagree by 1 ulp on ~1% of inputs) — their outputs are rounded
    to 6dp on both sides. ``sqrt`` IS correctly-rounded, left exact.
    """
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        stable_round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.abs(F.col("l_extendedprice") - 1000.0).alias("dist_1000"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        stable_round(F.log(F.col("l_extendedprice") + 1.0), 6).alias("price_ln"),
        stable_round(F.pow("l_discount", 2), 6).alias("disc_sq"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@register(
    "case_when_bucketing",
    oracle=f"""
    SELECT
        CASE WHEN o_totalprice < 1000  THEN 'small'
             WHEN o_totalprice < 10000 THEN 'medium'
             ELSE 'large' END          AS price_bucket,
        o_orderstatus,
        CAST(count(*) AS BIGINT)       AS cnt,
        floor(({sql_exact_avg("o_totalprice", 2)}) * 1e4 + 0.5) / 1e4    AS avg_price
    FROM orders
    GROUP BY price_bucket, o_orderstatus
    """,
)
def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + agg (F10 conditional expressions)."""
    orders = load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 1000, "small")
        .when(F.col("o_totalprice") < 10000, "medium")
        .otherwise("large")
    )
    return (
        orders.groupBy(bucket.alias("price_bucket"), F.col("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("cnt"), stable_round(exact_avg("o_totalprice", 2), 4).alias("avg_price"))
    )


@register(
    "json_extract_events",
    oracle=f"""
    SELECT
        CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod10,
        CAST(count(*) AS BIGINT) AS cnt,
        floor(({sql_exact_sum("value", 6)}) * 1e2 + 0.5) / 1e2     AS total_value
    FROM events
    GROUP BY k_mod10
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the props column (F8: from_json/get_json_object)."""
    events = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.groupBy((k % 10).alias("k_mod10"))
        .agg(F.count(F.lit(1)).alias("cnt"), stable_round(exact_sum("value", 6), 2).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# Joins (J3): left / semi / anti / full / non-equi range / as-of
# ---------------------------------------------------------------------------


@register(
    "join_left_order_counts",
    oracle=f"""
    SELECT
        c_custkey,
        c_mktsegment,
        CAST(count(o_orderkey) AS BIGINT)        AS order_cnt,
        floor((coalesce({sql_exact_sum("o_totalprice", 2)}, 0.0)) * 1e2 + 0.5) / 1e2 AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            stable_round(F.coalesce(exact_sum("o_totalprice", 2), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "join_right_order_counts",
    oracle=f"""
    SELECT
        c_custkey,
        c_mktsegment,
        CAST(count(o_orderkey) AS BIGINT)        AS order_cnt,
        floor((coalesce({sql_exact_sum("o_totalprice", 2)}, 0.0)) * 1e2 + 0.5) / 1e2 AS total_spent
    FROM orders RIGHT JOIN customer ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def join_right_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (J3): the mirror of ``join_left_order_counts``
    with the fact on the build side — all customers preserved, including
    those with zero orders.

    Scale: Catalyst normalizes right-outer to left-outer by swapping
    inputs, so the physical plan is identical to the left variant; the
    entry pins the API/SQL surface itself.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            stable_round(F.coalesce(exact_sum("o_totalprice", 2), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderstatus = 'O')
    """,
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join ≡ EXISTS subquery."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'P')
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join ≡ NOT EXISTS subquery.

    Filters to 'P' (pending) orders so the result is non-empty at every
    SF — every customer has *some* order in the corpus.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_full_nation_presence",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS customers
                FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS suppliers
                FROM supplier GROUP BY 1)
    SELECT
        coalesce(cn.nk, sn.nk)        AS nationkey,
        coalesce(customers, 0)        AS customers,
        coalesce(suppliers, 0)        AS suppliers
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def join_full_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates (nations with customers vs suppliers)."""
    cn = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("customers"))
    )
    sn = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )
    return cn.join(sn, "nk", "full").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("customers", F.lit(0)).alias("customers"),
        F.coalesce("suppliers", F.lit(0)).alias("suppliers"),
    )


@register(
    "join_range_acctbal",
    oracle="""
    SELECT
        n_name,
        CAST(count(*) AS BIGINT) AS richer_customer_pairs
    FROM supplier
    JOIN customer ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal + 5000
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_range_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join bounded by an equi key (J3 range join).

    Scale: the equi part (nationkey) drives the shuffle/broadcast; the
    range predicate evaluates inside the join — never a cartesian
    product. This is the scalable shape for range joins: always pair the
    range with a bucketing equi-key.
    """
    supp = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(
            supp,
            (cust.c_nationkey == supp.s_nationkey)
            & (cust.c_acctbal > supp.s_acctbal + 5000),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("richer_customer_pairs"))
    )


@register(
    "join_asof_purchase_click",
    oracle="""
    SELECT
        p.event_id               AS purchase_id,
        p.user_id,
        strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f')  AS purchase_ts,
        strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f')  AS click_ts,
        c.value                  AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each purchase matched to the latest prior click per user.

    Spark has no native as-of join; this headline path is
    ``operators.joins.asof_join_union_window`` — union + running
    window, pure JVM (SURVEY §2.3 J3). Scale: one shuffle + sort on
    user_id for both sides together; WindowExec's running frame is
    O(n) streaming state. DuckDB's native ASOF JOIN is the oracle.
    """
    purchases = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    clicks = load(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    joined = asof_join_union_window(
        purchases,
        clicks,
        on="ts",
        by="user_id",
        left_prefix="",
        right_prefix="click_",
        right_cols=["ts", "value"],
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.col("click_value"),
    )


@register(
    "join_asof_arrow_cogroup",
    oracle="""
    SELECT
        p.event_id               AS purchase_id,
        p.user_id,
        strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f')  AS purchase_ts,
        strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f')  AS click_ts,
        c.value                  AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_arrow_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of semantics through the Arrow cogroup path
    (``operators.joins.asof_join``: bucketed cogrouped applyInPandas +
    ``pandas.merge_asof``) — the documented Pandas-boundary example and
    the escape hatch for ``direction='nearest'``.
    """
    # Load twice: cogrouped applyInPandas silently mispairs groups when
    # both sides share one DataFrame lineage (see operators.joins note).
    purchases = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    clicks = load(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    joined = asof_join(
        purchases,
        clicks,
        on="ts",
        by="user_id",
        left_prefix="",
        right_prefix="click_",
        right_cols=["ts", "value"],
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.col("click_value"),
    )


# ---------------------------------------------------------------------------
# Window functions / sorts / dedup-by-window
# ---------------------------------------------------------------------------


@register(
    "window_top3_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_name, p_retailprice, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
        ) AS rnk
        FROM part
    )
    WHERE rnk <= 3
    """,
)
def window_top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 per group with deterministic tiebreak.

    Scale: one shuffle on p_brand; AQE handles brand skew. For heavy
    skew, pre-aggregate a per-partition top-3 before the window.
    """
    part = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rnk")
    )


@register(
    "window_running_total",
    oracle=f"""
    SELECT
        o_custkey,
        o_orderkey,
        CAST(sum({sql_snap_scaled("o_totalprice", 2)}) OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS DOUBLE) / 1e2 AS running_spent
    FROM orders
    WHERE o_custkey < 200
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: per-customer running sum (rowsBetween frame).

    The frame sum runs over cent-snapped integers: DuckDB evaluates
    window sums with a segment tree (pairwise accumulation order), Spark
    left-to-right — raw double frames disagree at the last ulp.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(snap_scaled("o_totalprice", 2)).over(w).cast("double") / F.lit(100.0)).alias(
            "running_spent"
        ),
    )


@register(
    "window_lag_lead_events",
    oracle="""
    SELECT
        user_id,
        event_id,
        value,
        lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
        value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    WHERE user_id < 30
    """,
)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytic functions over event time per user."""
    events = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "dedup_keep_first_event",
    oracle="""
    SELECT user_id, event_type, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS first_ts
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type ORDER BY ts, event_id
        ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def dedup_keep_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup: keep earliest row per (user, type) key (A3).

    ``dropDuplicates`` is order-nondeterministic; the window formulation
    is the deterministic production pattern.
    """
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_ts"),
        )
    )


@register(
    "orders_above_customer_avg",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice, floor((cust_avg) * 1e4 + 0.5) / 1e4 AS cust_avg
    FROM (
        SELECT *, CAST(sum({sql_snap_scaled("o_totalprice", 2)})
                       OVER (PARTITION BY o_custkey) AS DOUBLE) / 1e2
                  / count(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
        FROM orders
    )
    WHERE o_totalprice > 2 * cust_avg
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery semantics via a window (decorrelated form).

    The per-customer average is an exact snapped sum / count — the
    ``> 2 * cust_avg`` predicate compares against it, so a last-ulp
    divergence would flip row membership, not just a printed digit.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(snap_scaled("o_totalprice", 2)).over(w).cast("double") / F.lit(100.0)
    ) / F.count("o_totalprice").over(w)
    return (
        orders.withColumn("cust_avg", cust_avg)
        .filter(F.col("o_totalprice") > 2 * F.col("cust_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            stable_round("cust_avg", 4).alias("cust_avg"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations / distinct / explode
# ---------------------------------------------------------------------------


@register(
    "setops_nation_keys",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT nk, 'both' AS membership FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
    UNION ALL
    SELECT nk, 'customer_only' AS membership FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
    UNION ALL
    SELECT nk, 'supplier_only' AS membership FROM (SELECT nk FROM sn EXCEPT SELECT nk FROM cn)
    """,
)
def setops_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / INTERSECT / EXCEPT battery (SURVEY §2.5)."""
    cn = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    sn = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    both = cn.intersect(sn).withColumn("membership", F.lit("both"))
    conly = cn.exceptAll(sn).withColumn("membership", F.lit("customer_only"))
    sonly = sn.exceptAll(cn).withColumn("membership", F.lit("supplier_only"))
    return both.unionByName(conly).unionByName(sonly)


@register(
    "distinct_order_attributes",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def distinct_order_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (A3)."""
    return load(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "explode_top_words",
    oracle="""
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
        FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
)
def explode_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode (J2 intent: one row per element) + top-k agg.

    This is the engine's version of the reference's intended trait
    flatten (reference normalize.py:26-29 — a documented no-op there).
    """
    docs = load_scaled(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Nearest-direction as-of join
# ---------------------------------------------------------------------------
# The third as-of direction (pandas merge_asof's direction='nearest'):
# each purchase takes whichever click — latest-before or earliest-
# after — is closer in time, ties preferring backward. Neither engine
# has it natively; here it composes the repo's pure-JVM union+window
# as-of operator in BOTH directions and resolves by exact integer
# microsecond gaps (no float). DuckDB's oracle is the mirrored pair of
# native ASOF joins. Scale: two user_id window passes + one event_id
# equi-join — all single-shuffle stages; a fused single-pass variant
# exists (carry both LOCF frames in one window) but the composed form
# keeps the operator surface orthogonal.

_ASOF_NEAREST_DUCK = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click'),
b AS (
    SELECT p.event_id AS id, p.user_id, p.ts, c.ts AS bts, c.value AS bval
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
),
f AS (
    SELECT p.event_id AS id, c.ts AS fts, c.value AS fval
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
)
SELECT b.id AS purchase_id, b.user_id,
       strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       CASE WHEN b.bts IS NULL AND f.fts IS NULL THEN NULL
            WHEN b.bts IS NULL THEN strftime(f.fts, '%Y-%m-%d %H:%M:%S.%f')
            WHEN f.fts IS NULL THEN strftime(b.bts, '%Y-%m-%d %H:%M:%S.%f')
            WHEN date_diff('microsecond', b.bts, b.ts)
                 <= date_diff('microsecond', b.ts, f.fts)
            THEN strftime(b.bts, '%Y-%m-%d %H:%M:%S.%f')
            ELSE strftime(f.fts, '%Y-%m-%d %H:%M:%S.%f') END AS click_ts,
       CASE WHEN b.bts IS NULL AND f.fts IS NULL THEN NULL
            WHEN b.bts IS NULL THEN f.fval
            WHEN f.fts IS NULL THEN b.bval
            WHEN date_diff('microsecond', b.bts, b.ts)
                 <= date_diff('microsecond', b.ts, f.fts)
            THEN b.bval ELSE f.fval END AS click_value,
       CASE WHEN b.bts IS NULL AND f.fts IS NULL THEN 'none'
            WHEN b.bts IS NULL THEN 'forward'
            WHEN f.fts IS NULL THEN 'backward'
            WHEN date_diff('microsecond', b.bts, b.ts)
                 <= date_diff('microsecond', b.ts, f.fts)
            THEN 'backward' ELSE 'forward' END AS matched_direction
FROM b JOIN f ON f.id = b.id
"""


@register("join_asof_nearest", oracle=_ASOF_NEAREST_DUCK)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction='nearest': closer of latest-prior and
    earliest-later click per purchase, backward on exact ties."""
    purchases = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    clicks = load(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    bwd = asof_join_union_window(
        purchases, clicks, on="ts", by="user_id",
        right_prefix="b_", right_cols=["ts", "value"],
    )
    fwd = asof_join_union_window(
        purchases, clicks, on="ts", by="user_id",
        right_prefix="f_", right_cols=["ts", "value"],
        direction="forward",
    ).select("event_id", "f_ts", "f_value")
    gap_b = F.expr("timestampdiff(MICROSECOND, b_ts, ts)")
    gap_f = F.expr("timestampdiff(MICROSECOND, ts, f_ts)")
    take_b = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull() | (gap_b <= gap_f)
    )
    both_null = F.col("b_ts").isNull() & F.col("f_ts").isNull()
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        bwd.join(fwd, "event_id")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            F.when(both_null, F.lit(None).cast("string"))
            .when(take_b, F.date_format("b_ts", fmt))
            .otherwise(F.date_format("f_ts", fmt))
            .alias("click_ts"),
            F.when(both_null, F.lit(None).cast("double"))
            .when(take_b, F.col("b_value"))
            .otherwise(F.col("f_value"))
            .alias("click_value"),
            F.when(both_null, F.lit("none"))
            .when(take_b, F.lit("backward"))
            .otherwise(F.lit("forward"))
            .alias("matched_direction"),
        )
    )
