"""TPC-H battery part 2 — the remaining canonical query shapes.

Completes the TPC-H-shaped coverage (SURVEY.md §2.2–2.5 [target] rows):
q1/q2/q3/q5/q7/q12/q14/q18/q19 live in relational*.py; this module adds
the other thirteen. The driver's star schema has no ``partsupp`` table
and trimmed columns (TESTDATA.md), so Q9/Q11/Q16/Q20-22 are adapted to
the available relations while keeping the *operator shape* that makes
each query interesting:

- Q4/Q21: correlated EXISTS / NOT EXISTS (planned as semi/anti joins).
- Q11/Q15/Q17/Q22: scalar subqueries (uncorrelated threshold,
  windowed max, correlated per-group average, correlated count).
- Q8/Q9/Q10: multi-way star joins with conditional aggregation.
- Q13: outer join with an ON-clause filter feeding a distribution.
- Q16: NOT IN + count(DISTINCT) grouping.

Oracle parity: stable_round on every double aggregate, identical
aliases both sides, total order on every LIMIT, ``CAST(year() AS INT)``
in DuckDB (its year() is BIGINT, Spark's is INT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.functions.numeric import (
    exact_avg,
    exact_sum,
    sql_exact_avg,
    sql_exact_sum,
    stable_round,
)
from automated_data_pipeline_python_spark.queries.catalog import register
from automated_data_pipeline_python_spark.tables import load, register_views


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp_ntz")


# Order-independent money sums (see functions/numeric.py): snap rows to
# the expression's decimal grid before SUM. Critical here because several
# of these queries COMPARE sums (Q11 HAVING, Q15 max, Q22 threshold) —
# a borderline raw-double sum can flip row membership between engines.
_REV = "l_extendedprice * (1 - l_discount)"


# ---------------------------------------------------------------------------
# Q4 — correlated EXISTS
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-04-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join → agg.

    No commit/receipt dates in this schema, so "late" is shipping >60
    days after the order date. Scale: Catalyst decorrelates the EXISTS
    into a semi join on l_orderkey; the quarter filter prunes orders
    before the join, and only (orderkey, shipdate) columns of lineitem
    are read (column pruning).
    """
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP_NTZ '1998-04-01 00:00:00'
          AND o_orderdate <  TIMESTAMP_NTZ '1998-07-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Q6 — pure scan-filter-agg (the pushdown showcase)
# ---------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT floor(({sql_exact_sum("l_extendedprice * l_discount", 4)}) * 1e2 + 0.5) / 1e2 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: scan → conjunctive filter → ungrouped sum.

    Scale: every predicate is parquet-pushable (PushedFilters on
    shipdate/discount/quantity); only 4 of 11 columns are read. The
    aggregate is a two-stage partial+final sum — one shuffle of one row
    per partition.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1998-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1999-01-01 00:00:00"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(stable_round(exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 4), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 — market share (two nation roles, conditional agg ratio)
# ---------------------------------------------------------------------------


@register(
    "q8_market_share",
    oracle=f"""
    SELECT
        CAST(year(o_orderdate) AS INT) AS o_year,
        floor((({sql_exact_sum(
            "CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END", 4)})
               / ({sql_exact_sum("volume", 4)})) * 1e6 + 0.5) / 1e6
            AS mkt_share
    FROM (
        SELECT o_orderdate,
               l_extendedprice * (1 - l_discount) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN part     ON l_partkey = p_partkey
        WHERE r_name = 'ASIA'
          AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-way star join, nation in two roles, share ratio.

    Scale: fixed-size dims (nation ×2, region) carry broadcast hints;
    part/customer/supplier scale with SF so they are unhinted — AQE
    broadcasts them while small, shuffle-joins at 100 TB. lineitem↔
    orders shuffles on the order key, then a tiny per-year aggregate.
    The conditional numerator and the denominator come out of ONE
    aggregation pass.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("2000-01-01 00:00:00"))
    )
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nation = nation.alias("cn")
    supp_nation = nation.alias("sn")

    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(region), F.col("cn.n_regionkey") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            stable_round(
                exact_sum(
                    F.when(F.col("sn.n_name") == "NATION_2", volume).otherwise(F.lit(0.0)), 4
                )
                / exact_sum(volume, 4),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit by nation and year
# ---------------------------------------------------------------------------


@register(
    "q9_product_type_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           floor(({sql_exact_sum(_REV, 4)}) * 1e2 + 0.5) / 1e2
               AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: 5-way join, profit by supplier nation × year.

    No partsupp/supplycost in this schema, so profit is the discounted
    revenue. Scale: nation is hinted broadcast (fixed 25 rows);
    part/supplier are unhinted (AQE broadcasts while small, shuffles at
    100 TB); lineitem↔orders is
    the one real shuffle. The LIKE filter halves the fact early because
    the part join is applied before the orders join.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            stable_round(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2).alias(
                "sum_profit"
            )
        )
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q10 — returned items report (top 20 customers by lost revenue)
# ---------------------------------------------------------------------------


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           floor(({sql_exact_sum(_REV, 4)}) * 1e2 + 0.5) / 1e2
               AS revenue,
           floor((c_acctbal) * 1e2 + 0.5) / 1e2 AS acctbal,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: quarter of returns → customer ranking, top 20.

    Scale: returnflag + orderdate filters shrink both fact inputs before
    the shuffle join; customer (AQE-sized) and nation (hinted) join
    onto the aggregated (per-customer) rows, not onto lineitem. Top-k
    plans as
    TakeOrderedAndProject; c_custkey tiebreak makes it total.
    """
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1998-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-04-01 00:00:00"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    per_cust = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            stable_round(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2).alias(
                "revenue"
            )
        )
    )
    return (
        per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            stable_round(F.col("c_acctbal"), 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11 — important suppliers (HAVING > uncorrelated scalar subquery)
# ---------------------------------------------------------------------------


@register(
    "q11_important_suppliers",
    oracle=f"""
    SELECT l_suppkey,
           floor(({sql_exact_sum(_REV, 4)}) * 1e2 + 0.5) / 1e2
               AS supplier_value
    FROM lineitem
    GROUP BY l_suppkey
    HAVING ({sql_exact_sum(_REV, 4)}) > (
        SELECT 1.02 * ({sql_exact_sum(_REV, 4)})
               / count(DISTINCT l_suppkey)
        FROM lineitem
    )
    ORDER BY supplier_value DESC, l_suppkey
    """,
)
def q11_important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: grouped value vs a global threshold subquery.

    No partsupp table, so value is discounted revenue per supplier.
    The threshold is 1.02× the MEAN supplier value (TPC-H's fixed
    fraction of the total selects nothing once the supplier count
    scales up — per-supplier share shrinks as 1/suppliers, so the
    cutoff must be scale-free to stay selective AND non-empty at
    every SF).

    Scale: Catalyst evaluates the scalar subquery once (subquery
    broadcast), and both aggregations are partial+final over the same
    scan — the fact table is read twice but shuffled only as one row
    per (partition × supplier).
    """
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT l_suppkey,
               floor(({sql_exact_sum(_REV, 4)}) * 1e2 + 0.5) / 1e2
                   AS supplier_value
        FROM lineitem
        GROUP BY l_suppkey
        HAVING ({sql_exact_sum(_REV, 4)}) > (
            SELECT 1.02 * ({sql_exact_sum(_REV, 4)})
                   / count(DISTINCT l_suppkey)
            FROM lineitem
        )
        ORDER BY supplier_value DESC, l_suppkey
        """
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join w/ ON-filter)
# ---------------------------------------------------------------------------


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left join with ON-clause predicate → histogram.

    The priority filter must sit in the join condition, not a WHERE —
    customers whose every order is urgent must still appear with count
    0. Scale: two aggregations; the first shuffles on custkey, the
    second on the (tiny-domain) count value.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier (scalar-max selection, one aggregation pass)
# ---------------------------------------------------------------------------


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey,
               floor(({sql_exact_sum(_REV, 4)}) * 1e2 + 0.5) / 1e2
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue view, pick the max supplier.

    The max is taken over ROUNDED revenue so the float comparison is
    engine-stable (see functions/numeric.py). Spark computes the
    aggregate ONCE — ``localCheckpoint`` materializes it so the scalar
    max and the equality probe read the same rounded rows (Spark
    inlines CTEs; a second reference would recompute the sum with a
    different partition order and could round differently at a .xx5
    boundary). The max itself is a scalar ``agg`` broadcast-joined
    back: a global-window max would move every per-supplier row to a
    single partition, which dies once supplier grows with the corpus.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1998-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-04-01 00:00:00"))
    )
    supp = load(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        stable_round(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2).alias(
            "total_revenue"
        )
    ).localCheckpoint(eager=True)
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    top = revenue.join(
        F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue")
    )
    return (
        top.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q16 — supplier relationship count (NOT IN + count distinct)
# ---------------------------------------------------------------------------


@register(
    "q16_part_supplier_relation",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_part_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN (null-aware anti join) + count(DISTINCT).

    The part-supplier relation is derived from lineitem (no partsupp
    table). Scale: Spark only supports null-aware anti join (NOT IN)
    as a broadcast — this query deliberately showcases that operator,
    and the broadcast side is pre-filtered (s_acctbal < 0). If the
    filtered subquery outgrew broadcast size at 100 TB, the rewrite is
    NOT EXISTS (s_suppkey is a non-null PK, so semantics coincide),
    which plans as a shuffleable regular anti join. count(DISTINCT)
    expands to a two-level aggregate — no driver-side distinct.
    """
    register_views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#3'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity orders (correlated scalar-aggregate subquery)
# ---------------------------------------------------------------------------


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT floor(({sql_exact_sum("l_extendedprice", 2)} / 7.0) * 1e2 + 0.5) / 1e2 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-part average as a correlated threshold.

    Scale: Catalyst decorrelates into an aggregate-then-join on
    l_partkey — the per-part averages are a tiny side that broadcasts;
    no per-row subquery execution.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        f"""
        SELECT floor(({sql_exact_sum("l_extendedprice", 2)} / 7.0) * 1e2 + 0.5) / 1e2 AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (
            SELECT 0.5 * avg(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = p_partkey
          )
        """
    )


# ---------------------------------------------------------------------------
# Q20 — supplier selection via IN over a grouped-HAVING subquery
# ---------------------------------------------------------------------------


@register(
    "q20_excess_shippers",
    oracle="""
    SELECT s_suppkey, s_name, floor((s_acctbal) * 1e2 + 0.5) / 1e2 AS acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red%'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 2000
    )
    ORDER BY s_suppkey
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN over an aggregated-with-HAVING join.

    Adapted to lineitem-derived shipments (no partsupp availqty).
    Scale: the inner aggregate groups the red-part lineitems per
    supplier (tiny result, 100 keys) and semi-joins back to supplier as
    a broadcast.
    """
    register_views(spark, sf_dir, "supplier", "lineitem", "part")
    return spark.sql(
        """
        SELECT s_suppkey, s_name, floor((s_acctbal) * 1e2 + 0.5) / 1e2 AS acctbal
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            WHERE p_name LIKE 'red%'
            GROUP BY l_suppkey
            HAVING sum(l_quantity) > 2000
        )
        ORDER BY s_suppkey
        """
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who were the sole late shipper (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------


@register(
    "q21_sole_late_shipper",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact.

    "Late" is shipping >90 days after the order date (no receipt/commit
    dates here). Total order: (numwait, s_name).

    r12 optimization (guide §2.4): the Spark side rewrites the
    EXISTS + NOT EXISTS pair as per-order distinct-supplier counts over
    ONE keyed window — `EXISTS another supplier` ⟺ the order has >1
    distinct suppliers, `NOT EXISTS another late supplier` (for a late
    l1 row) ⟺ the order's late lines come from exactly 1 distinct
    supplier. One lineitem scan and one l_orderkey exchange replace the
    decorrelated plan's THREE lineitem scans and three co-keyed
    shuffles (plans/r12/q21_sole_late_shipper_{{before,after}}.txt).
    Window groups are order-sized (bounded ~7 lines), keyed by
    l_orderkey. The DuckDB oracle keeps the textbook EXISTS form;
    equivalence is oracle-checked at every SF.
    """
    register_views(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(
        """
        WITH fl AS (
            SELECT l_orderkey, l_suppkey,
                   CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END AS late
            FROM lineitem
            JOIN orders ON o_orderkey = l_orderkey
            WHERE o_orderstatus = 'F'
        ),
        flagged AS (
            SELECT l_suppkey, late,
                   size(collect_set(l_suppkey)
                        OVER (PARTITION BY l_orderkey)) AS n_supp,
                   size(collect_set(CASE WHEN late = 1 THEN l_suppkey END)
                        OVER (PARTITION BY l_orderkey)) AS n_late_supp
            FROM fl
        )
        SELECT s_name, count(*) AS numwait
        FROM flagged
        JOIN supplier ON s_suppkey = l_suppkey
        WHERE late = 1 AND n_supp > 1 AND n_late_supp = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# Q22 — dormant high-balance customers (correlated COUNT subquery)
# ---------------------------------------------------------------------------


@register(
    "q22_dormant_customers",
    oracle=f"""
    SELECT n_name,
           count(*) AS numcust,
           floor(({sql_exact_sum("c_acctbal", 2)}) * 1e2 + 0.5) / 1e2 AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (
        SELECT {sql_exact_avg("c_acctbal", 2)} FROM customer WHERE c_acctbal > 0.0
      )
      AND (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) <= 3
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: two scalar subqueries — one global, one correlated.

    No phone column, so "country code" is the joined nation name, and
    "no orders" is relaxed to "at most 3 orders" (every sf0.01 customer
    has ≥1 order). Scale: the global average is a one-row broadcast;
    the correlated count decorrelates into a grouped-count left join on
    custkey.
    """
    register_views(spark, sf_dir, "customer", "nation", "orders")
    return spark.sql(
        f"""
        SELECT n_name,
               count(*) AS numcust,
               floor(({sql_exact_sum("c_acctbal", 2)}) * 1e2 + 0.5) / 1e2 AS totacctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (
            SELECT {sql_exact_avg("c_acctbal", 2)} FROM customer WHERE c_acctbal > 0.0
          )
          AND (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) <= 3
        GROUP BY n_name
        ORDER BY n_name
        """
    )
