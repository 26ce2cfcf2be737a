"""Warehouse-maintenance queries: SCD Type-2 merge as a catalog entry.

The operator lives in ``operators/scd.py`` (pure DataFrame, one
full-outer join per merge); this query drives it end-to-end on the
``customer`` dimension with a deterministic synthetic snapshot so the
whole merge is DuckDB-oracle-checkable: delinquent customers
(``c_acctbal < 0``) move to segment ``DELINQUENT`` — their open
version closes at the batch timestamp and a new version opens — while
everyone else passes through untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.operators.scd import scd2_merge
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import load, register_views

_T0 = "1992-01-01 00:00:00"
_BATCH = "1998-01-01 00:00:00"

_SCD2_DUCK_SQL = f"""
WITH cur AS (
    SELECT c_custkey AS cust_key, c_mktsegment AS segment, c_acctbal
    FROM customer
)
-- unchanged: still the original open version (NULL valid_to = open)
SELECT cust_key, segment,
       TIMESTAMP '{_T0}'         AS valid_from,
       CAST(NULL AS TIMESTAMP)   AS valid_to,
       true                      AS is_current
FROM cur WHERE c_acctbal >= 0
UNION ALL
-- changed: the original version, closed at the batch timestamp
SELECT cust_key, segment,
       TIMESTAMP '{_T0}', TIMESTAMP '{_BATCH}', false
FROM cur WHERE c_acctbal < 0
UNION ALL
-- changed: the new open version
SELECT cust_key, 'DELINQUENT',
       TIMESTAMP '{_BATCH}', CAST(NULL AS TIMESTAMP), true
FROM cur WHERE c_acctbal < 0
"""


@register("scd2_customer_segments", oracle=_SCD2_DUCK_SQL)
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge: delinquent customers change segment, others pass.

    Scale: one full-outer join on the business key; with a dimension
    bucketed on that key the join is shuffle-free. Lakehouse
    deployments express the same logic as MERGE INTO.
    """
    cust = load(spark, sf_dir, "customer")
    current = cust.select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(_T0).cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    snapshot = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_key"),
        F.when(F.col("c_acctbal") < 0, F.lit("DELINQUENT"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    return scd2_merge(
        current, snapshot, key="cust_key", tracked=["segment"], batch_ts=_BATCH
    )


# ---------------------------------------------------------------------------
# CDC snapshot diff: insert/update/delete between two table versions
# ---------------------------------------------------------------------------
# The change-data-capture primitive under incremental pipelines and
# lakehouse MERGE: given yesterday's and today's snapshot of a table,
# emit each key's operation. Both snapshots are deterministic slices of
# the orders table so the whole diff is oracle-checkable:
#   old = orders except keys ≡ 3 (mod 10)      (those become inserts)
#   new = orders except keys ≡ 7 (mod 10)      (those become deletes)
#   new prices for keys ≡ 0 (mod 7) are uplifted 10%   (updates)
# Price arithmetic stays on the cent grid (floor(x*110+0.5)/100), so
# equality compares are exact on both engines.
#
# Scale: ONE full-outer join on the key — with both snapshots bucketed
# or partitioned by key (how snapshots are laid out in practice) this
# is co-located and shuffle-free; unchanged rows are filtered before
# any downstream work, so output is change-sized, not table-sized.

_CDC_SQL = """
WITH old_snap AS (
    SELECT o_orderkey AS key, o_totalprice AS price, o_orderstatus AS status
    FROM orders WHERE o_orderkey % 10 != 3
),
new_snap AS (
    SELECT o_orderkey AS key,
           CASE WHEN o_orderkey % 7 = 0
                THEN floor(o_totalprice * 110 + 0.5) / 100
                ELSE o_totalprice END AS price,
           o_orderstatus AS status
    FROM orders WHERE o_orderkey % 10 != 7
),
diff AS (
    SELECT
        coalesce(o.key, n.key) AS key,
        CASE WHEN o.key IS NULL THEN 'insert'
             WHEN n.key IS NULL THEN 'delete'
             WHEN o.price != n.price OR o.status != n.status THEN 'update'
             ELSE 'unchanged' END AS op,
        o.price AS old_price,
        n.price AS new_price
    FROM old_snap o FULL OUTER JOIN new_snap n ON o.key = n.key
)
SELECT key, op, old_price, new_price
FROM diff WHERE op != 'unchanged'
"""


@register("cdc_snapshot_diff", oracle=_CDC_SQL)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert/update/delete diff between two deterministic snapshots."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_CDC_SQL)


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------
# Recency/Frequency/Monetary quintile scoring — the classic warehouse
# segmentation. Deliberately NOT ntile(): a global ntile is a
# single-partition sort of every customer. Instead the four quintile
# cutoffs per dimension are computed in ONE aggregation (12 scalars),
# broadcast, and each customer scores by comparison — map-only after
# the per-customer rollup, which is the shape that survives 1e9
# customers. Cutoffs snap to the 1e-6 grid before comparison (the
# float-threshold invariant); frequency/monetary are exact integers /
# exact-summed 2dp, so scores are deterministic cross-engine.

from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_exact_sum,
    sql_stable_round,
)


def _rfm_sql(q: str, days: str) -> str:
    def cuts(col: str, pre: str) -> str:
        return ",\n        ".join(
            f"{sql_stable_round(f'{q}({col}, {p})', 6)} AS {pre}{i + 1}"
            for i, p in enumerate(("0.2", "0.4", "0.6", "0.8"))
        )

    def score(col: str, pre: str, best_low: bool) -> str:
        vals = [5, 4, 3, 2] if best_low else [1, 2, 3, 4]
        last = 1 if best_low else 5
        arms = " ".join(
            f"WHEN {col} <= {pre}{i + 1} THEN {vals[i]}" for i in range(4)
        )
        return f"CASE {arms} ELSE {last} END"

    return f"""
WITH bounds AS (
    SELECT CAST(max(o_orderdate) AS DATE) AS maxd FROM orders
),
per_cust AS (
    SELECT o_custkey,
           {days} AS r_days,
           CAST(count(*) AS BIGINT) AS frequency,
           {sql_exact_sum("o_totalprice", 2)} AS monetary
    FROM orders, bounds
    GROUP BY o_custkey, maxd
),
cuts AS (
    SELECT
        {cuts("r_days", "r")},
        {cuts("frequency", "f")},
        {cuts("monetary", "m")}
    FROM per_cust
)
SELECT
    {score("p.r_days", "r", True)}  AS r_score,
    {score("p.frequency", "f", False)} AS f_score,
    {score("p.monetary", "m", False)}  AS m_score,
    CAST(count(*) AS BIGINT) AS n_customers,
    {sql_stable_round(sql_exact_sum("p.monetary", 2), 2)} AS segment_value
FROM per_cust p CROSS JOIN cuts
GROUP BY 1, 2, 3
"""


_RFM_DUCK_SQL = _rfm_sql(
    "quantile_cont",
    "date_diff('day', CAST(max(o_orderdate) AS DATE), maxd)",
)


@register("rfm_customer_segments", oracle=_RFM_DUCK_SQL)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation via broadcast quantile cutoffs."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        _rfm_sql(
            "percentile",
            "datediff(maxd, CAST(max(o_orderdate) AS DATE))",
        )
    )


# ---------------------------------------------------------------------------
# Market-basket affinity (lift)
# ---------------------------------------------------------------------------
# Which part brands sell together? lift(a,b) = P(a,b) / (P(a)·P(b))
# over order baskets — the retail twin of the text PMI operator (PMI is
# its log). Scale control is structural, not a hot-list: the pair join
# is per-ORDER, and baskets are small (TPC-H ≤ 7 lineitems), so pairs
# per order ≤ |basket|²/2 regardless of corpus size. The part join is
# unhinted (scale-growing side — AQE chooses); counts are exact
# integers, the one division snaps at output.


def _basket_sql() -> str:
    return """
WITH items AS (
    SELECT DISTINCT l_orderkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
brand_counts AS (
    SELECT p_brand, count(*) AS n_orders FROM items GROUP BY p_brand
),
total AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
pairs AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS co_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY a.p_brand, b.p_brand
)
SELECT p.brand_a, p.brand_b,
       CAST(p.co_orders AS BIGINT) AS co_orders,
       floor((CAST(p.co_orders AS DOUBLE) * t.n
              / (CAST(ca.n_orders AS DOUBLE) * cb.n_orders)) * 1e6 + 0.5) / 1e6
           AS lift
FROM pairs p
JOIN brand_counts ca ON p.brand_a = ca.p_brand
JOIN brand_counts cb ON p.brand_b = cb.p_brand
CROSS JOIN total t
WHERE p.co_orders >= 5
ORDER BY lift DESC, p.brand_a, p.brand_b
LIMIT 25
"""


@register("basket_brand_lift", oracle=_basket_sql())
def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 brand pairs by basket lift (co-occurrence vs independence)."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_basket_sql())


# ---------------------------------------------------------------------------
# Cohort lifetime-value (LTV) curves
# ---------------------------------------------------------------------------
# Customers cohort by the month of their FIRST order; revenue then
# accumulates per cohort across month offsets — the classic LTV matrix
# (a revenue-weighted sibling of events_retention_cohorts). Shuffle
# profile: one customer-keyed min-aggregation, one (cohort x offset)
# rollup, and a cumulative window whose partitions are cohort-sized
# (never global). Month arithmetic is portable integer year*12+month;
# money sums snap to the cent grid before the order-independent exact
# sum, and the cumulative sum accumulates those exact cents.

from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_stable_round as _r2,
)

_LTV_SQL = f"""
WITH firsts AS (
    SELECT o_custkey AS cust,
           min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
    FROM orders
    GROUP BY o_custkey
),
cohort_sizes AS (
    SELECT cohort_m, CAST(count(*) AS BIGINT) AS cohort_users
    FROM firsts GROUP BY cohort_m
),
rev AS (
    SELECT f.cohort_m,
           (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
               AS offset_m,
           CAST(sum(CAST(floor(o.o_totalprice * 1e2 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_cents,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o JOIN firsts f ON o.o_custkey = f.cust
    GROUP BY f.cohort_m,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
),
cum AS (
    SELECT cohort_m, offset_m, n_orders, rev_cents,
           CAST(sum(rev_cents) OVER (PARTITION BY cohort_m ORDER BY offset_m
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
               AS cum_cents
    FROM rev
)
-- floor-then-cast: CAST(double AS BIGINT) truncates in Spark but
-- ROUNDS in DuckDB; floor() is identical in both.
SELECT CAST(floor(CAST(c.cohort_m AS DOUBLE) / 12e0) AS BIGINT)
           AS cohort_year,
       CAST(c.cohort_m % 12 AS BIGINT) AS cohort_month0,
       CAST(c.offset_m AS BIGINT) AS offset_months,
       c.n_orders,
       CAST(c.rev_cents AS DOUBLE) / 1e2 AS revenue,
       {_r2("(CAST(c.cum_cents AS DOUBLE) / 1e2) / s.cohort_users", 4)}
           AS cum_ltv_per_user
FROM cum c JOIN cohort_sizes s ON c.cohort_m = s.cohort_m
"""


@register("orders_cohort_ltv", oracle=_LTV_SQL)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per first-order cohort across month offsets."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_LTV_SQL)


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view refresh)
# ---------------------------------------------------------------------------
# The warehouse-maintenance op behind every continuously-refreshed
# rollup: a stored aggregate over history is MERGED with an aggregate
# over only the new batch — count and snapped-cent partial sums are
# associative integers, so merge = integer add, and the derived
# avg recomputes from the merged partials (never averaged averages).
# At 100 TB the payoff is that refresh cost scales with the DELTA (the
# date filter prunes history partitions at the scan), while the ORACLE
# is the full single-pass recompute — the hash match IS the proof that
# incremental maintenance equals recomputation.

_INC_CUTOFF = "1999-01-01 00:00:00"


def _inc_partial_sql(pred: str) -> str:
    return f"""
SELECT year(o_orderdate) AS order_year, o_orderstatus,
       count(*) AS n,
       sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS cents
FROM orders
WHERE {pred}
GROUP BY year(o_orderdate), o_orderstatus
"""


def _inc_merge_sql(parts: str) -> str:
    return f"""
SELECT order_year, o_orderstatus,
       CAST(sum(n) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS DOUBLE) / 1e2 AS revenue,
       {_r2("(CAST(sum(cents) AS DOUBLE) / 1e2) / sum(n)", 4)} AS avg_price
FROM {parts}
GROUP BY order_year, o_orderstatus
"""


# Oracle: one full-history pass — what the incremental merge must equal.
_INC_ORACLE = _inc_merge_sql("(" + _inc_partial_sql("true") + ") p")


@register("warehouse_incremental_agg", oracle=_INC_ORACLE)
def warehouse_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge a stored historical aggregate with a delta-batch aggregate;
    must equal the full recompute (the oracle)."""
    register_views(spark, sf_dir, "orders")
    old = _inc_partial_sql(f"o_orderdate < TIMESTAMP '{_INC_CUTOFF}'")
    delta = _inc_partial_sql(f"o_orderdate >= TIMESTAMP '{_INC_CUTOFF}'")
    return spark.sql(
        _inc_merge_sql(f"(({old}) UNION ALL ({delta})) p")
    )


# ---------------------------------------------------------------------------
# Revenue concentration: bucketed Lorenz curve + Gini
# ---------------------------------------------------------------------------
# "What share of revenue do the top 5% of customers carry?" answered
# WITHOUT a global per-customer rank (a 10^9-row single-partition sort
# at scale). The RFM/PSI cutoff pattern instead: 19 ventile cutoffs of
# per-customer revenue in one aggregation (a one-row broadcast), each
# customer lands in a bucket by indicator-sum comparison (map-only),
# and the Lorenz curve + trapezoid Gini run on the 20-row bucket
# relation. Within-bucket uniformity makes the Gini bucketed (documented,
# deterministic) — the concentration signal at 5% resolution, at any
# customer count. Revenue stays on the exact-sum 2dp grid end-to-end;
# shares snap to 1e-6.

_PARETO_CUT_COLS = ",\n        ".join(
    "floor(({q}(revenue, " + f"{i} / 20e0)) * 1e6 + 0.5) / 1e6 AS c{i}"
    for i in range(1, 20)
)
_PARETO_BUCKET = " + ".join(
    f"(CASE WHEN p.revenue > cuts.c{i} THEN 1 ELSE 0 END)" for i in range(1, 20)
)

_PARETO_BODY = f"""
WITH per_cust AS (
    SELECT o_custkey, {{rev}} AS revenue
    FROM orders GROUP BY o_custkey
),
cuts AS (
    SELECT {_PARETO_CUT_COLS}
    FROM per_cust
),
buckets AS (
    SELECT CAST({_PARETO_BUCKET} AS INT) AS bucket,
           count(*) AS n_cust,
           {{rev_sum}} AS rev
    FROM per_cust p CROSS JOIN cuts
    GROUP BY 1
),
tot AS (
    SELECT CAST(sum(n_cust) AS DOUBLE) AS nc, CAST(sum(rev) AS DOUBLE) AS r
    FROM buckets
),
lorenz AS (
    SELECT b.bucket, b.n_cust, b.rev,
           CAST(sum(b.n_cust) OVER w AS DOUBLE) / t.nc AS cum_pop,
           CAST(sum(b.rev) OVER w AS DOUBLE) / t.r AS cum_rev,
           CAST(b.n_cust AS DOUBLE) / t.nc AS width
    FROM buckets b CROSS JOIN tot t
    WINDOW w AS (ORDER BY b.bucket ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
),
gini AS (
    SELECT floor((1e0 - sum(seg)) * 1e6 + 0.5) / 1e6 AS g
    FROM (
        SELECT width * (cum_rev
               + coalesce(lag(cum_rev) OVER (ORDER BY bucket), 0e0)) AS seg
        FROM lorenz
    )
)
SELECT l.bucket,
       CAST(l.n_cust AS BIGINT) AS n_customers,
       l.rev AS bucket_revenue,
       floor((l.cum_pop) * 1e6 + 0.5) / 1e6 AS cum_pop_share,
       floor((l.cum_rev) * 1e6 + 0.5) / 1e6 AS cum_rev_share,
       g.g AS gini
FROM lorenz l CROSS JOIN gini g
ORDER BY l.bucket
"""


def _pareto_sql(q: str, rev: str, rev_sum: str) -> str:
    return (
        _PARETO_BODY
        .replace("{q}", q)
        .replace("{rev}", rev)
        .replace("{rev_sum}", rev_sum)
    )


@register(
    "orders_pareto_concentration",
    oracle=_pareto_sql(
        "quantile_cont",
        sql_exact_sum("o_totalprice", 2),
        sql_exact_sum("p.revenue", 2),
    ),
)
def orders_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed Lorenz curve of customer revenue + trapezoid Gini."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        _pareto_sql(
            "percentile",
            sql_exact_sum("o_totalprice", 2),
            sql_exact_sum("p.revenue", 2),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier inter-purchase survival
# ---------------------------------------------------------------------------
# "How long until a customer orders again?" done right: the gap from a
# customer's last order to the corpus end is CENSORED (they haven't
# churned, we just stopped watching), and the naive mean/median of
# observed gaps is biased low without it. The KM estimator handles it:
# at each observed gap length t, S(t) *= (1 - d_t / n_t) with n_t the
# at-risk count (all observations, censored or not, with duration ≥ t).
# Shape: orders reduce to per-customer consecutive-order gaps + one
# censored tail row each (two window passes over the per-customer
# relation); everything after runs on the duration histogram (distinct
# gap lengths — hundreds of rows at any scale). The cumulative product
# is exp(Σ ln(1 − d/n)) via a cumulative window over that histogram;
# rows after the risk set empties pin survival to exactly 0 instead of
# feeding ln(0). Output snaps to the 1e-6 grid.


def _risk_head(days_diff: str) -> str:
    """per-customer gap observations -> duration histogram -> at-risk
    counts: the shared front of the Kaplan-Meier and Nelson-Aalen
    estimators (both read the same bounded duration histogram)."""
    return f"""
WITH per AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
),
seq AS (
    SELECT o_custkey, d,
           lag(d) OVER (PARTITION BY o_custkey ORDER BY d) AS prev_d
    FROM per
),
horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
obs AS (
    SELECT CAST({days_diff.format(a="prev_d", b="d")} AS BIGINT) AS dur,
           1 AS ev
    FROM seq WHERE prev_d IS NOT NULL
    UNION ALL
    SELECT CAST({days_diff.format(a="last_d", b="maxd")} AS BIGINT) AS dur,
           0 AS ev
    FROM (SELECT o_custkey, max(d) AS last_d FROM per GROUP BY o_custkey)
    CROSS JOIN horizon
),
hist AS (
    SELECT dur, sum(ev) AS d_t, count(*) AS c_t FROM obs GROUP BY dur
),
tot AS (SELECT sum(c_t) AS n FROM hist),
at_risk AS (
    SELECT h.dur, h.d_t,
           t.n - coalesce(sum(h.c_t) OVER (ORDER BY h.dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
    FROM hist h CROSS JOIN tot t
)"""


def _km_sql(days_diff: str) -> str:
    return f"""{_risk_head(days_diff)},
km AS (
    SELECT dur, d_t, n_risk,
           CASE WHEN max(CASE WHEN d_t >= n_risk THEN 1 ELSE 0 END)
                     OVER w = 1
                THEN 0e0
                ELSE exp(sum(CASE WHEN d_t < n_risk THEN
                             ln(1e0 - CAST(d_t AS DOUBLE) / n_risk) END)
                         OVER w)
           END AS s
    FROM at_risk
    WHERE d_t > 0
    WINDOW w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
)
SELECT CAST(dur AS BIGINT) AS gap_days,
       CAST(d_t AS BIGINT) AS n_repurchases,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       floor((s) * 1e6 + 0.5) / 1e6 AS survival
FROM km
ORDER BY gap_days
"""


@register(
    "orders_interpurchase_survival",
    oracle=_km_sql("date_diff('day', {a}, {b})"),
)
def orders_interpurchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival of customer inter-purchase gaps, with the
    last-order-to-horizon tail treated as censored."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_km_sql("datediff({b}, {a})"))


# ---------------------------------------------------------------------------
# SCD2 as-of snapshot (time travel over the versioned dimension)
# ---------------------------------------------------------------------------
# The read side of scd2_customer_segments: reconstruct the dimension
# EXACTLY as it stood at time T — the version whose validity interval
# covers T (valid_from <= T < valid_to, open intervals unbounded).
# Probing after the merge batch shows the post-change state; the
# segment census per snapshot is the regression-friendly rollup. A
# bucketed dimension makes this a map-only filter at any scale.

_ASOF_PROBE = "1998-06-01 00:00:00"

_SCD2_ASOF_SQL = f"""
WITH versions AS ({{scd2}}),
live AS (
    SELECT cust_key, segment
    FROM versions
    WHERE valid_from <= TIMESTAMP '{_ASOF_PROBE}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_ASOF_PROBE}')
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_customers
FROM live
GROUP BY segment
ORDER BY segment
"""


@register(
    "scd2_as_of_snapshot",
    oracle=_SCD2_ASOF_SQL.format(scd2=_SCD2_DUCK_SQL),
)
def scd2_as_of_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment census of the customer dimension as of a probe instant
    AFTER the delinquency batch — time travel over SCD2 versions."""
    df = scd2_customer_segments(spark, sf_dir)
    df.createOrReplaceTempView("scd2_versions")
    return spark.sql(
        _SCD2_ASOF_SQL.format(scd2="SELECT * FROM scd2_versions")
    )


# ---------------------------------------------------------------------------
# Herfindahl–Hirschman concentration per market segment
# ---------------------------------------------------------------------------
# The antitrust-style complement to the Lorenz/Gini report: HHI =
# Σ share², computed per customer segment over customer revenue
# shares. Revenue stays on the exact-sum cent grid; each customer's
# squared share snaps to the 1e-9 grid and the HHI sums exactly, so
# no engine-ordered double accumulation anywhere. Effective-competitor
# count 1/HHI comes from the snapped HHI.

_HHI_SQL = f"""
WITH per_cust AS (
    SELECT c.c_mktsegment AS segment, o.o_custkey,
           {{rev}} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_custkey
),
seg_tot AS (
    SELECT segment, {{rev_tot}} AS total FROM per_cust GROUP BY segment
)
SELECT p.segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       floor(({{hhi}}) * 1e6 + 0.5) / 1e6 AS hhi,
       floor((1e0 / ({{hhi}})) * 1e2 + 0.5) / 1e2
           AS effective_competitors
FROM per_cust p JOIN seg_tot t ON p.segment = t.segment
GROUP BY p.segment
ORDER BY p.segment
"""


def _hhi_sql() -> str:
    hhi = sql_exact_sum("(p.revenue / t.total) * (p.revenue / t.total)", 9)
    return (
        _HHI_SQL
        .replace("{rev}", sql_exact_sum("o.o_totalprice", 2))
        .replace("{rev_tot}", sql_exact_sum("revenue", 2))
        .replace("{hhi}", hhi)
    )


@register("orders_hhi_concentration", oracle=_hhi_sql())
def orders_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment HHI of customer revenue shares + effective-competitor
    count."""
    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(_hhi_sql())


# ---------------------------------------------------------------------------
# ABC part classification (inventory analytics, cutoff-bucketed)
# ---------------------------------------------------------------------------
# A-parts carry ~80% of revenue, B the next 15%, C the tail — the
# inventory-policy classifier. Like the Lorenz/Gini report, this
# avoids the global revenue-rank sort: ventile revenue cutoffs
# broadcast back (the RFM pattern), bucket revenue sums give the
# cumulative-share curve, and each bucket maps to A/B/C by WHERE ITS
# CUMULATIVE SHARE SITS — so class boundaries land on bucket edges
# (5% resolution, documented) instead of exact part ranks, and no
# 10^8-part global sort ever runs. Revenue stays on the exact-sum
# cent grid; shares snap at 1e-6 before the class compare.

_ABC_SQL = """
WITH per_part AS (
    SELECT l_partkey, {rev} AS revenue
    FROM lineitem GROUP BY l_partkey
),
cuts AS (
    SELECT {cut_cols}
    FROM per_part
),
buckets AS (
    SELECT CAST({bucket} AS INT) AS bucket,
           count(*) AS n_parts,
           {rev_sum} AS rev
    FROM per_part p CROSS JOIN cuts
    GROUP BY 1
),
tot AS (SELECT CAST(sum(rev) AS DOUBLE) AS r FROM buckets),
curve AS (
    SELECT b.bucket, b.n_parts, b.rev,
           floor((CAST(sum(b.rev) OVER (ORDER BY b.bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / t.r) * 1e6 + 0.5) / 1e6 AS cum_share_top
    FROM buckets b CROSS JOIN tot t
)
SELECT CASE WHEN cum_share_top <= 8e-1 THEN 'A'
            WHEN cum_share_top <= 95e-2 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(sum(n_parts) AS BIGINT) AS n_parts,
       {class_rev} AS class_revenue
FROM curve
GROUP BY 1
ORDER BY abc_class
"""


def _abc_sql() -> str:
    cut_cols = ",\n        ".join(
        "floor(({q}(revenue, " + f"{i} / 20e0)) * 1e6 + 0.5) / 1e6 AS c{i}"
        for i in range(1, 20)
    )
    bucket = " + ".join(
        f"(CASE WHEN p.revenue > cuts.c{i} THEN 1 ELSE 0 END)"
        for i in range(1, 20)
    )
    return (
        _ABC_SQL
        .replace("{rev}", sql_exact_sum("l_extendedprice", 2))
        .replace("{cut_cols}", cut_cols)
        .replace("{bucket}", bucket)
        .replace("{rev_sum}", sql_exact_sum("p.revenue", 2))
        .replace("{class_rev}", sql_exact_sum("rev", 2))
    )


@register(
    "lineitem_abc_classification",
    oracle=_abc_sql().replace("{q}", "quantile_cont"),
)
def lineitem_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B/C part classes by cumulative revenue share (bucket-edged)."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_abc_sql().replace("{q}", "percentile"))


# ---------------------------------------------------------------------------
# Small-file compaction plan (lakehouse table maintenance)
# ---------------------------------------------------------------------------
# The OPTIMIZE/compaction planner a partitioned table runs periodically:
# profile per-partition (day) sizes, then greedily pack consecutive
# partitions into rewrite groups of ~TARGET rows via a running-total
# bucket assignment — each group becomes one rewrite task whose output
# is a near-target-sized file. Consecutive-day grouping (not
# first-fit-decreasing) is deliberate: it preserves partition-range
# clustering, so date-filtered reads still prune whole rewrite outputs.
#
# Scale: the corpus-sized work is ONE per-day count aggregation; the
# running total and group assignment run on the tiny per-day relation
# (365 rows/year — a window over days, never over events). Greedy
# prefix-sum packing can overshoot TARGET by at most one partition,
# the standard compaction-planner tradeoff.

_COMPACT_TARGET = 25_000  # rows per rewrite group

_COMPACTION_SQL = f"""
WITH per_day AS (
    -- the day renders as an ISO string: a raw DATE column round-trips
    -- differently through the two engines' pandas paths
    SELECT CAST(CAST(ts AS DATE) AS STRING) AS d,
           CAST(count(*) AS BIGINT)         AS n_rows
    FROM events
    GROUP BY CAST(CAST(ts AS DATE) AS STRING)
),
planned AS (
    SELECT d, n_rows,
           CAST(coalesce(sum(n_rows) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cum_before
    FROM per_day
)
SELECT d, n_rows, cum_before,
       -- floor(), not a bare CAST: Spark truncates double->bigint while
       -- DuckDB rounds, so CAST(cum/target AS BIGINT) diverges the
       -- moment a fraction reaches .5 (it does at sf0.1)
       CAST(floor(cum_before / {_COMPACT_TARGET}e0) AS BIGINT) AS rewrite_group,
       (n_rows < {_COMPACT_TARGET // 10})                      AS is_small_file
FROM planned
"""


@register("warehouse_compaction_plan", oracle=_COMPACTION_SQL)
def warehouse_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planner: per-day partition sizes greedily packed into
    ~25k-row rewrite groups by running-total bucketing, preserving
    date-range clustering; partitions under 10% of target are flagged
    as the small files motivating the rewrite.

    One corpus-sized aggregation; the planning window runs over the
    per-day relation only (365 rows/year at any SF).
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(_COMPACTION_SQL)


# ---------------------------------------------------------------------------
# Z-order clustering keys (multi-dimensional layout for data skipping)
# ---------------------------------------------------------------------------
# The OPTIMIZE ZORDER BY primitive: interleave the bits of two cluster
# dimensions (customer, order-day) so rows close in EITHER dimension
# land in the same file — point/range predicates on either column then
# skip most files, where a lexicographic sort only serves its leading
# column. Bit extraction/interleave is exact integer work; Spark spells
# shifts as shiftleft/shiftright functions and DuckDB as operators, so
# the expression is generated per engine from one term list.
#
# Scale: map-only (zval is a projection; the sort it feeds is the
# write-side exchange a clustered write pays anyway). 8 bits/dimension
# = 256x256 grid, plenty to steer file assignment at any corpus size.

_Z_BITS = 8


def _z_interleave(bx: str, by: str, spark_style: bool) -> str:
    terms = []
    for i in range(_Z_BITS):
        for col, off in ((bx, 2 * i), (by, 2 * i + 1)):
            if spark_style:
                terms.append(f"shiftleft(shiftright({col}, {i}) & 1, {off})")
            else:
                terms.append(f"((({col} >> {i}) & 1) << {off})")
    return " + ".join(terms)


def _zorder_sql(datediff_expr: str, spark_style: bool) -> str:
    z = _z_interleave("bx", "by", spark_style)
    return f"""
WITH dims AS (
    SELECT o_orderkey,
           CAST(o_custkey % 256 AS BIGINT)          AS bx,
           CAST(({datediff_expr}) % 256 AS BIGINT)  AS by
    FROM orders
),
z AS (
    SELECT o_orderkey, bx, by, CAST({z} AS BIGINT) AS zval FROM dims
)
SELECT o_orderkey, bx, by, zval,
       CAST({'shiftright(zval, 10)' if spark_style else 'zval >> 10'}
            AS BIGINT) AS zcluster
FROM z
"""


@register(
    "warehouse_zorder_clustering",
    oracle=_zorder_sql("date_diff('day', DATE '1992-01-01', o_orderdate)", False),
)
def warehouse_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over (customer, order-day):
    8-bit interleave -> 64-cluster assignment, the sort key an
    OPTIMIZE ZORDER write would use so predicates on either dimension
    skip files.

    Map-only exact bit arithmetic; the zval projection pipelines into
    the clustered write's own exchange.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        _zorder_sql("datediff(o_orderdate, DATE '1992-01-01')", True)
    )


# ---------------------------------------------------------------------------
# Zone-map skipping report (min/max pruning effectiveness)
# ---------------------------------------------------------------------------
# The other half of the layout story: per file-group min/max zone maps
# and how many groups a range predicate can skip without reading them.
# Groups are order months (the natural ingestion partitioning); the
# probe predicate is a mid-range totalprice band. min/max of stored
# doubles involve no arithmetic, so the report is exact cross-engine.

_ZM_LO = 100_000
_ZM_HI = 200_000

_ZONE_MAP_SQL = f"""
WITH groups AS (
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
               AS file_group,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_totalprice)        AS min_price,
           max(o_totalprice)        AS max_price
    FROM orders
    GROUP BY year(o_orderdate) * 100 + month(o_orderdate)
)
SELECT file_group, n_rows, min_price, max_price,
       (max_price < {_ZM_LO} OR min_price > {_ZM_HI}) AS skip_for_probe,
       floor((CAST(sum(CASE WHEN max_price < {_ZM_LO} OR min_price > {_ZM_HI}
                            THEN n_rows ELSE 0 END) OVER ()
              AS DOUBLE) / sum(n_rows) OVER ()) * 1e6 + 0.5) / 1e6
           AS corpus_skip_ratio
FROM groups
"""


@register("warehouse_zone_map_skipping", oracle=_ZONE_MAP_SQL)
def warehouse_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map report: per-month min/max of o_totalprice plus which
    groups a [100k, 200k] probe skips and the corpus-wide skippable-row
    ratio — the measurement that justifies (or rejects) a re-clustering.

    One aggregation over orders; the skip analysis windows over the
    tiny per-month relation.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(_ZONE_MAP_SQL)


# ---------------------------------------------------------------------------
# Pareto skyline (dominance frontier) per brand
# ---------------------------------------------------------------------------
# Classic OLAP skyline: within each brand, the parts no other part
# dominates (price <=, size >=, strict in one) — minimize p_retailprice,
# maximize p_size. The naive formulation is an O(n^2) dominance
# anti-join; the 2-D skyline collapses to ONE window pass: a part
# survives iff it is the cheapest at its size (RANGE CURRENT ROW =
# the peer group) and strictly cheaper than everything at any larger
# size (RANGE UNBOUNDED..1 PRECEDING under size DESC = running min over
# strictly-larger sizes). Both frames share partitioning and ordering,
# so Spark computes them in a single exchange + sort.
#
# The DuckDB oracle deliberately keeps the independent NOT EXISTS
# dominance formulation — the two engines agree via different
# algorithms, which is stronger parity evidence than mirroring the
# window trick.

_SKYLINE_SPARK_SQL = """
WITH w AS (
    SELECT p_brand, p_partkey, p_size, p_retailprice,
           min(p_retailprice) OVER (
               PARTITION BY p_brand ORDER BY p_size DESC
               RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS best_same,
           min(p_retailprice) OVER (
               PARTITION BY p_brand ORDER BY p_size DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_larger
    FROM part
)
SELECT p_brand, p_partkey, p_size, p_retailprice
FROM w
WHERE p_retailprice = best_same
  AND (best_larger IS NULL OR p_retailprice < best_larger)
"""

_SKYLINE_DUCK_SQL = """
SELECT p_brand, p_partkey, p_size, p_retailprice
FROM part p
WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_brand = p.p_brand
      AND q.p_retailprice <= p.p_retailprice
      AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


@register("part_skyline_pareto", oracle=_SKYLINE_DUCK_SQL)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier over (min price, max size) via a
    single-pass window skyline; oracled against the independent
    O(n^2) NOT EXISTS dominance definition.

    Scale: one shuffle on brand, one sort by size — n log n per
    partition where the naive dominance join is n^2; no doubles are
    computed (min/compare select stored values exactly).
    """
    register_views(spark, sf_dir, "part")
    return spark.sql(_SKYLINE_SPARK_SQL)


# ---------------------------------------------------------------------------
# Deletion vectors: position-bitmap merge-on-read
# ---------------------------------------------------------------------------
# The lakehouse delete pattern (Delta/Iceberg v2): instead of rewriting
# data files, a delete commits a per-file-group POSITION BITMAP; readers
# reconstruct live rows by masking. Modeled per order-month "file
# group": row position = dense rank by o_orderkey within the month, the
# DV packs deleted positions into 63-bit words via grouped bit_or (the
# mergeable-mask shape sketch_bloom_prefilter pins), and the READ SIDE
# recovers deletions only by probing the bitmap — n_deleted_bitmap must
# equal n_deleted_predicate on every row, proving the encode/decode
# round-trip. Live revenue sums exact cents (BIGINT), never doubles.
#
# Scale: the DV is O(deleted/63) rows per group and joins back on
# (month, word) — a co-partitioned, skew-free key; the base is scanned
# twice (positioning window + probe), never self-joined row-to-row.

_DV_TAIL = """
base AS (
    SELECT substr(CAST(o_orderdate AS STRING), 1, 7) AS month,
           o_orderkey, o_orderstatus, o_totalprice,
           CAST(row_number() OVER (
               PARTITION BY substr(CAST(o_orderdate AS STRING), 1, 7)
               ORDER BY o_orderkey) - 1 AS BIGINT) AS pos
    FROM orders
),
dv AS (
    SELECT month, CAST(floor(pos / 63) AS BIGINT) AS word,
           {bor} AS mask
    FROM base
    WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 3
    GROUP BY month, CAST(floor(pos / 63) AS BIGINT)
),
probed AS (
    SELECT b.month, b.pos, b.o_totalprice,
           (b.o_orderstatus = 'F' AND b.o_orderkey % 10 = 3)
               AS del_predicate,
           (d.mask IS NOT NULL AND ({probe}) % 2 = 1) AS del_bitmap
    FROM base b
    LEFT JOIN dv d
      ON d.month = b.month AND d.word = CAST(floor(b.pos / 63) AS BIGINT)
)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN del_bitmap THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deleted_bitmap,
       CAST(sum(CASE WHEN del_predicate THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deleted_predicate,
       CAST(sum(CASE WHEN NOT del_bitmap
                THEN CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS live_revenue_cents
FROM probed
GROUP BY month
"""

_DV_SPARK_SQL = "WITH " + _DV_TAIL.format(
    bor="bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))",
    probe="shiftright(d.mask, CAST(b.pos % 63 AS INT))",
).lstrip()
_DV_DUCK_SQL = "WITH " + _DV_TAIL.format(
    bor="bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT))",
    probe="(d.mask >> CAST(b.pos % 63 AS INT))",
).lstrip()


@register("warehouse_deletion_vectors", oracle=_DV_DUCK_SQL)
def warehouse_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-bitmap deletion vectors per order-month: encode deletes
    as 63-bit packed masks, read back via bitmap probe, report per-group
    deleted counts (bitmap vs predicate MUST agree) and exact-cents
    live revenue.

    Scale: DV rows are O(deletes/63) and join on co-partitioned
    (month, word); no file rewrite, no row-to-row self-join.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(_DV_SPARK_SQL)


# ---------------------------------------------------------------------------
# Association rules (directional confidence) from brand baskets
# ---------------------------------------------------------------------------
# The Apriori OUTPUT surface: basket_brand_lift reports symmetric pair
# lift; rules are DIRECTIONAL — A→B carries confidence
# P(B-basket | A-basket) = co/nA, so each qualifying pair emits up to
# two rules with different confidences (same support and lift). A
# min-support prefilter prunes the pair space before any division —
# the Apriori downward-closure step — and the output is the top-40
# rules by confidence under a TOTAL order (confidence, antecedent,
# consequent). No absolute confidence floor: a fixed floor is
# scale-dependent (per-brand order counts grow with the corpus while
# basket sizes don't, so every confidence shrinks), and a top-k under
# a total order is the scale-invariant report.

_RULES_MIN_SUPPORT = 2
_RULES_TOP = 40

_ASSOC_RULES_SQL = f"""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
nb AS (SELECT brand, CAST(count(*) AS BIGINT) AS n FROM ob GROUP BY brand),
tot AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM ob),
co AS (
    SELECT a.brand AS ba, b.brand AS bb, CAST(count(*) AS BIGINT) AS n_co
    FROM ob a JOIN ob b ON a.o = b.o AND a.brand < b.brand
    GROUP BY a.brand, b.brand
    HAVING count(*) >= {_RULES_MIN_SUPPORT}
),
rules AS (
    SELECT ba AS antecedent, bb AS consequent, n_co FROM co
    UNION ALL
    SELECT bb, ba, n_co FROM co
)
SELECT r.antecedent, r.consequent, r.n_co AS support_orders,
       floor((CAST(r.n_co AS DOUBLE) / na.n) * 1e6 + 0.5) / 1e6
           AS confidence,
       floor((CAST(r.n_co AS DOUBLE) * t.n_orders / (na.n * nc.n))
             * 1e6 + 0.5) / 1e6 AS lift
FROM rules r
JOIN nb na ON na.brand = r.antecedent
JOIN nb nc ON nc.brand = r.consequent
CROSS JOIN tot t
ORDER BY confidence DESC, antecedent, consequent
LIMIT {_RULES_TOP}
"""


@register("orders_association_rules", oracle=_ASSOC_RULES_SQL)
def orders_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional brand association rules: support-pruned co-order
    pairs fanned into A→B / B→A with confidence and lift, top-40
    under a total order (no scale-dependent confidence floor).

    Scale: the basket self-join is bounded by basket size; the
    min-support HAVING prunes before the rule fan-out; brand margins
    (nb) are vocabulary-sized joins.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_ASSOC_RULES_SQL)


# ---------------------------------------------------------------------------
# Order→ship latency percentiles (fulfillment SLA distribution)
# ---------------------------------------------------------------------------
# The supply-chain twin of events_funnel_timing: integer latency days
# (microsecond difference, integer floor-division — no float time
# math) per order priority, summarized with the proven cross-engine
# percentile interpolation pairing (Spark percentile / DuckDB
# quantile_cont, e-notation fractions to pin DOUBLE). One orderkey
# fact join, unhinted per the broadcast policy; the percentile
# aggregation runs per priority over integer day values.


def _ship_latency_sql(q: str, usdiff: str) -> str:
    return f"""
WITH lat AS (
    SELECT o.o_orderpriority AS priority,
           CAST(floor(({usdiff}) / 86400000000) AS BIGINT) AS lat_days
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(min(lat_days) AS BIGINT) AS min_days,
       floor({q}(lat_days, 5e-1) * 1e6 + 0.5) / 1e6 AS p50_days,
       floor({q}(lat_days, 9e-1) * 1e6 + 0.5) / 1e6 AS p90_days,
       CAST(max(lat_days) AS BIGINT) AS max_days
FROM lat GROUP BY priority
"""


@register(
    "orders_ship_latency_percentiles",
    oracle=_ship_latency_sql(
        "quantile_cont", "date_diff('microsecond', o.o_orderdate, l.l_shipdate)"
    ),
)
def orders_ship_latency_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship latency (integer days) min/p50/p90/max per order
    priority — the fulfillment SLA distribution."""
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        _ship_latency_sql(
            "percentile",
            "timestampdiff(MICROSECOND, o.o_orderdate, l.l_shipdate)",
        )
    )


# ---------------------------------------------------------------------------
# Laspeyres price index (base-weighted inflation series)
# ---------------------------------------------------------------------------
# The BI/economics staple: price level of month m relative to the BASE
# month, weighting every part's unit price by its BASE-month quantity
# — index_m = Σ p_m(i)·q_0(i) / Σ p_0(i)·q_0(i) over parts priced in
# both months. Unit prices are ratios of exact cent/quantity sums
# (deterministic doubles); the cross-part Σ of p·q terms is the
# order-dependent float sum the exact-sum discipline exists for, so
# each term snaps to the 1e4 grid and accumulates as DECIMAL
# (sql_exact_sum). Shuffles: one (month, part) aggregation, one join
# to the base-month relation on partkey, one month rollup.

_LASP_MP_SQL = """
SELECT substr(CAST(l_shipdate AS STRING), 1, 7) AS month,
       l_partkey,
       CAST(sum(CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT))
            AS BIGINT) AS cents,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM lineitem
GROUP BY substr(CAST(l_shipdate AS STRING), 1, 7), l_partkey
"""

# mp is referenced three times (base slice, join, base-month scalar
# subquery); Spark inlines CTEs, so the catalog fn materializes it once
# (localCheckpoint) — the DuckDB oracle keeps the single WITH chain.
_LASP_TAIL = f"""
base AS (
    SELECT l_partkey,
           CAST(cents AS DOUBLE) / (qty * 1e2) AS p0,
           qty AS q0
    FROM {{mp}} WHERE month = (SELECT min(month) FROM {{mp}})
),
joined AS (
    SELECT mp.month,
           CAST(mp.cents AS DOUBLE) / (mp.qty * 1e2) AS pm,
           b.p0, b.q0
    FROM {{mp}} mp JOIN base b ON b.l_partkey = mp.l_partkey
)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_common_parts,
       floor(({sql_exact_sum("pm * q0", 4)})
             / ({sql_exact_sum("p0 * q0", 4)}) * 1e6 + 0.5) / 1e6
           AS laspeyres_index
FROM joined
GROUP BY month
"""

_LASP_SQL = ("WITH mp AS (" + _LASP_MP_SQL + "),"
             + _LASP_TAIL.format(mp="mp").lstrip())


@register("lineitem_price_index_laspeyres", oracle=_LASP_SQL)
def lineitem_price_index_laspeyres(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly Laspeyres price index vs the first shipping month:
    base-quantity-weighted unit prices over the parts common to both
    months, with order-independent exact sums for the Σ p·q terms."""
    register_views(spark, sf_dir, "lineitem")
    materialize(spark.sql(_LASP_MP_SQL), "lasp_mp")
    return spark.sql("WITH " + _LASP_TAIL.format(mp="lasp_mp").lstrip())


# ---------------------------------------------------------------------------
# MERGE / upsert semantics (copy-on-write)
# ---------------------------------------------------------------------------
# Spark has no MERGE INTO without a table format that supports it, but
# MERGE is a fixed relational algebra: target ANTI-JOIN change-keys,
# UNION ALL the upsert payloads (deletes simply never come back). The
# change batch here is deterministic and exercises all three ops —
# INSERTs (post-cutoff orders, unseen keys), UPDATEs (urgent target
# orders flip status F and get a 1e1 surcharge), DELETEs (low-priority
# open target orders). One key-shuffle anti join + union; the change
# side is a fraction of the target, so AQE broadcasts it while small
# and shuffle-joins at scale (no hint — it grows with the corpus).
# Output is the post-merge (status, priority) rollup with exact-sum
# totals, so the hash pins the full merge result, not just counts.

_MERGE_CUTOFF = "DATE '1997-01-01'"

_MERGE_SQL = f"""
WITH target AS (
    SELECT o_orderkey AS k, o_orderstatus AS st,
           o_orderpriority AS pr, o_totalprice AS tp
    FROM orders WHERE o_orderdate < {_MERGE_CUTOFF}
),
changes AS (
    SELECT o_orderkey AS k, 'upsert' AS op, o_orderstatus AS st,
           o_orderpriority AS pr, o_totalprice AS tp
    FROM orders WHERE o_orderdate >= {_MERGE_CUTOFF}
    UNION ALL
    SELECT k, 'upsert', 'F', pr, tp + 1e1
    FROM target WHERE pr = '1-URGENT'
    UNION ALL
    SELECT k, 'delete', st, pr, tp
    FROM target WHERE pr = '5-LOW' AND st = 'O'
),
merged AS (
    SELECT t.k, t.st, t.pr, t.tp
    FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.k = t.k)
    UNION ALL
    SELECT k, st, pr, tp FROM changes WHERE op = 'upsert'
)
SELECT st AS o_orderstatus, pr AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {{total}} AS total_price,
       CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
FROM merged
GROUP BY st, pr
ORDER BY o_orderstatus, o_orderpriority
"""


@register(
    "warehouse_merge_upsert",
    oracle=_MERGE_SQL.format(total=sql_exact_sum("tp", 2)),
)
def warehouse_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (insert/update/delete) applied copy-on-write, rolled up."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_MERGE_SQL.format(total=sql_exact_sum("tp", 2)))


# ---------------------------------------------------------------------------
# Nelson–Aalen cumulative hazard (the KM estimator's dual)
# ---------------------------------------------------------------------------
# Same censored inter-purchase data, the other canonical estimator:
# H(t) = sum_{t_i <= t} d_i / n_i accumulates instantaneous repurchase
# hazard, and exp(-H) is the Fleming–Harrington survival variant —
# numerically better than KM in small risk sets and the quantity
# hazard-ratio models are built on. Shares the _risk_head relations
# (gap observations -> duration histogram -> at-risk counts), so both
# estimators read the same bounded histogram.
#
# Float discipline: each d/n term is one double division of exact
# integers; the cumulative sum runs under an ORDERED window (sequential
# accumulation in duration order — the same order on both engines, so
# the running doubles are bit-identical); outputs snap to 1e-6.
#
# Scale: identical to the KM query — two window passes over the
# per-customer relation, then everything on the duration histogram
# (bounded by the gap-day domain, allowlisted global window).


def _na_sql(days_diff: str) -> str:
    return f"""{_risk_head(days_diff)},
na AS (
    SELECT dur, d_t, n_risk,
           sum(CAST(d_t AS DOUBLE) / n_risk)
               OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS h
    FROM at_risk
    WHERE d_t > 0
)
SELECT CAST(dur AS BIGINT) AS gap_days,
       CAST(d_t AS BIGINT) AS n_repurchases,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       floor((h) * 1e6 + 0.5) / 1e6 AS cum_hazard,
       floor((exp(-h)) * 1e6 + 0.5) / 1e6 AS fh_survival
FROM na
ORDER BY gap_days
"""


@register(
    "orders_nelson_aalen_hazard",
    oracle=_na_sql("date_diff('day', {a}, {b})"),
)
def orders_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard of customer inter-purchase gaps
    (censored tails handled as in the KM twin) with the
    Fleming–Harrington survival exp(-H)."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_na_sql("datediff({b}, {a})"))


# ---------------------------------------------------------------------------
# Theil / Atkinson revenue-inequality indices
# ---------------------------------------------------------------------------
# The decomposable inequality measures (Theil T; Atkinson epsilon=1)
# over per-customer revenue — what a marketplace-health dashboard
# reports next to the Lorenz/Gini query (orders_pareto_concentration),
# and the only common indices that split exactly into within-group +
# between-group terms for drill-down.
#
# Float discipline: per-customer revenue is an exact_sum on the cent
# grid; each ln-term (x/mu·ln(x/mu), ln x) snaps to 1e-6 the moment it
# is computed (libm ulp drift), then accumulates via sql_exact_sum;
# final indices are single snapped expressions.
#
# Scale: one shuffle to per-customer revenue, one global 1-row
# aggregation over it, a scalar cross join. Nothing else.

_THEIL_SQL = f"""
WITH per AS (
    SELECT o_custkey, {sql_exact_sum("o_totalprice", 2)} AS rev
    FROM orders GROUP BY o_custkey
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           {sql_exact_sum("rev", 2)} AS s
    FROM per
),
terms AS (
    SELECT
        {sql_exact_sum(
            "floor(((per.rev / (t.s / t.n))"
            " * ln(per.rev / (t.s / t.n))) * 1e6 + 0.5) / 1e6", 6)}
            AS t_sum,
        {sql_exact_sum("floor((ln(per.rev)) * 1e6 + 0.5) / 1e6", 6)}
            AS lnsum
    FROM per CROSS JOIN tot t
)
SELECT t.n AS n_customers,
       {sql_stable_round("t.s / t.n", 2)} AS mean_rev,
       {sql_stable_round("terms.t_sum / t.n", 6)} AS theil_t,
       {sql_stable_round(
           "1e0 - exp(terms.lnsum / t.n) / (t.s / t.n)", 6)} AS atkinson_1
FROM terms CROSS JOIN tot t
"""


@register("orders_theil_atkinson_inequality", oracle=_THEIL_SQL)
def orders_theil_atkinson_inequality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil T and Atkinson(1) inequality of per-customer revenue — the
    decomposable complements to the Lorenz/Gini concentration query."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_THEIL_SQL)


# ---------------------------------------------------------------------------
# Customer spend-tercile migration matrix (first half vs second half)
# ---------------------------------------------------------------------------
# The lifecycle-movement view every retention team maintains on top of
# a static RFM snapshot (rfm_customer_segments): segment customers by
# spend tercile in each HALF of the time range and count every
# (before, after) transition, including births (no first-half orders,
# tercile 0) and churns (no second-half orders). Diagonal mass =
# stability; below-diagonal = decay.
#
# Terciles come from TWO snapped percentile cutoffs per half computed
# in one aggregation and broadcast-compared — the same
# quantile-cutoff discipline as rfm_customer_segments, deliberately
# NOT a per-customer CDF window (the distinct-spend relation grows
# with the customer dimension, so a cumulative window over it is a
# single-partition sort at scale). Spend is an exact_sum on the cent
# grid and cutoffs snap to the 1e-6 grid before comparison (the
# float-threshold invariant), so segmentation is deterministic
# cross-engine. The midpoint split is data-derived (min/max order
# dates), scale-invariant.
#
# Scale: two per-customer aggregations (one shuffle each), two
# 2-scalar cutoff aggregates broadcast back, one full-outer join on
# custkey, one 16-cell rollup. No windows.


def _rfm_mig_sql(q: str, idiv) -> str:
    d = idiv
    half = """
SELECT o_custkey, {es} AS spend
FROM orders CROSS JOIN mid
WHERE {cond}
GROUP BY o_custkey
"""
    es = sql_exact_sum("o_totalprice", 2)

    def cuts(rel: str) -> str:
        c1 = sql_stable_round(f"{q}(spend, CAST(1 AS DOUBLE) / 3)", 6)
        c2 = sql_stable_round(f"{q}(spend, CAST(2 AS DOUBLE) / 3)", 6)
        return f"SELECT {c1} AS cut1, {c2} AS cut2 FROM {rel}"

    def seg(rel: str, cutrel: str) -> str:
        return f"""
SELECT r.o_custkey,
       CASE WHEN r.spend <= c.cut1 THEN 1
            WHEN r.spend <= c.cut2 THEN 2
            ELSE 3 END AS seg
FROM {rel} r CROSS JOIN {cutrel} c
"""

    return f"""
WITH mid AS (
    SELECT CAST(min(o_orderdate) AS DATE)
           + CAST(floor({d("CAST(CAST(max(o_orderdate) AS DATE)"
                           " - CAST(min(o_orderdate) AS DATE) AS BIGINT)",
                           "2")}) AS INT) AS cut
    FROM orders
),
h1 AS ({half.format(es=es, cond="CAST(o_orderdate AS DATE) < mid.cut")}),
h2 AS ({half.format(es=es, cond="CAST(o_orderdate AS DATE) >= mid.cut")}),
c1 AS ({cuts("h1")}),
c2 AS ({cuts("h2")}),
s1 AS ({seg("h1", "c1")}),
s2 AS ({seg("h2", "c2")}),
mig AS (
    SELECT coalesce(s1.seg, 0) AS seg_before,
           coalesce(s2.seg, 0) AS seg_after,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM s1 FULL OUTER JOIN s2 ON s1.o_custkey = s2.o_custkey
    GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_customers) AS BIGINT) AS n FROM mig)
SELECT m.seg_before, m.seg_after, m.n_customers,
       {sql_stable_round("CAST(m.n_customers AS DOUBLE) / t.n", 6)}
           AS share
FROM mig m CROSS JOIN tot t
ORDER BY seg_before, seg_after
"""


@register(
    "orders_rfm_migration_matrix",
    oracle=_rfm_mig_sql("quantile_cont", lambda a, b: f"({a}) // ({b})"),
)
def orders_rfm_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-tercile migration matrix between the first and second half
    of the order history (0 = inactive in that half): transition counts
    and shares."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        _rfm_mig_sql(
            "percentile", lambda a, b: f"CAST(({a}) DIV ({b}) AS BIGINT)"
        )
    )


# ---------------------------------------------------------------------------
# Log-rank test: inter-purchase survival, high- vs low-balance cohorts
# ---------------------------------------------------------------------------
# The two-sample complement of the KM/Nelson-Aalen estimators above:
# does repurchase timing differ between acctbal >= 4500 and < 4500
# customers? O-E and variance accumulate over the BOUNDED duration
# histogram (per-group risk sets via a grp-partitioned cumulative
# window over the combined duration grid); per-duration E/V terms snap
# to 1e-6 and exact-sum. chi2(1) converts to p through z = sqrt(chi2)
# and the shared normal polynomial.


from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_normal_two_sided_p,
)


def _logrank_sql(days_diff: str) -> str:
    return f"""
WITH per AS (
    SELECT o.o_custkey,
           CASE WHEN c.c_acctbal >= 4500 THEN 'high' ELSE 'low' END AS grp,
           CAST(o.o_orderdate AS DATE) AS d
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
seq AS (
    SELECT o_custkey, grp, d,
           lag(d) OVER (PARTITION BY o_custkey ORDER BY d) AS prev_d
    FROM per
),
horizon AS (SELECT max(d) AS maxd FROM per),
obs AS (
    SELECT grp, CAST({days_diff.format(a="prev_d", b="d")} AS BIGINT)
               AS dur, 1 AS ev
    FROM seq WHERE prev_d IS NOT NULL
    UNION ALL
    SELECT grp, CAST({days_diff.format(a="last_d", b="maxd")} AS BIGINT)
               AS dur, 0 AS ev
    FROM (SELECT o_custkey, grp, max(d) AS last_d FROM per
          GROUP BY o_custkey, grp)
    CROSS JOIN horizon
),
hist AS (
    SELECT grp, dur,
           CAST(sum(ev) AS BIGINT) AS d_t,
           CAST(count(*) AS BIGINT) AS c_t
    FROM obs GROUP BY grp, dur
),
grid AS (SELECT DISTINCT dur FROM hist),
grps AS (SELECT grp, CAST(sum(c_t) AS BIGINT) AS n_tot
         FROM hist GROUP BY grp),
cells AS (
    SELECT g.dur, p.grp, p.n_tot,
           coalesce(h.d_t, 0) AS d_t, coalesce(h.c_t, 0) AS c_t
    FROM grid g CROSS JOIN grps p
    LEFT JOIN hist h ON h.grp = p.grp AND h.dur = g.dur
),
risk AS (
    SELECT dur, grp, d_t,
           n_tot - CAST(coalesce(sum(c_t) OVER (PARTITION BY grp
                        ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
    FROM cells
),
wide AS (
    SELECT dur,
           max(CASE WHEN grp = 'high' THEN d_t END) AS d1,
           max(CASE WHEN grp = 'high' THEN n_risk END) AS n1,
           max(CASE WHEN grp = 'low' THEN d_t END) AS d0,
           max(CASE WHEN grp = 'low' THEN n_risk END) AS n0
    FROM risk GROUP BY dur
),
terms AS (
    SELECT dur, d1,
           floor((CAST(n1 AS DOUBLE) * (d1 + d0) / (n1 + n0))
                 * 1e6 + 0.5) / 1e6 AS e1,
           CASE WHEN n1 + n0 > 1 THEN
               floor((CAST(d1 + d0 AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) / (n1 + n0))
                      * (CAST(n0 AS DOUBLE) / (n1 + n0))
                      * (n1 + n0 - d1 - d0) / (n1 + n0 - 1))
                     * 1e6 + 0.5) / 1e6
           ELSE 0e0 END AS v
    FROM wide WHERE d1 + d0 > 0 AND n1 > 0 AND n0 > 0
),
agg AS (
    SELECT CAST(sum(d1) AS BIGINT) AS o1,
           CAST(sum(CAST(floor(e1 * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e6 AS e1,
           CAST(sum(CAST(floor(v * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e6 AS v
    FROM terms
),
stat AS (
    SELECT o1, floor(e1 * 1e6 + 0.5) / 1e6 AS e1,
           floor((CAST(o1 - e1 AS DOUBLE) * (o1 - e1) / v)
                 * 1e6 + 0.5) / 1e6 AS chi2
    FROM agg
),
zed AS (SELECT *, floor(sqrt(chi2) * 1e6 + 0.5) / 1e6 AS z FROM stat)
SELECT o1 AS observed_high, e1 AS expected_high, chi2, z,
       floor(({sql_normal_two_sided_p("z")}) * 1e6 + 0.5) / 1e6 AS p_value
FROM zed
"""


@register(
    "orders_logrank_survival_test",
    oracle=_logrank_sql("date_diff('day', {a}, {b})"),
)
def orders_logrank_survival_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test of inter-purchase survival between high- and
    low-balance customer cohorts: observed/expected repurchases in the
    high cohort, chi2(1), z and two-sided p.

    Scale: the corpus passes are the per-customer gap window and one
    histogram group-by; all O-E accumulation runs on the bounded
    duration-grid relation with grp-partitioned cumulative windows.
    """
    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(_logrank_sql("datediff({b}, {a})"))


# ---------------------------------------------------------------------------
# Newsvendor stocking level (critical fractile off the demand CDF)
# ---------------------------------------------------------------------------
# The inventory-ops classic the percentile battery builds toward: with
# underage cost 4x overage (an 0.8 critical fractile), the optimal
# stocking level is the smallest daily-demand level whose CDF reaches
# 0.8 — not the mean (the newsvendor's whole point is that means
# under-stock whenever shortage costs dominate). Demand = per-brand
# daily quantity; the fractile reads off the per-brand DISTINCT-demand
# histogram with the INTEGER cross-compare 5*cum >= 4*n_days (no float
# can flip the boundary), and because the CDF is monotone, the
# achieved service level at the pick is min(cum) over qualifying rows.
#
# Scale: one lineitem-part join reduced to the (brand, day) grid; the
# CDF windows are partitioned per brand over the calendar-bounded
# relation. Output: one row per brand, totally ordered.

_NEWSVENDOR_SQL = """
WITH daily AS (
    SELECT p.p_brand AS brand, l.l_shipdate AS d,
           CAST(sum(l.l_quantity) AS BIGINT) AS q
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand, l.l_shipdate
),
hist AS (
    SELECT brand, q, CAST(count(*) AS BIGINT) AS c
    FROM daily GROUP BY brand, q
),
cdf AS (
    SELECT brand, q, c,
           CAST(sum(c) OVER (PARTITION BY brand ORDER BY q
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
    FROM hist
),
tot AS (
    SELECT brand, CAST(count(*) AS BIGINT) AS nd,
           CAST(sum(q) AS BIGINT) AS qtot
    FROM daily GROUP BY brand
),
pick AS (
    SELECT c.brand,
           CAST(min(c.q) AS BIGINT) AS stock_p80,
           CAST(min(c.cum) AS BIGINT) AS cum_at_pick
    FROM cdf c JOIN tot t ON t.brand = c.brand
    WHERE 5 * c.cum >= 4 * t.nd
    GROUP BY c.brand
)
SELECT t.brand, t.nd AS n_days,
       floor((CAST(t.qtot AS DOUBLE) / t.nd) * 1e4 + 0.5) / 1e4
           AS mean_daily_demand,
       p.stock_p80,
       floor((CAST(p.cum_at_pick AS DOUBLE) / t.nd) * 1e6 + 0.5) / 1e6
           AS service_level
FROM tot t JOIN pick p ON p.brand = t.brand
ORDER BY t.brand
"""


@register("lineitem_newsvendor_stock", oracle=_NEWSVENDOR_SQL)
def lineitem_newsvendor_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand newsvendor stocking level at the 0.8 critical
    fractile, read off the distinct-demand CDF with integer
    cross-compares, next to the (under-stocking) mean."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_NEWSVENDOR_SQL)


# ---------------------------------------------------------------------------
# EOQ + reorder point (the newsvendor's steady-state companions)
# ---------------------------------------------------------------------------
# lineitem_newsvendor_stock answers "how much for one period";
# replenishment planning needs the steady-state pair: the economic
# order quantity EOQ = sqrt(2*D*S/H) (annual demand D, fixed order
# cost S = 100, holding cost H = 2 per unit-year) and the reorder
# point ROP = mu_daily*L + z*sigma_daily*sqrt(L) for a 7-day lead time
# at 95 % service (z = 1.645) — when stock hits ROP, order EOQ.
#
# mu/sigma of daily demand come from exact integer moments of the
# (brand, day) grid (the CUSUM/PH discipline); EOQ, ROP, and the
# orders-per-year cadence are single float expressions over them,
# snapped. Same one-join-one-grid scale shape as the newsvendor query.

_EOQ_SQL = """
WITH daily AS (
    SELECT p.p_brand AS brand, l.l_shipdate AS d,
           CAST(sum(l.l_quantity) AS BIGINT) AS q
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand, l.l_shipdate
),
mom AS (
    SELECT brand,
           CAST(count(*) AS BIGINT) AS nd,
           CAST(sum(q) AS BIGINT) AS s1,
           CAST(sum(q * q) AS BIGINT) AS s2
    FROM daily GROUP BY brand
)
SELECT brand, nd AS n_days,
       floor((CAST(s1 AS DOUBLE) / nd) * 1e4 + 0.5) / 1e4
           AS mean_daily_demand,
       floor(sqrt(greatest(0e0,
                 (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd)
                 / greatest(nd - 1, 1))) * 1e4 + 0.5) / 1e4
           AS sd_daily_demand,
       floor(sqrt(2e0 * (CAST(s1 AS DOUBLE) / nd * 365) * 100 / 2e0)
             * 1e4 + 0.5) / 1e4 AS eoq_units,
       floor(((CAST(s1 AS DOUBLE) / nd) * 7
              + 1645e-3 * sqrt(greatest(0e0,
                    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd)
                    / greatest(nd - 1, 1))) * sqrt(7e0))
             * 1e4 + 0.5) / 1e4 AS reorder_point,
       floor(((CAST(s1 AS DOUBLE) / nd * 365)
              / sqrt(2e0 * (CAST(s1 AS DOUBLE) / nd * 365) * 100 / 2e0))
             * 1e4 + 0.5) / 1e4 AS orders_per_year
FROM mom
ORDER BY brand
"""


@register("lineitem_eoq_reorder_point", oracle=_EOQ_SQL)
def lineitem_eoq_reorder_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand EOQ, 95 %-service reorder point (7-day lead time), and
    order cadence from exact daily-demand moments — the steady-state
    replenishment pair next to the newsvendor fractile."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_EOQ_SQL)


# ---------------------------------------------------------------------------
# ABC-XYZ inventory segmentation matrix
# ---------------------------------------------------------------------------
# The planner's two-axis view the ABC list alone misses: revenue class
# (A/B/C by cumulative share — lineitem_abc_classification's axis) x
# demand PREDICTABILITY class (X/Y/Z by the coefficient of variation of
# daily demand). An AZ item (high revenue, erratic demand) gets safety
# stock and human review; a CX item gets min-touch automation — the
# matrix IS the replenishment-policy routing table.
#
# Class boundaries are exact integer cross-compares: the ABC cut
# 10*cum <= {7,9}*total on revenue cents, and the XYZ cut CV <= {0.5, 1}
# squared into nd*(nd*s2 - s1^2)*{4,1} <= (nd-1)*s1^2 over DECIMAL(38,0)
# products — no float can flip a class at the boundary. Scale: the same
# one-join daily grid as the newsvendor/EOQ queries; the cumulative
# revenue window runs over the bounded brand relation.

_ABC_XYZ_SQL = """
WITH daily AS (
    SELECT p.p_brand AS brand, l.l_shipdate AS d,
           CAST(sum(l.l_quantity) AS BIGINT) AS q,
           CAST(sum(CAST(floor(l.l_extendedprice * 1e2 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand, l.l_shipdate
),
mom AS (
    SELECT brand,
           CAST(count(*) AS BIGINT) AS nd,
           CAST(sum(q) AS BIGINT) AS s1,
           CAST(sum(CAST(q AS DECIMAL(38,0)) * q) AS DECIMAL(38,0)) AS s2,
           CAST(sum(cents) AS BIGINT) AS rev
    FROM daily GROUP BY brand
),
ranked AS (
    SELECT brand, nd, s1, s2, rev,
           CAST(sum(rev) OVER (ORDER BY rev DESC, brand
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_rev,
           CAST(sum(rev) OVER () AS BIGINT) AS tot_rev
    FROM mom
),
classed AS (
    SELECT brand, nd, s1, s2, rev, cum_rev, tot_rev,
           CASE WHEN 10 * cum_rev <= 7 * tot_rev THEN 'A'
                WHEN 10 * cum_rev <= 9 * tot_rev THEN 'B'
                ELSE 'C' END AS abc_class,
           CASE WHEN 4 * CAST(nd AS DECIMAL(38,0))
                     * (CAST(nd AS DECIMAL(38,0)) * s2
                        - CAST(s1 AS DECIMAL(38,0)) * s1)
                     <= (nd - 1) * CAST(s1 AS DECIMAL(38,0)) * s1
                THEN 'X'
                WHEN CAST(nd AS DECIMAL(38,0))
                     * (CAST(nd AS DECIMAL(38,0)) * s2
                        - CAST(s1 AS DECIMAL(38,0)) * s1)
                     <= (nd - 1) * CAST(s1 AS DECIMAL(38,0)) * s1
                THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM ranked
)
SELECT brand,
       floor((CAST(rev AS DOUBLE) / tot_rev) * 1e6 + 0.5) / 1e6
           AS revenue_share,
       floor((CAST(cum_rev AS DOUBLE) / tot_rev) * 1e6 + 0.5) / 1e6
           AS cum_revenue_share,
       abc_class,
       floor(sqrt(greatest(0e0,
                 CAST(CAST(nd AS DECIMAL(38,0)) * s2
                      - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
                 / (CAST(nd AS DOUBLE) * greatest(nd - 1, 1))))
             / (CAST(s1 AS DOUBLE) / nd) * 1e6 + 0.5) / 1e6 AS demand_cv,
       xyz_class,
       concat(abc_class, xyz_class) AS matrix_cell
FROM classed
ORDER BY brand
"""


@register("lineitem_abc_xyz_matrix", oracle=_ABC_XYZ_SQL)
def lineitem_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (revenue) x XYZ (demand-CV) segmentation per brand with
    exact integer class boundaries — the replenishment-policy routing
    matrix on top of the newsvendor/EOQ pair."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_ABC_XYZ_SQL)


# ---------------------------------------------------------------------------
# Weibull fit of the inter-purchase gap distribution (median-rank
# regression)
# ---------------------------------------------------------------------------
# Kaplan-Meier (orders_interpurchase_survival) is non-parametric; the
# replenishment models upstream (newsvendor, EOQ) want a PARAMETRIC
# lifetime: Weibull shape k tells whether repurchase hazard rises
# (k>1, habituation) or falls (k<1, churn risk front-loaded) with
# time. Classic reliability-engineering fit: Bernard's median ranks
# F_i = (i-0.3)/(n+0.4) on the ORDERED gaps, then OLS on the
# linearized ln(-ln(1-F)) = k*ln(t) - k*ln(lambda).
#
# Scale/exactness: gaps histogram per distinct integer day value (the
# KM query's bounded-domain discipline — never per-row ranks); tied
# gaps take the mean order number of their block, kept exact as
# 2*mr = 2*cum_before + cnt + 1. The weighted OLS moments are
# per-distinct-value terms snapped to the 1e-6 grid and summed as
# exact scaled integers (order-independent), so both engines fit from
# identical sums.


def _weibull_sql(days_diff: str) -> str:
    from automated_data_pipeline_python_spark.functions.numeric import (
        sql_exact_sum,
    )

    x = "ln(CAST(h.v AS DOUBLE))"
    f = ("((CAST(2 * cb.cb + h.cnt + 1 AS DOUBLE) / 2e0 - 3e-1)"
         " / (CAST(t.n AS DOUBLE) + 4e-1))")
    y = f"ln(-ln(1e0 - {f}))"
    w = "CAST(h.cnt AS DOUBLE)"
    return f"""
WITH seq AS (
    SELECT o_custkey, o_orderdate,
           lag(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
               AS prev_date
    FROM orders
),
gaps AS (
    SELECT CAST({days_diff.format(a="prev_date", b="o_orderdate")}
                AS BIGINT) AS v
    FROM seq WHERE prev_date IS NOT NULL
),
hist AS (
    SELECT v, CAST(count(*) AS BIGINT) AS cnt
    FROM gaps WHERE v >= 1 GROUP BY v
),
tot AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS nv
    FROM hist
),
cums AS (
    SELECT h.v, h.cnt,
           CAST(coalesce(sum(u.cnt), 0) AS BIGINT) AS cb
    FROM hist h LEFT JOIN hist u ON u.v < h.v
    GROUP BY h.v, h.cnt
),
mom AS (
    SELECT t.n, t.nv,
           {sql_exact_sum(f"{w} * ({x})", 6)} AS sx,
           {sql_exact_sum(f"{w} * ({y})", 6)} AS sy,
           {sql_exact_sum(f"{w} * ({x}) * ({x})", 6)} AS sxx,
           {sql_exact_sum(f"{w} * ({y}) * ({y})", 6)} AS syy,
           {sql_exact_sum(f"{w} * ({x}) * ({y})", 6)} AS sxy
    FROM hist h
    JOIN (SELECT v, cb FROM cums) cb ON cb.v = h.v
    CROSS JOIN tot t
    GROUP BY t.n, t.nv
),
fit AS (
    SELECT n, nv,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
           sx, sy, sxx, syy, sxy
    FROM mom
)
SELECT n AS n_gaps, nv AS n_distinct_gaps,
       floor(slope * 1e6 + 0.5) / 1e6 AS weibull_shape,
       floor(exp(-((sy - slope * sx) / n) / slope) * 1e6 + 0.5) / 1e6
           AS weibull_scale,
       floor(((CAST(n AS DOUBLE) * sxy - sx * sy)
              * (CAST(n AS DOUBLE) * sxy - sx * sy))
             / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                * (CAST(n AS DOUBLE) * syy - sy * sy))
             * 1e6 + 0.5) / 1e6 AS fit_r2,
       floor(exp(-((sy - slope * sx) / n) / slope
                 + ln(ln(2e0)) / slope) * 1e6 + 0.5) / 1e6
           AS implied_median_days
FROM fit
"""


@register(
    "orders_weibull_interpurchase",
    oracle=_weibull_sql("date_diff('day', {a}, {b})"),
)
def orders_weibull_interpurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape/scale of inter-purchase gaps by median-rank
    regression (Bernard's approximation, tied blocks at their mean
    order number), with fit R-squared and the implied median gap."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_weibull_sql("datediff({b}, {a})"))


# ---------------------------------------------------------------------------
# Bass diffusion fit of customer adoption (discrete-form OLS)
# ---------------------------------------------------------------------------
# The growth-forecasting classic: new adopters per period n_t = p*M +
# (q - p)*N_{t-1} - (q/M)*N_{t-1}^2 (Bass 1969), where N is cumulative
# adopters. "Adoption" = a customer's FIRST order day. The discrete
# form is a two-regressor OLS (x1 = N_{t-1}, x2 = N_{t-1}^2) solved
# exactly by Cramer's rule — the lineitem_ols_two_factor discipline —
# then inverted: M from the quadratic c*M^2 + b*M + a = 0, innovation
# p = a/M, imitation q = -c*M, and the implied adoption peak at
# t* = ln(q/p)/(p+q).
#
# Exactness: daily new-adopter counts are exact integers; cumulative
# N_{t-1} comes from a bounded triangular day join (no corpus
# window); every normal-equation product promotes one factor to
# DECIMAL(38,0) BEFORE multiplying (x2 = N_prev² is itself built as a
# DECIMAL product), so no BIGINT intermediate ever wraps — the moments
# are exact for cumulative adopters up to ~3×10⁹ (N⁴ ≤ 10³⁸); Cramer
# and the quadratic are single float expressions snapped at output.
# One corpus pass (first order per customer), then calendar-bounded
# algebra.


def _bass_sql() -> str:
    mom = {
        "s1": "x1", "s2": "x2", "sy": "y",
        "s11": "CAST(x1 AS DECIMAL(38,0)) * x1",
        "s12": "CAST(x1 AS DECIMAL(38,0)) * x2",
        "s22": "CAST(x2 AS DECIMAL(38,0)) * x2",
        "s1y": "CAST(x1 AS DECIMAL(38,0)) * y",
        "s2y": "CAST(x2 AS DECIMAL(38,0)) * y",
        "syy": "CAST(y AS DECIMAL(38,0)) * y",
    }
    moments = ",\n           ".join(
        f"CAST(sum(CAST({expr} AS DECIMAL(38,0))) AS DOUBLE) AS {name}"
        for name, expr in mom.items()
    )
    return f"""
WITH firsts AS (
    SELECT min(o_orderdate) AS fd FROM orders GROUP BY o_custkey
),
daily AS (
    SELECT CAST(fd AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM firsts GROUP BY CAST(fd AS DATE)
),
cum AS (
    SELECT a.d, a.n,
           CAST(coalesce(sum(b.n), 0) AS BIGINT) AS n_prev
    FROM daily a LEFT JOIN daily b ON b.d < a.d
    GROUP BY a.d, a.n
),
pts AS (
    SELECT n AS y, n_prev AS x1,
           CAST(n_prev AS DECIMAL(38,0)) * n_prev AS x2
    FROM cum
),
m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(count(*) AS BIGINT) AS n_days,
           {moments}
    FROM pts
),
sol AS (
    SELECT n_days, n, sy, s1y, s2y, syy, s1,
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
),
abc AS (
    SELECT n_days, n, sy, s1y, s2y, syy, s1,
           det0 / det AS ca, det1 / det AS cb, det2 / det AS cc,
           det, det0, det1, det2
    FROM sol
),
fit AS (
    -- M is real and meaningful only in the diffusion regime
    -- (negative curvature, non-negative discriminant); outside it
    -- the honest answer is NULL, not NaN
    SELECT n_days, ca, cb, cc,
           CASE WHEN cc < 0e0 AND cb * cb - 4e0 * cc * ca >= 0e0
                THEN (-cb - sqrt(cb * cb - 4e0 * cc * ca)) / (2e0 * cc)
           END AS mm,
           floor((1e0 - (syy - (det0 * sy + det1 * s1y + det2 * s2y) / det)
                        / (syy - sy * sy / n)) * 1e6 + 0.5) / 1e6 AS r2
    FROM abc
),
pq AS (
    SELECT n_days, ca, cb, cc, mm, r2,
           floor(ca / mm * 1e6 + 0.5) / 1e6 AS p6,
           floor(-cc * mm * 1e6 + 0.5) / 1e6 AS q6
    FROM fit
)
SELECT n_days,
       floor(ca * 1e6 + 0.5) / 1e6 AS beta_const,
       floor(cb * 1e6 + 0.5) / 1e6 AS beta_n,
       floor(cc * 1e9 + 0.5) / 1e9 AS beta_n2,
       floor(mm * 1e2 + 0.5) / 1e2 AS m_market_size,
       p6 AS p_innovation,
       q6 AS q_imitation,
       CASE WHEN p6 > 0e0 AND q6 > 0e0
            THEN floor(ln(q6 / p6) / (p6 + q6) * 1e4 + 0.5) / 1e4
       END AS peak_time_days,
       CAST(CASE WHEN q6 IS NOT NULL AND p6 IS NOT NULL
                  AND q6 > p6 AND p6 > 0e0
                 THEN 1 ELSE 0 END AS BIGINT) AS diffusion_regime,
       r2
FROM pq
"""


@register("orders_bass_diffusion", oracle=_bass_sql())
def orders_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model of customer first-order adoption: exact
    discrete-form two-regressor OLS (Cramer), market size M from the
    implied quadratic, innovation/imitation rates, and the implied
    adoption peak."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_bass_sql())


# ---------------------------------------------------------------------------
# Price elasticity of demand (log-log OLS per brand)
# ---------------------------------------------------------------------------
# The retail-analytics classic the revenue queries stop short of:
# HOW responsive is ordered quantity to unit price? Per brand, OLS of
# ln(quantity) on ln(unit price) — the slope IS the elasticity — with
# the |e| > 1 elastic/inelastic classification read off the snapped
# estimate. Cross-sectional identification (price variation across
# line items of the same brand), the form every pricing team fits
# first.
#
# Shape: one corpus pass computes per-row (ln p, ln q) terms snapped
# to the 1e-6 grid and accumulated as exact scaled integers per brand
# (order-independent, the sql_exact_sum discipline), so both engines
# fit from identical moments; the OLS algebra runs on the bounded
# brand relation.

def _elasticity_sql() -> str:
    from automated_data_pipeline_python_spark.functions.numeric import (
        sql_exact_sum,
        sql_stable_round,
    )

    lp = "ln(l_extendedprice / l_quantity)"
    lq = "ln(l_quantity)"
    return f"""
WITH mom AS (
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n,
           {sql_exact_sum(lp, 6)} AS sx,
           {sql_exact_sum(lq, 6)} AS sy,
           {sql_exact_sum(f"({lp}) * ({lp})", 6)} AS sxx,
           {sql_exact_sum(f"({lq}) * ({lq})", 6)} AS syy,
           {sql_exact_sum(f"({lp}) * ({lq})", 6)} AS sxy
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    GROUP BY p.p_brand
),
fit AS (
    SELECT brand, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
               * (CAST(n AS DOUBLE) * sxy - sx * sy)
               / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                  * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
    FROM mom WHERE n >= 3
),
out AS (
    SELECT brand, n AS n_lineitems,
           {sql_stable_round("slope", 6)} AS elasticity,
           {sql_stable_round("r2", 6)} AS fit_r2
    FROM fit
)
SELECT brand, n_lineitems, elasticity, fit_r2,
       CASE WHEN abs(elasticity) > 1e0 THEN 'elastic'
            ELSE 'inelastic' END AS demand_class
FROM out
ORDER BY brand
"""


@register("lineitem_price_elasticity", oracle=_elasticity_sql())
def lineitem_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: log-log OLS slope from
    snapped-term exact moments, with fit R-squared and the
    elastic/inelastic classification on the snapped estimate."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_elasticity_sql())


# ---------------------------------------------------------------------------
# Repeat-purchase depth curve (round 10)
# ---------------------------------------------------------------------------
# The retention ladder a growth review reads before any LTV model: for
# k = 1..10, how many customers placed at least k orders, what share
# of the base is that, and the conditional continuation rate
# P(>= k+1 | >= k) — the curve whose flatness justifies (or kills)
# the geometric-churn assumption in orders_cohort_ltv. One corpus
# pass to per-customer order counts, then a bounded 10-row spine scan
# of the count histogram; all shares are single float expressions
# over exact integers.


def _repeat_curve_sql(spine: str) -> str:
    return f"""
WITH per_cust AS (
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
),
chist AS (
    SELECT n_orders, CAST(count(*) AS BIGINT) AS c
    FROM per_cust GROUP BY n_orders
),
ks AS ({spine}),
depth AS (
    SELECT ks.k,
           CAST(sum(CASE WHEN h.n_orders >= ks.k THEN h.c ELSE 0 END)
                AS BIGINT) AS n_at_least
    FROM ks CROSS JOIN chist h
    GROUP BY ks.k
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_cust FROM chist)
SELECT d.k AS min_orders,
       d.n_at_least AS n_customers,
       floor(CAST(d.n_at_least AS DOUBLE) / t.n_cust * 1e6 + 0.5) / 1e6
           AS share_of_base,
       CASE WHEN nxt.n_at_least IS NOT NULL AND d.n_at_least > 0
            THEN floor(CAST(nxt.n_at_least AS DOUBLE) / d.n_at_least
                       * 1e6 + 0.5) / 1e6
       END AS continuation_rate
FROM depth d
LEFT JOIN depth nxt ON nxt.k = d.k + 1
CROSS JOIN tot t
ORDER BY min_orders
"""


@register(
    "orders_repeat_purchase_curve",
    oracle=_repeat_curve_sql(
        "SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS k"
    ),
)
def orders_repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase depth curve: customers with >= k orders
    (k = 1..10), share of the base, and the conditional continuation
    rate — the retention ladder under every LTV assumption."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_repeat_curve_sql(
        "SELECT CAST(kk AS BIGINT) AS k"
        " FROM (SELECT explode(sequence(1, 10)) AS kk)"
    ))
