"""Data-quality report over the star schema (reference README.md:152
"Data Quality" planned feature, built Spark-first — see quality.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark import quality as Q
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import load, register_views


@register(
    "dq_star_schema_report",
    oracle="""
    SELECT 'lineitem_discount_range' AS check_name,
           count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS violations
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_orderkey_ref_orders',
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    UNION ALL
    SELECT 'lineitem_quantity_positive',
           count(*) FILTER (WHERE l_quantity <= 0)
    FROM lineitem
    UNION ALL
    SELECT 'orders_custkey_ref_customer',
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
    UNION ALL
    SELECT 'orders_orderkey_not_null',
           count(*) FILTER (WHERE o_orderkey IS NULL)
    FROM orders
    UNION ALL
    SELECT 'orders_orderkey_unique',
           count(*) - count(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'orders_status_accepted',
           count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
    FROM orders
    UNION ALL
    SELECT 'orders_totalprice_range',
           count(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 450000)
    FROM orders
    ORDER BY check_name
    """,
)
def dq_star_schema_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for the star schema: 8 checks, 3 scans total.

    Row/set checks per table fuse into one aggregation pass each
    (orders: 5 checks in one scan; lineitem: 2 in one); referential
    checks are broadcast anti joins. The totalprice range is
    deliberately tight (≤ 450k) so the report proves non-zero
    violation counts flow through, not just zeros.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")

    orders_report = Q.violation_report(
        orders,
        [
            Q.not_null("orders_orderkey_not_null", "o_orderkey"),
            Q.unique("orders_orderkey_unique", "o_orderkey"),
            Q.accepted_values("orders_status_accepted", "o_orderstatus", ["O", "F", "P"]),
            Q.in_range("orders_totalprice_range", "o_totalprice", 0.0, 450000.0),
        ],
    )
    li_report = Q.violation_report(
        li,
        [
            Q.in_range("lineitem_discount_range", "l_discount", 0.0, 1.0),
            Q.Expectation("lineitem_quantity_positive", (li.l_quantity <= 0)),
        ],
    )
    refs = Q.referential_report(
        "lineitem_orderkey_ref_orders", li, "l_orderkey", orders, "o_orderkey"
    ).unionByName(
        Q.referential_report(
            "orders_custkey_ref_customer", orders, "o_custkey", cust, "c_custkey"
        )
    )
    return (
        orders_report.unionByName(li_report).unionByName(refs).orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# Column profiling: the dbt-docs / Deequ table profile in ONE scan
# ---------------------------------------------------------------------------
# Per column: non-null count, exact distinct count, numeric min/max.
# Everything is computed in a single aggregation pass over orders and
# then unpivoted to long form — the profile a catalog UI renders and a
# constraint-suggestion pass consumes. All metrics are integers or
# exact doubles (no arithmetic beyond min/max), so the profile
# hash-matches DuckDB without float discipline.
#
# Scale: one scan, one aggregate (count-distincts expand to per-column
# partial aggregates under the hood — still one pass over the data);
# output is columns-count rows.

_PROFILE_COLS = [
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_totalprice", True),
    ("o_orderstatus", False),
    ("o_orderpriority", False),
]


def _profile_sql(bigint) -> str:
    aggs = []
    for c, numeric in _PROFILE_COLS:
        aggs.append(f"{bigint(f'count({c})')} AS nn_{c}")
        aggs.append(f"{bigint(f'count(DISTINCT {c})')} AS nd_{c}")
        if numeric:
            aggs.append(f"CAST(min({c}) AS DOUBLE) AS mn_{c}")
            aggs.append(f"CAST(max({c}) AS DOUBLE) AS mx_{c}")
    rows = []
    for c, numeric in _PROFILE_COLS:
        mn = f"mn_{c}" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"mx_{c}" if numeric else "CAST(NULL AS DOUBLE)"
        rows.append(
            f"SELECT '{c}' AS col, nn_{c} AS n_nonnull, nd_{c} AS n_distinct,"
            f" {mn} AS min_d, {mx} AS max_d FROM wide"
        )
    return (
        "WITH wide AS (SELECT " + ", ".join(aggs) + " FROM orders)\n"
        + "\nUNION ALL\n".join(rows)
    )


def _profile_wide_sql(bigint) -> str:
    aggs = []
    for c, numeric in _PROFILE_COLS:
        aggs.append(f"{bigint(f'count({c})')} AS nn_{c}")
        aggs.append(f"{bigint(f'count(DISTINCT {c})')} AS nd_{c}")
        if numeric:
            aggs.append(f"CAST(min({c}) AS DOUBLE) AS mn_{c}")
            aggs.append(f"CAST(max({c}) AS DOUBLE) AS mx_{c}")
    return "SELECT " + ", ".join(aggs) + " FROM orders"


def _profile_unpivot_sql() -> str:
    rows = []
    for c, numeric in _PROFILE_COLS:
        mn = f"mn_{c}" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"mx_{c}" if numeric else "CAST(NULL AS DOUBLE)"
        rows.append(
            f"SELECT '{c}' AS col, nn_{c} AS n_nonnull, nd_{c} AS n_distinct,"
            f" {mn} AS min_d, {mx} AS max_d FROM profile_wide"
        )
    return "\nUNION ALL\n".join(rows)


@register(
    "profile_orders_columns",
    oracle=_profile_sql(lambda e: f"CAST({e} AS BIGINT)"),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profile of the orders table (long form).

    The one-row wide aggregate is materialized before the unpivot —
    Spark inlines CTEs, so the 5 UNION ALL branches would otherwise
    each re-run the whole aggregation scan (5 corpus passes for a
    5-column profile).
    """
    register_views(spark, sf_dir, "orders")
    materialize(spark.sql(_profile_wide_sql(lambda e: e)), "profile_wide")
    return spark.sql(_profile_unpivot_sql())


# ---------------------------------------------------------------------------
# Join-key skew diagnostics
# ---------------------------------------------------------------------------
# The report you run BEFORE a big join: per candidate key, row/key
# cardinalities, the hottest key's share, and the max/avg skew ratio —
# the inputs to the salt-or-not decision. One
# grouped count per key column (a single map-side-combined shuffle over
# the fact table); the moment stats and the top-10 rollup then read the
# key-cardinality-sized count relation. The top-10 share deliberately
# uses ORDER BY .. LIMIT 10 (TakeOrderedAndProject — distributed
# per-partition top-k + merge), NOT a global row_number window, which
# would move the entire 10^9-key count relation to one partition at
# scale. Counts are exact integers; the two ratios are the only floats,
# snapped to the 1e-6 grid.

from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_stable_round as _r,
)

_SKEW_COLS = [
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
]


def _skew_counts_sql(table: str, col: str) -> str:
    return f"SELECT {col} AS k, count(*) AS n FROM {table} GROUP BY {col}"


def _skew_branch_sql(table: str, col: str, counts: str) -> str:
    return f"""
SELECT '{table}.{col}' AS key_col,
       CAST(s.n_rows AS BIGINT) AS n_rows,
       CAST(s.n_keys AS BIGINT) AS n_keys,
       CAST(s.max_n AS BIGINT) AS max_rows_per_key,
       {_r("CAST(s.max_n AS DOUBLE)"
           " / (CAST(s.n_rows AS DOUBLE) / CAST(s.n_keys AS DOUBLE))", 6)}
           AS skew_ratio,
       {_r("CAST(t.top10 AS DOUBLE) / CAST(s.n_rows AS DOUBLE)", 6)}
           AS top10_share
FROM (
    SELECT sum(n) AS n_rows, count(*) AS n_keys, max(n) AS max_n
    FROM {counts}
) s
CROSS JOIN (
    SELECT sum(n) AS top10
    FROM (SELECT n FROM {counts} ORDER BY n DESC, k LIMIT 10) top
) t
"""


def _skew_oracle() -> str:
    # DuckDB materializes multi-referenced CTEs itself, so the oracle is
    # one statement with a counts CTE per key column.
    ctes = []
    branches = []
    for i, (table, col) in enumerate(_SKEW_COLS):
        ctes.append(f"c{i} AS ({_skew_counts_sql(table, col)})")
        branches.append(_skew_branch_sql(table, col, f"c{i}"))
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(branches)


@register("dq_key_skew_report", oracle=_skew_oracle())
def dq_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-join-key skew diagnostics (cardinality, hottest-key share,
    max/avg ratio) for the fact-table keys.

    Each key column's count relation feeds both the moment stats and
    the top-10 rollup; Spark inlines CTEs, so each is materialized once
    via localCheckpoint (one fact-table scan per key column, not two).
    """
    register_views(spark, sf_dir, "lineitem", "orders")
    branches = []
    for i, (table, col) in enumerate(_SKEW_COLS):
        view = f"skew_counts_{i}"
        materialize(spark.sql(_skew_counts_sql(table, col)), view)
        branches.append(_skew_branch_sql(table, col, view))
    return spark.sql("\nUNION ALL\n".join(branches))


# ---------------------------------------------------------------------------
# Benford first-digit conformance (fraud / generation-artifact screen)
# ---------------------------------------------------------------------------
# Naturally-occurring multi-magnitude amounts follow Benford's law
# (P(d) = log10(1 + 1/d)); synthetic or tampered columns don't. The
# check is one map-side digit extraction + a 9-group aggregate — scan
# shaped, holds at any corpus size. First digit derives arithmetically
# (floor(x / 10^floor(log10 x))) — never from the string rendering,
# which differs between engines. The expected-share log10 runs on the
# same 9 rationals in both engines; shares and the chi-square
# contribution snap to the 1e-6 grid. TPC-H-ish totalprice spans ~3
# decades, so it only loosely conforms — the report's deviation columns
# ARE the signal, not an assertion.

_BENFORD_BODY = """
WITH digits AS (
    SELECT CAST(floor(o_totalprice
                / power(10e0, floor(log10(o_totalprice)))) AS INT) AS digit
    FROM orders
    WHERE o_totalprice > 0e0
),
counts AS (
    SELECT digit, count(*) AS n FROM digits GROUP BY digit
),
tot AS (
    SELECT CAST(sum(n) AS DOUBLE) AS total FROM counts
)
SELECT c.digit,
       CAST(c.n AS BIGINT) AS n,
       floor((c.n / t.total) * 1e6 + 0.5) / 1e6 AS obs_share,
       floor((log10(1e0 + 1e0 / c.digit)) * 1e6 + 0.5) / 1e6 AS benford_share,
       floor((abs(c.n / t.total - log10(1e0 + 1e0 / c.digit)))
             * 1e6 + 0.5) / 1e6 AS abs_dev,
       floor((power(c.n - t.total * log10(1e0 + 1e0 / c.digit), 2e0)
              / (t.total * log10(1e0 + 1e0 / c.digit)))
             * 1e6 + 0.5) / 1e6 AS chi2_term
FROM counts c CROSS JOIN tot t
ORDER BY c.digit
"""


@register("dq_benford_first_digit", oracle=_BENFORD_BODY)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of o_totalprice vs Benford expectation."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_BENFORD_BODY)


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit
# ---------------------------------------------------------------------------
# The data-governance gate a corpus runs before release: group records by
# their quasi-identifier tuple (nation, market segment, account-balance
# band) and report each group's size (k-anonymity) and the diversity of a
# sensitive attribute inside it (l-diversity over order priority). Groups
# below k=5 or l=3 are the re-identification risk the release must
# suppress or generalize.
#
# Scale: DISTINCT (custkey, priority) pairs first — that caps the join
# fan-out at 5 rows per customer before anything wide moves — then one
# join keyed on custkey and one aggregation keyed on the QI tuple. Both
# sides grow with the corpus, so no broadcast hint: AQE broadcasts while
# small and sort-merge-joins at scale. Group count is bounded by the QI
# domain (~nations x segments x 11 bands), so the report itself stays
# tiny at any SF. The balance band uses floor(x/1000) on the stored
# double — a single correctly-rounded IEEE op, identical cross-engine.

_KANON_BODY = """
WITH qi AS (
    SELECT c_custkey,
           c_nationkey,
           c_mktsegment,
           CAST(floor(c_acctbal / 1000e0) AS BIGINT) AS bal_band
    FROM customer
),
sens AS (
    SELECT DISTINCT o_custkey, o_orderpriority FROM orders
),
grp AS (
    SELECT q.c_nationkey,
           q.c_mktsegment,
           q.bal_band,
           count(DISTINCT q.c_custkey)      AS group_size,
           count(DISTINCT s.o_orderpriority) AS l_diversity
    FROM qi q LEFT JOIN sens s ON q.c_custkey = s.o_custkey
    GROUP BY q.c_nationkey, q.c_mktsegment, q.bal_band
)
SELECT c_nationkey,
       c_mktsegment,
       bal_band,
       CAST(group_size AS BIGINT)  AS group_size,
       CAST(l_diversity AS BIGINT) AS l_diversity,
       (group_size >= 5)           AS k5_anonymous,
       (l_diversity >= 3)          AS l3_diverse
FROM grp
"""


@register("dq_k_anonymity", oracle=_KANON_BODY)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifier groups
    (nation, segment, balance band; sensitive attribute = order
    priority): group_size < 5 or l_diversity < 3 marks a
    re-identification risk to suppress before release.

    Distinct (custkey, priority) pairs reduce before the join; no
    broadcast hint on either side (both scale with the corpus — AQE
    decides). The output is QI-domain-bounded, tiny at any SF.
    """
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_KANON_BODY)


# ---------------------------------------------------------------------------
# Freshness / SLA report (the data-ops staleness monitor)
# ---------------------------------------------------------------------------
# Per event type: last arrival vs the corpus watermark (global max ts),
# staleness in whole minutes (integer microsecond difference floored —
# no float time math), and an SLA verdict. The shape every ingestion
# dashboard runs; downstream of the bronze layer this is one grouped
# max + a broadcast of the 1-row watermark.


def _freshness_sql(usdiff: str) -> str:
    return f"""
WITH wm AS (SELECT max(ts) AS w FROM events),
per_type AS (
    SELECT event_type, max(ts) AS last_ts FROM events GROUP BY event_type
)
SELECT p.event_type,
       CAST(p.last_ts AS STRING) AS last_ts,
       CAST(w.w AS STRING)       AS watermark,
       CAST(floor(({usdiff}) / 60000000) AS BIGINT) AS staleness_min,
       CASE WHEN ({usdiff}) <= CAST(3600000000 AS BIGINT) THEN 'fresh'
            WHEN ({usdiff}) <= CAST(86400000000 AS BIGINT) THEN 'lagging'
            ELSE 'stale' END AS sla_status
FROM per_type p CROSS JOIN wm w
"""


@register(
    "dq_freshness_sla",
    oracle=_freshness_sql("date_diff('microsecond', p.last_ts, w.w)"),
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type last arrival, staleness vs the corpus watermark in
    whole minutes, and a fresh/lagging/stale SLA verdict — all in
    integer microseconds (timestamps render as STRING per the
    cross-engine date discipline)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _freshness_sql("timestampdiff(MICROSECOND, p.last_ts, w.w)")
    )


# ---------------------------------------------------------------------------
# Approximate functional-dependency discovery (Deequ/Metanome-style)
# ---------------------------------------------------------------------------
# For each candidate FD X → Y, the g3 error (Kivinen & Mannila 1995):
# the minimum fraction of rows to delete for the FD to hold exactly,
# computed as 1 − Σ_x max_y count(x,y) / N. Candidates mix structural
# truths of the schema (p_partkey → p_brand — a key determines every
# attribute) with plausible-but-false rules, so the report shows both
# holding FDs (0 violations) and graded violation rates.
#
# Scale: each candidate is two shuffled aggregations of one table —
# (X, Y) counts, then per-X max/sum — with the final per-candidate
# rollup a scalar. Everything is an exact BIGINT until the one
# snapped division per row. No joins, no windows.


def _fd_candidate(name: str, table: str, det: str, dep: str) -> str:
    return f"""
SELECT '{name}' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(grp_rows) AS BIGINT) AS n_rows,
       CAST(sum(grp_rows - grp_max) AS BIGINT) AS n_violations,
       floor(CAST(sum(grp_rows - grp_max) AS DOUBLE) / sum(grp_rows)
             * 1e6 + 0.5) / 1e6 AS g3_error,
       (sum(grp_rows - grp_max) = 0) AS holds
FROM (
    SELECT det, CAST(sum(cnt) AS BIGINT) AS grp_rows,
           CAST(max(cnt) AS BIGINT) AS grp_max
    FROM (
        SELECT {det} AS det, {dep} AS dep, CAST(count(*) AS BIGINT) AS cnt
        FROM {table}
        WHERE {det} IS NOT NULL
        GROUP BY {det}, {dep}
    ) pairs
    GROUP BY det
) grps
"""


_FD_SQL = "\nUNION ALL\n".join(
    _fd_candidate(name, table, det, dep)
    for name, table, det, dep in [
        ("part_partkey_to_brand", "part", "p_partkey", "p_brand"),
        ("part_name_to_brand", "part", "p_name", "p_brand"),
        ("part_size_to_brand", "part", "p_size", "p_brand"),
        ("orders_custkey_to_priority", "orders", "o_custkey",
         "o_orderpriority"),
        ("customer_nation_to_segment", "customer", "c_nationkey",
         "c_mktsegment"),
        ("lineitem_partkey_to_suppkey", "lineitem", "l_partkey",
         "l_suppkey"),
    ]
) + "\nORDER BY fd"


@register("dq_functional_dependencies", oracle=_FD_SQL)
def dq_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g3-error profile of six candidate functional dependencies across
    part/orders/customer/lineitem: group counts, violation counts and
    rate, and whether the FD holds exactly."""
    register_views(spark, sf_dir, "part", "orders", "customer", "lineitem")
    return spark.sql(_FD_SQL)


# ---------------------------------------------------------------------------
# t-closeness audit (completing the k-anonymity / l-diversity gate)
# ---------------------------------------------------------------------------
# l-diversity counts distinct sensitive values but misses SKEW: a group
# can hold 3 distinct priorities at 98/1/1 frequency and still leak.
# t-closeness bounds, per quasi-identifier group, the distance between
# the group's sensitive-attribute distribution and the global one — for
# a categorical attribute the variational distance
# t_g = ½ Σ_p |n_gp/n_g − N_p/N|. Groups with t above the threshold
# need generalizing before release.
#
# Scale: the corpus-sized work is one custkey join plus one aggregation
# to the (QI group × priority) cells — bounded by QI domain × 5.
# Everything after runs on that bounded relation (the group × priority
# spine is a bounded cross join, the sanctioned grid class). Float
# discipline: each |p_g − p| term snaps to the 1e-9 grid and sums
# EXACTLY (order-independent), then t snaps to 1e-6 — no raw double
# accumulation crosses an engine boundary.

from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_exact_sum,
    sql_stable_round,
)

_TCLOSE_CELL = """
WITH qi AS (
    SELECT c_custkey,
           c_nationkey,
           c_mktsegment,
           CAST(floor(c_acctbal / 1000e0) AS BIGINT) AS bal_band
    FROM customer
)
SELECT q.c_nationkey, q.c_mktsegment, q.bal_band,
       o.o_orderpriority AS pr,
       CAST(count(*) AS BIGINT) AS n
FROM qi q JOIN orders o ON o.o_custkey = q.c_custkey
GROUP BY q.c_nationkey, q.c_mktsegment, q.bal_band, o.o_orderpriority
"""


def _tclose_tail(cell: str) -> str:
    return f"""
gsz AS (
    SELECT c_nationkey, c_mktsegment, bal_band,
           CAST(sum(n) AS BIGINT) AS ng
    FROM {cell} GROUP BY c_nationkey, c_mktsegment, bal_band
),
gpr AS (SELECT pr, CAST(sum(n) AS BIGINT) AS np FROM {cell} GROUP BY pr),
gtot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM {cell}),
terms AS (
    SELECT s.c_nationkey, s.c_mktsegment, s.bal_band, s.ng,
           abs(CAST(coalesce(c.n, 0) AS DOUBLE) / s.ng
               - CAST(s.np AS DOUBLE) / s.nn) AS term
    FROM (SELECT g.*, p.pr, p.np, t.nn
          FROM gsz g CROSS JOIN gpr p CROSS JOIN gtot t) s
    LEFT JOIN {cell} c
      ON c.c_nationkey = s.c_nationkey AND c.c_mktsegment = s.c_mktsegment
     AND c.bal_band = s.bal_band AND c.pr = s.pr
)
SELECT c_nationkey, c_mktsegment, bal_band,
       ng AS group_orders,
       {sql_stable_round(sql_exact_sum("term", 9) + " / 2e0", 6)}
           AS t_distance,
       ({sql_exact_sum("term", 9)} / 2e0 <= 2e-1 + 1e-9) AS t02_close
FROM terms
GROUP BY c_nationkey, c_mktsegment, bal_band, ng
ORDER BY c_nationkey, c_mktsegment, bal_band
"""


_TCLOSE_DUCK = (
    "WITH cell AS ("
    + _TCLOSE_CELL.lstrip()
    + "),\n"
    + _tclose_tail("cell").lstrip()
)


@register("dq_t_closeness", oracle=_TCLOSE_DUCK)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness per quasi-identifier group (nation, segment, balance
    band; sensitive = order priority): variational distance between the
    group's priority distribution and the global one, with the t<=0.2
    release gate.

    The (QI group x priority) cell relation feeds four consumers; Spark
    inlines CTEs, so it is materialized once via localCheckpoint
    (DuckDB materializes shared CTEs itself — single-statement oracle).
    """
    register_views(spark, sf_dir, "customer", "orders")
    materialize(spark.sql(_TCLOSE_CELL), "tc_cell")
    return spark.sql("WITH " + _tclose_tail("tc_cell").lstrip())


# ---------------------------------------------------------------------------
# Tukey IQR fences (the boxplot outlier screen)
# ---------------------------------------------------------------------------
# The DQ family screens with MAD (robust z) and Benford (digit law);
# the third classic — the one every boxplot draws — is Tukey's rule:
# flag values beyond [Q1 - 1.5*IQR, Q3 + 1.5*IQR] per group. Exact
# interpolated quartiles (Spark percentile == DuckDB quantile_cont,
# the percentiles_price_by_brand identity), fences SNAPPED to the
# 1e-6 grid before the threshold compare (an ulp at the boundary
# otherwise flips rows cross-engine), then one join back to count
# and bound the outliers. Exact percentile sorts per group — the
# documented trade; swap percentile_approx at 100 TB when the fence
# does not need exactness.

_TUKEY_SQL = """
WITH fences AS (
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           floor(({q1}) * 1e6 + 0.5) / 1e6 AS q1,
           floor(({q3}) * 1e6 + 0.5) / 1e6 AS q3
    FROM orders GROUP BY o_orderpriority
),
bounds AS (
    SELECT priority, n_orders, q1, q3,
           floor((q3 - q1) * 1e6 + 0.5) / 1e6 AS iqr,
           floor((q1 - 15e-1 * (q3 - q1)) * 1e6 + 0.5) / 1e6 AS lo_fence,
           floor((q3 + 15e-1 * (q3 - q1)) * 1e6 + 0.5) / 1e6 AS hi_fence
    FROM fences
),
flagged AS (
    SELECT b.priority, b.n_orders, b.q1, b.q3, b.iqr,
           b.lo_fence, b.hi_fence,
           CAST(sum(CASE WHEN o.o_totalprice < b.lo_fence
                           OR o.o_totalprice > b.hi_fence
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(max(CASE WHEN o.o_totalprice > b.hi_fence
                         THEN o.o_totalprice END) AS DOUBLE)
               AS worst_high_outlier
    FROM orders o JOIN bounds b ON b.priority = o.o_orderpriority
    GROUP BY b.priority, b.n_orders, b.q1, b.q3, b.iqr,
             b.lo_fence, b.hi_fence
)
SELECT priority, n_orders, q1, q3, iqr, lo_fence, hi_fence, n_outliers,
       floor(CAST(n_outliers AS DOUBLE) / n_orders * 1e6 + 0.5) / 1e6
           AS outlier_share,
       worst_high_outlier
FROM flagged
ORDER BY priority
"""


@register(
    "dq_tukey_fences",
    oracle=_TUKEY_SQL
    .replace("{q1}", "quantile_cont(o_totalprice, 0.25)")
    .replace("{q3}", "quantile_cont(o_totalprice, 0.75)"),
)
def dq_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey 1.5*IQR boxplot fences on order totals per priority:
    exact interpolated quartiles, snapped fences, per-group outlier
    counts and the worst high outlier — the third classic DQ screen
    beside MAD and Benford."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        _TUKEY_SQL
        .replace("{q1}", "percentile(o_totalprice, 0.25)")
        .replace("{q3}", "percentile(o_totalprice, 0.75)")
    )
