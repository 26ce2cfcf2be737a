"""Statistical-ML evaluation operators: isotonic calibration, split
conformal prediction, rank correlation, Mahalanobis outliers, and
sorted-neighborhood entity-resolution blocking.

The model-eval layer a curation pipeline runs on top of its scores:
PAVA-isotonic recalibration of the quality classifier's reliability
curve, distribution-free conformal intervals around a point predictor,
Spearman rank correlation between bounded measures (the monotone-
association check Pearson misses), covariance-aware 2-feature outlier
scoring, and the classic windowed-blocking candidate generator for
record linkage.

All pure Spark SQL with value-identical DuckDB oracles. Float
discipline per repo invariants: exact-integer inputs wherever
possible, ``sql_exact_sum`` for every cross-row float sum, snap to the
1e-6 grid before any compare/rank, integer ceil-division via
Spark ``DIV`` / DuckDB ``//``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.numeric import (
    sql_exact_sum,
    sql_normal_two_sided_p,
    sql_stable_round,
)
from automated_data_pipeline_python_spark.functions.text import (
    duck_hash28,
    duck_hash60,
    spark_hash60,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.queries.curation2 import (
    _CALIB_DUCK_SQL,
    _CALIB_SPARK_SQL,
    _FEATS_DUCK_HEADER,
    _FEATS_SPARK_HEADER,
    _flagged_chain,
)
from automated_data_pipeline_python_spark.tables import register_views

# ---------------------------------------------------------------------------
# Isotonic recalibration of the reliability curve (PAVA via minimax)
# ---------------------------------------------------------------------------
# quality_calibration_bins shows the classifier's raw reliability curve
# is non-monotone in places; the standard fix is isotonic regression
# (pool-adjacent-violators) over the bins, which is what sklearn's
# CalibratedClassifierCV(method="isotonic") fits. PAVA's sequential
# pooling has an exact closed form — the minimax identity
#
#   iso(i) = max_{j<=i} min_{k>=i} wavg(pass, [j..k])
#
# (Robertson, Wright & Dykstra 1988) — which IS relational algebra
# over the bounded bin set: all O(B^3) range averages from a triple
# self-join of <=10 rows, then a min/max cascade. Every weighted
# average is one snapped division of exact integers.
#
# Scale: the corpus-sized work is the bin construction (inherited from
# quality_calibration_bins: one featurize pass + bounded score
# histogram); everything here runs on <=10 rows. The bins relation
# feeds five consumers; Spark inlines CTEs, so it is materialized.


def _iso_tail(bins: str) -> str:
    return f"""
rng AS (
    SELECT j.decile AS jd, k.decile AS kd,
           {sql_stable_round(
               "CAST(sum(b.n_gopher_pass) AS DOUBLE) / sum(b.n_docs)", 6)}
               AS wavg
    FROM {bins} j
    JOIN {bins} k ON j.decile <= k.decile
    JOIN {bins} b ON b.decile >= j.decile AND b.decile <= k.decile
    GROUP BY j.decile, k.decile
),
innermin AS (
    SELECT i.decile AS i, r.jd, min(r.wavg) AS mn, max(r.wavg) AS mx
    FROM {bins} i
    JOIN rng r ON r.jd <= i.decile AND r.kd >= i.decile
    GROUP BY i.decile, r.jd
),
iso AS (
    -- nondecreasing fit: max_j min_k; nonincreasing (antitonic) fit:
    -- min_j max_k — the direction this classifier actually has (its
    -- AUC < 0.5 is documented in quality_auc_rank), so the antitonic
    -- column carries the information while the isotonic one collapses
    -- to the grand mean.
    SELECT i AS decile, max(mn) AS iso_rate, min(mx) AS antitonic_rate
    FROM innermin GROUP BY i
)
SELECT b.decile,
       b.n_docs,
       {sql_stable_round(
           "CAST(b.n_gopher_pass AS DOUBLE) / b.n_docs", 6)} AS raw_rate,
       iso.iso_rate,
       iso.antitonic_rate
FROM {bins} b JOIN iso ON iso.decile = b.decile
ORDER BY b.decile
"""


_ISO_DUCK_SQL = (
    "WITH bins AS (SELECT decile, n_docs, n_gopher_pass FROM ("
    + _CALIB_DUCK_SQL
    + ") z),\n"
    + _iso_tail("bins").replace("\nrng AS", "\n rng AS", 1)
)


@register("quality_isotonic_calibration", oracle=_ISO_DUCK_SQL)
def quality_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) fit of the Gopher-pass rate over score deciles
    via the exact minimax identity — the monotone recalibration of
    quality_calibration_bins' reliability curve.

    The bounded bin relation feeds five consumers; Spark inlines CTEs,
    so it is materialized once via localCheckpoint.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            "SELECT decile, n_docs, n_gopher_pass FROM ("
            + _CALIB_SPARK_SQL
            + ") z"
        ),
        "iso_bins",
    )
    return spark.sql("WITH " + _iso_tail("iso_bins").lstrip())


# ---------------------------------------------------------------------------
# Split conformal prediction interval (distribution-free coverage)
# ---------------------------------------------------------------------------
# The modern uncertainty wrapper (Vovk et al.; Angelopoulos & Bates
# 2023): fit any point predictor, take the ceil((n+1)(1-a))-th
# smallest absolute residual on a held-out calibration split as the
# interval half-width q-hat, and the test-set interval y-hat +/- q-hat
# covers with probability >= 1-a, NO distributional assumptions. The
# point predictor here is the fixed linear rule chars ~ 6*tokens (swap
# in any trained regressor; the plan does not change). Residuals are
# exact integers; the conformal quantile is read off the residual
# histogram's cumulative counts with the rank computed by integer
# ceil-division — no corpus-wide rank window.
#
# Scale: one featurize pass split by doc_id parity, one bounded
# residual histogram (values bounded by the doc-length range), one
# test-side coverage aggregation. The scored relation feeds both
# splits; Spark inlines CTEs, so it is materialized.

_CONF_ALPHA_PCT = 95  # 1 - alpha as integer percent


def _conformal_tail(pred: str, idiv) -> str:
    k = idiv(f"{_CONF_ALPHA_PCT} * (nc.n + 1) + 99", "100")
    return f"""
calib AS (SELECT resid FROM {pred} WHERE doc_id % 2 = 0),
test AS (SELECT resid FROM {pred} WHERE doc_id % 2 = 1),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM calib),
kq AS (SELECT nc.n, CAST({k} AS BIGINT) AS k FROM nc),
hist AS (SELECT resid, CAST(count(*) AS BIGINT) AS c FROM calib GROUP BY resid),
chist AS (
    SELECT resid, CAST(sum(c) OVER (ORDER BY resid) AS BIGINT) AS cum
    FROM hist
),
qhat AS (
    SELECT min(ch.resid) AS q FROM chist ch CROSS JOIN kq
    WHERE ch.cum >= kq.k
),
cov AS (
    SELECT CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN t.resid <= q.q THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered
    FROM test t CROSS JOIN qhat q
)
SELECT kq.n AS n_calib,
       cov.n_test,
       CAST(q.q AS BIGINT) AS qhat,
       {sql_stable_round("CAST(cov.n_covered AS DOUBLE) / cov.n_test", 6)}
           AS coverage,
       {_CONF_ALPHA_PCT}e-2 AS target_level
FROM kq CROSS JOIN qhat q CROSS JOIN cov
"""


def _conformal_pred_sql(ntok: str) -> str:
    return f"""
SELECT doc_id, abs(n_chars - 6 * CAST({ntok} AS BIGINT)) AS resid
FROM (SELECT doc_id, n_chars, {{tok}} AS toks FROM documents)
"""


_CONF_DUCK_SQL = (
    "WITH pred AS ("
    + _conformal_pred_sql("len(toks)").format(
        tok="regexp_split_to_array(trim(text), '\\s+')"
    )
    + "),\n"
    + _conformal_tail("pred", lambda a, b: f"({a}) // ({b})").replace(
        "\ncalib AS", "\n calib AS", 1
    )
)


@register("quality_conformal_interval", oracle=_CONF_DUCK_SQL)
def quality_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal interval around the chars ~ 6*tokens predictor:
    calibration-split conformal quantile (exact integer rank, histogram
    read-off) and the resulting test-split empirical coverage vs the
    95% target.

    The residual relation feeds both splits; Spark inlines CTEs, so it
    is materialized once via localCheckpoint.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            _conformal_pred_sql("size(toks)").format(
                tok="split(trim(text), '\\\\s+')"
            )
        ),
        "conf_pred",
    )
    return spark.sql(
        "WITH "
        + _conformal_tail(
            "conf_pred", lambda a, b: f"({a}) DIV ({b})"
        ).lstrip()
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation battery (monotone association)
# ---------------------------------------------------------------------------
# The rank sibling of agg_corr_regression's Pearson: Spearman's rho is
# Pearson over average ranks, robust to monotone-nonlinear coupling
# and outliers. Computed the only way that scales: ranks come from the
# bounded DISTINCT-VALUE histograms (quantity has <=50 cells, discount
# and tax <=11 each), never a corpus-wide rank window. Tie handling is
# the standard average-rank convention in INTEGERS — a value with cum
# rows at-or-below it and c members has doubled avg rank
# 2*cum - c + 1 — and every cross moment comes from the bounded JOINT
# histograms (quantity x discount <= 550 cells), so after one corpus
# projection and three pair-count aggregations everything runs on
# bounded relations. Moment sums use sql_exact_sum at grid 0 (terms
# are exact-integer-valued doubles; DECIMAL accumulation is order-
# independent where a raw BIGINT sum would overflow at large sf).

_SP_ROWS_SQL = """
SELECT CAST(l_quantity AS BIGINT) AS q,
       CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
       CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS t
FROM lineitem
"""


def _spearman_tail(rows: str) -> str:
    def rank_cte(h: str) -> str:
        return (
            f"SELECT val, c, CAST(2 * sum(c) OVER (ORDER BY val) - c + 1"
            f" AS BIGINT) AS r2 FROM {h}"
        )

    def rho(sxy: str, sx: str, sy: str, sxx: str, syy: str) -> str:
        return sql_stable_round(
            f"(m.n * m.{sxy} - m.{sx} * m.{sy})"
            f" / (sqrt(m.n * m.{sxx} - m.{sx} * m.{sx})"
            f" * sqrt(m.n * m.{syy} - m.{sy} * m.{sy}))",
            6,
        )

    es = lambda e: sql_exact_sum(e, 0)  # noqa: E731
    return f"""
qd AS (SELECT q, d, CAST(count(*) AS BIGINT) AS c FROM {rows} GROUP BY q, d),
qt AS (SELECT q, t, CAST(count(*) AS BIGINT) AS c FROM {rows} GROUP BY q, t),
dt AS (SELECT d, t, CAST(count(*) AS BIGINT) AS c FROM {rows} GROUP BY d, t),
qh AS (SELECT q AS val, CAST(sum(c) AS BIGINT) AS c FROM qd GROUP BY q),
dh AS (SELECT d AS val, CAST(sum(c) AS BIGINT) AS c FROM qd GROUP BY d),
th AS (SELECT t AS val, CAST(sum(c) AS BIGINT) AS c FROM qt GROUP BY t),
qr AS ({rank_cte("qh")}),
dr AS ({rank_cte("dh")}),
tr AS ({rank_cte("th")}),
m AS (
    SELECT
        CAST((SELECT sum(c) FROM qh) AS DOUBLE) AS n,
        (SELECT {es("CAST(c AS DOUBLE) * r2")} FROM qr)        AS sq,
        (SELECT {es("CAST(c AS DOUBLE) * r2")} FROM dr)        AS sd,
        (SELECT {es("CAST(c AS DOUBLE) * r2")} FROM tr)        AS st,
        (SELECT {es("CAST(c AS DOUBLE) * r2 * r2")} FROM qr)   AS sqq,
        (SELECT {es("CAST(c AS DOUBLE) * r2 * r2")} FROM dr)   AS sdd,
        (SELECT {es("CAST(c AS DOUBLE) * r2 * r2")} FROM tr)   AS stt,
        (SELECT {es("CAST(p.c AS DOUBLE) * a.r2 * b.r2")}
         FROM qd p JOIN qr a ON a.val = p.q JOIN dr b ON b.val = p.d) AS sqd,
        (SELECT {es("CAST(p.c AS DOUBLE) * a.r2 * b.r2")}
         FROM qt p JOIN qr a ON a.val = p.q JOIN tr b ON b.val = p.t) AS sqt,
        (SELECT {es("CAST(p.c AS DOUBLE) * a.r2 * b.r2")}
         FROM dt p JOIN dr a ON a.val = p.d JOIN tr b ON b.val = p.t) AS sdt
)
SELECT 'quantity' AS var_x, 'discount' AS var_y,
       CAST(m.n AS BIGINT) AS n, {rho("sqd", "sq", "sd", "sqq", "sdd")} AS rho
FROM m
UNION ALL
SELECT 'quantity', 'tax', CAST(m.n AS BIGINT),
       {rho("sqt", "sq", "st", "sqq", "stt")}
FROM m
UNION ALL
SELECT 'discount', 'tax', CAST(m.n AS BIGINT),
       {rho("sdt", "sd", "st", "sdd", "stt")}
FROM m
"""


_SP_DUCK_SQL = (
    "WITH rows_ AS (" + _SP_ROWS_SQL + "),\n"
    + _spearman_tail("rows_").replace("\nqd AS", "\n qd AS", 1)
)


@register("agg_spearman_rank_corr", oracle=_SP_DUCK_SQL)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank-correlation battery over (quantity, discount,
    tax): average-rank tie convention in exact doubled integers, ranks
    and cross moments read entirely off bounded value histograms.

    The projected row relation feeds three joint-histogram
    aggregations; Spark inlines CTEs, so it is materialized once.
    """
    register_views(spark, sf_dir, "lineitem")
    materialize(spark.sql(_SP_ROWS_SQL), "sp_rows")
    return spark.sql("WITH " + _spearman_tail("sp_rows").lstrip())


# ---------------------------------------------------------------------------
# Mahalanobis 2-feature outlier scoring (covariance-aware DQ screen)
# ---------------------------------------------------------------------------
# events_mad_outliers screens one column at a time; correlated features
# need the covariance-aware distance or they flag the wrong rows (a
# high-balance high-activity customer is normal; high-balance
# ZERO-activity is the anomaly). With 2 features the precision matrix
# has a closed 2x2 inverse, so d^2 is one expression over five moment
# sums — the exact shape production DQ monitors use for
# low-dimensional profile outliers.
#
# Features: account balance in exact cents, order count per customer
# (LEFT JOIN: dormant customers keep 0 — they are the interesting
# tail). Moments via sql_exact_sum at grid 0; means/covariances are
# single divisions of identical exact inputs (bit-identical cross-
# engine); d^2 snaps to the 1e-6 grid before the (d2, custkey) top-20.
#
# Scale: one customer-orders left-join aggregation (hash-keyed), one
# moment aggregation, one map-only scoring pass, TakeOrdered top-20.
# The feature relation feeds the moment pass and the scorer; Spark
# inlines CTEs, so it is materialized.

_MAHA_FEATS_SQL = """
SELECT c.c_custkey,
       CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS x,
       CAST(coalesce(o.n, 0) AS BIGINT) AS y
FROM customer c
LEFT JOIN (
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_custkey
) o ON o.o_custkey = c.c_custkey
"""


def _maha_tail(feats: str) -> str:
    es = lambda e: sql_exact_sum(e, 0)  # noqa: E731
    d2 = (
        "((f.x - m.mx) * (f.x - m.mx) * m.vyy"
        " - 2 * (f.x - m.mx) * (f.y - m.my) * m.vxy"
        " + (f.y - m.my) * (f.y - m.my) * m.vxx)"
        " / (m.vxx * m.vyy - m.vxy * m.vxy)"
    )
    return f"""
mom AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           {es("CAST(x AS DOUBLE)")} AS sx,
           {es("CAST(y AS DOUBLE)")} AS sy,
           {es("CAST(x AS DOUBLE) * x")} AS sxx,
           {es("CAST(y AS DOUBLE) * y")} AS syy,
           {es("CAST(x AS DOUBLE) * y")} AS sxy
    FROM {feats}
),
m AS (
    SELECT n, sx / n AS mx, sy / n AS my,
           sxx / n - (sx / n) * (sx / n) AS vxx,
           syy / n - (sy / n) * (sy / n) AS vyy,
           sxy / n - (sx / n) * (sy / n) AS vxy
    FROM mom
)
SELECT f.c_custkey,
       {sql_stable_round("CAST(f.x AS DOUBLE) / 100", 2)} AS acctbal,
       f.y AS n_orders,
       {sql_stable_round(d2, 6)} AS maha_d2
FROM {feats} f CROSS JOIN m
ORDER BY maha_d2 DESC, f.c_custkey
LIMIT 20
"""


_MAHA_DUCK_SQL = (
    "WITH feats AS (" + _MAHA_FEATS_SQL + "),\n"
    + _maha_tail("feats").replace("\nmom AS", "\n mom AS", 1)
)


@register("dq_mahalanobis_outliers", oracle=_MAHA_DUCK_SQL)
def dq_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by 2-feature Mahalanobis distance over
    (account balance, order count) with the closed-form 2x2 precision
    matrix — the covariance-aware outlier screen.

    The feature relation feeds the moment pass and the scorer; Spark
    inlines CTEs, so it is materialized once via localCheckpoint.
    """
    register_views(spark, sf_dir, "customer", "orders")
    materialize(spark.sql(_MAHA_FEATS_SQL), "maha_feats")
    return spark.sql("WITH " + _maha_tail("maha_feats").lstrip())


# ---------------------------------------------------------------------------
# Sorted-neighborhood entity-resolution blocking
# ---------------------------------------------------------------------------
# The OTHER classic ER candidate generator (Hernandez & Stolfo 1995),
# complementing fuzzy_levenshtein_pairs' block self-join and
# dedup_prefix_filter_join's prefix filtering: sort records by a
# blocking key, slide a window of size w, and emit only
# window-adjacent pairs — O(n*w) candidates instead of O(sum block^2).
# Within each block the pairing is lead(1)/lead(2) over the
# (name, key) sort — a total order, so the candidate set is
# deterministic.
#
# Scale: the window partitions on the blocking key (first word +
# second-word initial). On this fixed-vocabulary corpus that is ~200
# blocks — honest caveat: a production deployment keys on a
# data-diverse prefix (sort-key first k chars) so block cardinality
# grows with the corpus; the plan (partitioned sort + lead) is
# unchanged. Work per block is linear in block size (sort + two
# leads), never quadratic.

_SNM_LEV = 3
_SNM_SQL = f"""
WITH keyed AS (
    SELECT p_partkey, p_name,
           split_part(p_name, ' ', 1) || '|'
               || substr(split_part(p_name, ' ', 2), 1, 1) AS blk
    FROM part
),
w AS (
    SELECT blk, p_partkey, p_name,
           lead(p_partkey, 1) OVER
               (PARTITION BY blk ORDER BY p_name, p_partkey) AS k1,
           lead(p_name, 1) OVER
               (PARTITION BY blk ORDER BY p_name, p_partkey) AS n1,
           lead(p_partkey, 2) OVER
               (PARTITION BY blk ORDER BY p_name, p_partkey) AS k2,
           lead(p_name, 2) OVER
               (PARTITION BY blk ORDER BY p_name, p_partkey) AS n2
    FROM keyed
),
cand AS (
    SELECT blk, p_partkey AS key_a, k1 AS key_b, p_name AS name_a,
           n1 AS name_b, CAST(levenshtein(p_name, n1) AS INT) AS lev
    FROM w WHERE n1 IS NOT NULL
    UNION ALL
    SELECT blk, p_partkey, k2, p_name, n2,
           CAST(levenshtein(p_name, n2) AS INT)
    FROM w WHERE n2 IS NOT NULL
)
SELECT blk, key_a, key_b, name_a, name_b, lev
FROM cand
WHERE lev <= {_SNM_LEV} AND key_a != key_b
"""


@register("er_sorted_neighborhood", oracle=_SNM_SQL)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs over part names: block on
    (first word, second-word initial), sort by (name, key), pair each
    record with its next two neighbors, keep pairs within edit
    distance 3."""
    register_views(spark, sf_dir, "part")
    return spark.sql(_SNM_SQL)


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record-linkage scoring
# ---------------------------------------------------------------------------
# The decision layer on top of er_sorted_neighborhood's candidate
# generator (Fellegi & Sunter 1969 — the model behind Splink and every
# census linker): each compared field contributes log2(m/u) when it
# agrees and log2((1-m)/(1-u)) when it disagrees, where m = P(agree |
# match) and u = P(agree | non-match). m is the usual fixed prior
# (0.9); u is ESTIMATED FROM THE DATA as the random-agreement
# probability of the field — Σ c_v(c_v−1) / N(N−1) over the field's
# value histogram, an exact integer ratio (the u-estimation shortcut
# every FS implementation ships).
#
# Float discipline: each u is an exact-integer ratio snapped to 1e-9;
# each field weight is one log2 expression over that snapped u,
# snapped to 1e-6; the pair score is a fixed 4-term expression of
# snapped weights (single-expression arithmetic, no cross-row float
# sum), snapped before the top-30 rank with (key_a, key_b) tiebreak.
#
# Scale: candidates are O(n·w) from the partitioned
# sorted-neighborhood window (never a block self-join); the four u
# estimates are value-histogram aggregates (bounded by each field's
# domain); attribute lookups are two keyed joins on p_partkey.

_FS_M = "0.9e0"  # P(field agrees | records match) — fixed prior


def _fs_u(field: str) -> str:
    # Random-agreement probability: sum_v c_v(c_v-1) / N(N-1), exact
    # integers until one snapped division.
    return f"""
    SELECT floor((CAST(sum(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS DOUBLE)
                  / (CAST(max(n) AS DOUBLE) * (max(n) - 1)))
                 * 1e9 + 0.5) / 1e9 AS u
    FROM (
        SELECT CAST(count(*) AS BIGINT) AS c,
               CAST(sum(count(*)) OVER () AS BIGINT) AS n
        FROM part GROUP BY {field}
    ) h
"""


def _fs_w(u_rel: str, agree: str) -> str:
    # Snapped agree/disagree weight for one field.
    m = _FS_M
    return (
        f"floor((CASE WHEN {agree} THEN log2({m} / {u_rel}.u) "
        f"ELSE log2((1e0 - {m}) / (1e0 - {u_rel}.u)) END) * 1e6 + 0.5) / 1e6"
    )


_FS_FIELDS = [
    ("brand", "p_brand", "ub"),
    ("fword", "split_part(p_name, ' ', 1)", "uc"),
    ("psize", "p_size", "us"),
    ("ptype", "p_type", "ut"),
]

_FS_SQL = (
    "WITH cand AS (SELECT key_a, key_b FROM (" + _SNM_SQL.replace(
        "SELECT blk, key_a, key_b, name_a, name_b, lev",
        "SELECT key_a, key_b, lev",
        1,
    ) + ") c),\n"
    + ",\n".join(f"{alias} AS ({_fs_u(col)})" for _, col, alias in _FS_FIELDS)
    + f""",
scored AS (
    SELECT c.key_a, c.key_b,
           (a.p_brand = b.p_brand) AS agree_brand,
           (split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)) AS agree_fword,
           (a.p_size = b.p_size) AS agree_size,
           (a.p_type = b.p_type) AS agree_type,
           {_fs_w("ub", "a.p_brand = b.p_brand")}
           + {_fs_w("uc", "split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)")}
           + {_fs_w("us", "a.p_size = b.p_size")}
           + {_fs_w("ut", "a.p_type = b.p_type")} AS raw_score
    FROM cand c
    JOIN part a ON a.p_partkey = c.key_a
    JOIN part b ON b.p_partkey = c.key_b
    CROSS JOIN ub CROSS JOIN uc CROSS JOIN us CROSS JOIN ut
)
SELECT key_a, key_b, agree_brand, agree_fword, agree_size, agree_type,
       floor(raw_score * 1e6 + 0.5) / 1e6 AS fs_score
FROM scored
ORDER BY fs_score DESC, key_a, key_b
LIMIT 30
"""
)


@register("er_fellegi_sunter", oracle=_FS_SQL)
def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter match scores over the sorted-neighborhood
    candidate pairs: data-estimated u probabilities per field, fixed
    m=0.9, log2 agree/disagree weights, top-30 pairs."""
    register_views(spark, sf_dir, "part")
    return spark.sql(_FS_SQL)


# ---------------------------------------------------------------------------
# Cohen's kappa between the two independent document annotators
# ---------------------------------------------------------------------------
# The inter-annotator-agreement statistic every labeling pipeline
# reports before trusting a filter ensemble: annotator A = the Gopher
# rule suite (pass/fail), annotator B = the logistic quality gate
# thresholded at 0.5. kappa = (p_o - p_e)/(1 - p_e) corrects raw
# agreement for chance agreement under the two marginals.
#
# Float discipline: the 2x2 table is exact integers; margins multiply
# as DECIMAL(38,0) (BIGINT*BIGINT overflows DuckDB at corpus scale);
# the three ratios are single snapped divisions of exact integers cast
# to DOUBLE (IEEE nearest — identical both engines even above 2^53).
#
# Scale: one featurize pass (shared _flagged_chain) -> one global
# 4-counter aggregation. No windows, no joins.

_KAPPA_TAIL = """,
ct AS (
    SELECT
        CAST(sum(CASE WHEN gopher_pass = 1 AND score >= 5e-1
                 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        CAST(sum(CASE WHEN gopher_pass = 1 AND score < 5e-1
                 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        CAST(sum(CASE WHEN gopher_pass = 0 AND score >= 5e-1
                 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        CAST(sum(CASE WHEN gopher_pass = 0 AND score < 5e-1
                 THEN 1 ELSE 0 END) AS BIGINT) AS n00
    FROM flagged
),
m AS (
    SELECT n11, n10, n01, n00,
           n11 + n10 + n01 + n00 AS n,
           CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
           + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00) AS chance
    FROM ct
)
SELECT n11, n10, n01, n00,
       floor((CAST(n11 + n00 AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS p_obs,
       floor((CAST(chance AS DOUBLE)
              / (CAST(n AS DOUBLE) * n)) * 1e6 + 0.5) / 1e6 AS p_chance,
       floor(((CAST(n AS DOUBLE) * (n11 + n00) - CAST(chance AS DOUBLE))
              / (CAST(n AS DOUBLE) * n - CAST(chance AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS kappa
FROM m
"""

_KAPPA_SPARK_SQL = _FEATS_SPARK_HEADER + "," + _flagged_chain() + _KAPPA_TAIL
_KAPPA_DUCK_SQL = _FEATS_DUCK_HEADER + "," + _flagged_chain() + _KAPPA_TAIL


@register("quality_cohens_kappa", oracle=_KAPPA_DUCK_SQL)
def quality_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the Gopher rule suite and the 0.5-
    thresholded logistic quality gate: 2x2 agreement table, observed
    and chance agreement, chance-corrected kappa."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_KAPPA_SPARK_SQL)


# ---------------------------------------------------------------------------
# Expected calibration error over the reliability bins
# ---------------------------------------------------------------------------
# The one-number rollup of quality_calibration_bins (Naeini et al.
# 2015): ECE = sum_b (n_b/N)|acc_b - conf_b|, MCE = max_b |...| — the
# headline calibration metrics a model card quotes. Computed directly
# ON the decile-bin relation (<= 10 rows; its construction is the
# corpus-sized part and is shared text with quality_calibration_bins),
# with the weighted sum order-independent via sql_exact_sum.

_ECE_TAIL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(n_docs) AS BIGINT) AS n_total,
       {sql_stable_round(
           sql_exact_sum(
               "CAST(n_docs AS DOUBLE)"
               " * abs(gopher_pass_rate - mean_score)", 6)
           + " / sum(n_docs)", 6)} AS ece,
       {sql_stable_round("max(abs(gopher_pass_rate - mean_score))", 6)}
           AS mce
FROM bins
"""


@register(
    "quality_ece_from_bins",
    oracle="WITH bins AS (" + _CALIB_DUCK_SQL + ")\n" + _ECE_TAIL,
)
def quality_ece_from_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / maximum calibration error of the logistic gate vs the
    Gopher verdicts, rolled up from the decile reliability bins."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql("WITH bins AS (" + _CALIB_SPARK_SQL + ")\n" + _ECE_TAIL)


# ---------------------------------------------------------------------------
# Fellegi–Sunter EM round: re-estimate (m, u, lambda) from the data
# ---------------------------------------------------------------------------
# The estimation step the fixed-prior scorer above (er_fellegi_sunter)
# skips — and what Splink actually runs: treat match status as latent,
# E-step = posterior match probability per candidate pair under the
# current (m=0.9, u=data-estimate, lambda=0.5) parameters, M-step =
# re-estimate each field's m and u as posterior-weighted agreement
# rates, plus the new class prior lambda. One full round, closed form.
#
# Float discipline: the E-step posterior g is ONE arithmetic
# expression over the four snapped u's (fixed multiplication order,
# IEEE-deterministic) snapped to 1e-6; every M-step numerator/
# denominator is an sql_exact_sum of on-grid values or an exact
# integer; each output is one snapped division.
#
# Scale: candidates are the O(n*w) sorted-neighborhood set; the E-step
# is map-only; the M-step is ONE global aggregation producing a single
# row, from which the 4 field rows project (the agg row is
# materialized in Spark — a CTE re-reference would re-run the whole
# candidate pipeline per field).

_EM_AGREE = [
    ("brand", "a.p_brand = b.p_brand", "ub"),
    ("fword", "split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)", "uc"),
    ("psize", "a.p_size = b.p_size", "us"),
    ("ptype", "a.p_type = b.p_type", "ut"),
]


def _em_head() -> str:
    m_prod = " * ".join(
        f"(CASE WHEN {cond} THEN 9e-1 ELSE 1e-1 END)"
        for _, cond, _ in _EM_AGREE
    )
    u_prod = " * ".join(
        f"(CASE WHEN {cond} THEN {al}.u ELSE 1e0 - {al}.u END)"
        for _, cond, al in _EM_AGREE
    )
    agrees = ",\n           ".join(
        f"CASE WHEN {cond} THEN 1 ELSE 0 END AS a_{f}"
        for f, cond, _ in _EM_AGREE
    )
    es = lambda e: sql_exact_sum(e, 6)  # noqa: E731
    sums = ",\n        ".join(
        f"CAST(sum(a_{f}) AS BIGINT) AS s_{f}, {es(f'g * a_{f}')} AS sg_{f}"
        for f, _, _ in _EM_AGREE
    )
    return (
        "WITH cand AS (SELECT key_a, key_b FROM ("
        + _SNM_SQL.replace(
            "SELECT blk, key_a, key_b, name_a, name_b, lev",
            "SELECT key_a, key_b, lev",
            1,
        )
        + ") c),\n"
        + ",\n".join(f"{al} AS ({_fs_u(col)})" for _, col, al in _FS_FIELDS)
        + f""",
post AS (
    SELECT {agrees},
           floor((({m_prod})
                  / (({m_prod}) + ({u_prod}))) * 1e6 + 0.5) / 1e6 AS g
    FROM cand c
    JOIN part a ON a.p_partkey = c.key_a
    JOIN part b ON b.p_partkey = c.key_b
    CROSS JOIN ub CROSS JOIN uc CROSS JOIN us CROSS JOIN ut
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
        {es('g')} AS sg,
        {sums}
    FROM post
)
SELECT * FROM agg"""
    )


def _em_tail(agg: str) -> str:
    r = sql_stable_round
    rows = []
    for f, _, _ in _EM_AGREE:
        rows.append(
            f"""SELECT '{f}' AS field,
       {r(f'sg_{f} / sg', 6)} AS m_new,
       {r(f'(s_{f} - sg_{f}) / (CAST(n AS DOUBLE) - sg)', 6)} AS u_new,
       {r('sg / n', 6)} AS lambda_new
FROM {agg}"""
        )
    return "\nUNION ALL\n".join(rows) + "\nORDER BY field"


_EM_DUCK_SQL = (
    _em_head().replace("SELECT * FROM agg", "")
    + _em_tail("agg").replace("FROM agg", "FROM agg", 1)
)


@register("er_em_mu_round", oracle=_EM_DUCK_SQL)
def er_em_mu_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Fellegi–Sunter EM round over the sorted-neighborhood
    candidates: posterior match probabilities under (m=0.9,
    u=data-estimated, lambda=0.5), then re-estimated per-field m/u and
    class prior.

    The fword row re-estimates to m=u=1.0 by construction — the
    sorted-neighborhood block keys on the first word, so every
    candidate agrees on it; the classic linkage caveat that a blocking
    field carries no discriminating weight, surfaced rather than
    hidden."""
    register_views(spark, sf_dir, "part")
    materialize(spark.sql(_em_head()), "em_agg")
    return spark.sql(_em_tail("em_agg"))


# ---------------------------------------------------------------------------
# Krippendorff's alpha over three annotators
# ---------------------------------------------------------------------------
# The generalization of Cohen's kappa the labeling literature actually
# recommends (any number of annotators, chance model from the pooled
# value distribution): three independent binary "annotators" per
# document — the Gopher rule suite, the 0.5-thresholded logistic gate,
# and a lexical-diversity rule (uniq_ratio > 0.25) — scored off the
# same shared featurize pass. For nominal binary data with m=3 ratings
# per unit: D_o = sum_u c1_u*c0_u / (3N) (observed pair disagreement),
# D_e = 2*n1*n0 / (3N*(3N-1)) (chance), alpha = 1 - D_o/D_e
# = 1 - sum_u(c1_u*c0_u)*(3N-1) / (2*n1*n0) — exact integers up to ONE
# snapped division (DECIMAL(38,0) products; BIGINT would overflow at
# corpus scale).
#
# Scale: one featurize pass -> per-doc vote counts (map-only) -> one
# global aggregation. No windows, no joins.

_ALPHA_TAIL = """,
votes AS (
    SELECT CAST(gopher_pass AS BIGINT)
           + CAST(CASE WHEN score >= 5e-1 THEN 1 ELSE 0 END AS BIGINT)
           + CAST(CASE WHEN dist_r > 25e-2 THEN 1 ELSE 0 END AS BIGINT)
               AS c1
    FROM flagged_k
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_units,
           CAST(sum(c1) AS BIGINT) AS n1,
           CAST(3 * count(*) - sum(c1) AS BIGINT) AS n0,
           CAST(sum(c1 * (3 - c1)) AS BIGINT) AS pairdis
    FROM votes
)
SELECT n_units, n1, n0,
       floor((CAST(pairdis AS DOUBLE) / (3e0 * n_units)) * 1e6 + 0.5)
           / 1e6 AS d_obs,
       floor((2e0 * CAST(CAST(n1 AS DECIMAL(38,0)) * n0 AS DOUBLE)
              / (CAST(3 * n_units AS DOUBLE) * (3 * n_units - 1)))
             * 1e6 + 0.5) / 1e6 AS d_exp,
       floor((1e0 - CAST(CAST(pairdis AS DECIMAL(38,0))
                         * (3 * n_units - 1) AS DOUBLE)
                    / (2e0 * CAST(CAST(n1 AS DECIMAL(38,0)) * n0
                                  AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS alpha
FROM agg
"""

# flagged (score, gopher_pass) lacks dist_r; rebuild the flagged CTE
# with dist_r carried through (same expressions, one extra column).
_FLAGGED_K = _flagged_chain().replace(
    """flagged AS (
    SELECT score,""",
    """flagged_k AS (
    SELECT score, dist_r,""",
    1,
)

_ALPHA_SPARK_SQL = _FEATS_SPARK_HEADER + "," + _FLAGGED_K + _ALPHA_TAIL
_ALPHA_DUCK_SQL = _FEATS_DUCK_HEADER + "," + _FLAGGED_K + _ALPHA_TAIL


@register("quality_krippendorff_alpha", oracle=_ALPHA_DUCK_SQL)
def quality_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha over three binary annotators (Gopher rules,
    logistic gate, lexical-diversity rule): observed vs chance pair
    disagreement from exact vote-count integers."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_ALPHA_SPARK_SQL)


# ---------------------------------------------------------------------------
# One-way ANOVA F across event types
# ---------------------------------------------------------------------------
# The parametric k-group location screen (the k>2 sibling of the
# two-sample z/t machinery elsewhere in the battery): does mean event
# value differ across the five event types? Every moment is an exact
# integer on the cents grid (n, Σx, Σx² as DECIMAL(38,0) — x² per row
# is ≤1e10 on cents, so the sum is exact far past 100 TB); the only
# floats are the per-group S²/n terms (one IEEE division each, snapped
# to the 1e-2 cents² grid, then order-independent exact-summed) and
# the final F/η² expressions, snapped.

_ANOVA_CENTS = "CAST(floor(value * 1e2 + 0.5) AS DECIMAL(38,0))"

_ANOVA_SQL = f"""
WITH g AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum({_ANOVA_CENTS}) AS DECIMAL(38,0)) AS s,
           CAST(sum({_ANOVA_CENTS} * {_ANOVA_CENTS}) AS DECIMAL(38,0)) AS ss
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
),
terms AS (
    SELECT n, s, ss,
           floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n * 1e2 + 0.5)
               / 1e2 AS s2_over_n
    FROM g
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n) AS BIGINT) AS n_total,
           CAST(sum(s) AS DECIMAL(38,0)) AS s_all,
           CAST(sum(ss) AS DECIMAL(38,0)) AS ss_all,
           {sql_exact_sum("s2_over_n", 2)} AS sum_s2n
    FROM terms
),
ssq AS (
    SELECT k, n_total,
           sum_s2n - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total
               AS ss_between,
           CAST(ss_all AS DOUBLE) - sum_s2n AS ss_within
    FROM agg
)
SELECT k AS n_groups, n_total,
       floor(ss_between / 1e4 * 1e2 + 0.5) / 1e2 AS ss_between,
       floor(ss_within / 1e4 * 1e2 + 0.5) / 1e2 AS ss_within,
       floor((ss_between / (k - 1)) / (ss_within / (n_total - k))
             * 1e6 + 0.5) / 1e6 AS f_stat,
       floor(ss_between / (ss_between + ss_within) * 1e6 + 0.5) / 1e6
           AS eta_squared
FROM ssq
"""


@register("events_anova_f_oneway", oracle=_ANOVA_SQL)
def events_anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across the five event types:
    between/within sums of squares (re-expressed in currency² units),
    F statistic and η² — exact integer moments, snapped term sums."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_ANOVA_SQL)


# ---------------------------------------------------------------------------
# Kruskal–Wallis H across event types
# ---------------------------------------------------------------------------
# The rank-based complement to the ANOVA above (and the k>2
# generalization of events_mann_whitney_u): midranks come off the
# bounded DISTINCT-cents histogram (2·rank = 2·cum_before + t + 1 is
# an exact integer), so each group's doubled rank sum R2_g is an exact
# DECIMAL; H uses R2_g cast to DOUBLE only at the squaring (R2_g² can
# pass DECIMAL(38) at extreme scale), per-group terms snap to the 1e-2
# grid and exact-sum, and the tie factor Σ(t³−t)/(N³−N) is exact
# DECIMAL until its one division. The χ²₍ₖ₋₁₎ tail converts through
# the Wilson–Hilferty cube-root normalization (cbrt is built into both
# engines) into the shared A&S normal polynomial.
#
# The cumulative window runs over the value HISTOGRAM (cents grid) —
# the allowlisted bounded-relation shape, never a per-row rank.

_KW_SQL = f"""
WITH vals AS (
    SELECT event_type,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL
),
cnt AS (
    SELECT cents, event_type, CAST(count(*) AS BIGINT) AS c
    FROM vals GROUP BY cents, event_type
),
tot AS (
    SELECT cents, CAST(sum(c) AS BIGINT) AS t,
           CAST(coalesce(sum(sum(c)) OVER (
               ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
    FROM cnt GROUP BY cents
),
ranksum AS (
    SELECT c.event_type,
           CAST(sum(c.c) AS BIGINT) AS n,
           CAST(sum(CAST(c.c AS DECIMAL(38,0))
                    * (2 * t.cum_before + t.t + 1)) AS DECIMAL(38,0))
               AS r2
    FROM cnt c JOIN tot t ON t.cents = c.cents
    GROUP BY c.event_type
),
ties AS (
    SELECT CAST(sum(CAST(t AS DECIMAL(38,0)) * t * t - t)
                AS DECIMAL(38,0)) AS tie3
    FROM tot
),
terms AS (
    SELECT event_type, n, r2,
           floor(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / (4e0 * n)
                 * 1e2 + 0.5) / 1e2 AS rterm
    FROM ranksum
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n) AS BIGINT) AS n_total,
           {sql_exact_sum("rterm", 2)} AS sum_rterm
    FROM terms
),
hstat AS (
    SELECT k, n_total,
           floor((12e0 / (CAST(n_total AS DOUBLE) * (n_total + 1))
                  * sum_rterm - 3e0 * (n_total + 1)) * 1e6 + 0.5) / 1e6
               AS h_raw,
           floor((1e0 - CAST(t.tie3 AS DOUBLE)
                        / (CAST(n_total AS DOUBLE) * n_total * n_total
                           - n_total)) * 1e9 + 0.5) / 1e9 AS tie_c
    FROM agg CROSS JOIN ties t
),
zed AS (
    SELECT k, n_total, h_raw, tie_c,
           floor((h_raw / tie_c) * 1e6 + 0.5) / 1e6 AS h_corrected,
           floor(((cbrt(h_raw / tie_c / (k - 1))
                   - (1e0 - 2e0 / (9e0 * (k - 1))))
                  / sqrt(2e0 / (9e0 * (k - 1)))) * 1e6 + 0.5) / 1e6
               AS z_wh
    FROM hstat
)
SELECT r.event_type, r.n,
       CAST(r.r2 AS DOUBLE) / 2 AS rank_sum,
       floor(CAST(r.r2 AS DOUBLE) / (2e0 * r.n) * 1e6 + 0.5) / 1e6
           AS mean_rank,
       z.h_corrected AS h_stat, z.z_wh,
       floor({{p}} * 1e6 + 0.5) / 1e6 AS p_value
FROM ranksum r CROSS JOIN zed z
ORDER BY r.event_type
"""


def _kw_sql() -> str:
    return _KW_SQL.format(p=sql_normal_two_sided_p("abs(z.z_wh)"))


@register("events_kruskal_wallis_h", oracle=_kw_sql())
def events_kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank test of event value across the five event
    types: per-type n / rank sum / mean rank with the tie-corrected H,
    Wilson–Hilferty z, and two-sided normal p."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_kw_sql())


# ---------------------------------------------------------------------------
# Brown–Forsythe (median-based Levene) homogeneity of variance
# ---------------------------------------------------------------------------
# The assumption check behind events_anova_f_oneway: are the five
# event-type value variances even comparable? Group medians come off
# the PARTITIONED cents-histogram CDF (per-type, bounded by the
# distinct-cents domain — never a per-row rank); the lower-median index
# ceil(n/2) is the pure-integer compare 2·cum ≥ n + n%2, so no
# engine-specific integer division. |x − med| deviations are exact
# cents integers; the one-way F on them follows the ANOVA moment
# algebra with snapped term sums.

_BF_SQL = """
WITH vals AS (
    SELECT event_type,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL
),
hist AS (
    SELECT event_type, cents, CAST(count(*) AS BIGINT) AS c
    FROM vals GROUP BY event_type, cents
),
cum AS (
    SELECT event_type, cents, c,
           CAST(sum(c) OVER (PARTITION BY event_type ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS cum_incl,
           CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n_g
    FROM hist
),
med AS (
    SELECT event_type, CAST(min(cents) AS BIGINT) AS med_cents
    FROM cum WHERE 2 * cum_incl >= n_g + (n_g % 2)
    GROUP BY event_type
),
dev AS (
    SELECT h.event_type, h.c,
           abs(h.cents - m.med_cents) AS z
    FROM hist h JOIN med m ON m.event_type = h.event_type
),
grp AS (
    SELECT event_type,
           CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(CAST(c AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS s1,
           CAST(sum(CAST(c AS DECIMAL(38,0)) * z * z) AS DECIMAL(38,0))
               AS s2
    FROM dev GROUP BY event_type
),
terms AS (
    SELECT event_type, n, s1, s2,
           floor(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n / 1e4
                 * 1e2 + 0.5) / 1e2 AS s2n
    FROM grp
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n) AS BIGINT) AS n_total,
           CAST(sum(s1) AS DECIMAL(38,0)) AS s_all,
           CAST(sum(s2) AS DECIMAL(38,0)) AS ss_all,
           CAST(sum(CAST(floor(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                               / n / 1e4 * 1e2 + 0.5) AS DECIMAL(38,0)))
                AS DOUBLE) / 1e2 AS sum_s2n
    FROM terms
),
ssq AS (
    SELECT k, n_total,
           sum_s2n - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                     / n_total / 1e4 AS ss_between,
           CAST(ss_all AS DOUBLE) / 1e4 - sum_s2n AS ss_within
    FROM agg
)
SELECT k AS n_groups, n_total,
       floor(ss_between * 1e2 + 0.5) / 1e2 AS ss_between_z,
       floor(ss_within * 1e2 + 0.5) / 1e2 AS ss_within_z,
       floor((ss_between / (k - 1)) / (ss_within / (n_total - k))
             * 1e6 + 0.5) / 1e6 AS w_stat,
       floor(ss_between / (ss_between + ss_within) * 1e6 + 0.5) / 1e6
           AS eta_squared
FROM ssq
"""


@register("events_brown_forsythe_levene", oracle=_BF_SQL)
def events_brown_forsythe_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe (median-based Levene) test of variance
    homogeneity across the five event types: the one-way F statistic on
    |value − group median| deviations, with its between/within sums of
    squares and η².

    Scale: one histogram group-by, a PARTITIONED bounded-CDF median
    read, one more group-by of exact integer moments — no per-row
    ranks, no single-partition exchange.
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(_BF_SQL)


# ---------------------------------------------------------------------------
# Decision stump: best single split by Gini gain
# ---------------------------------------------------------------------------
# The 1-level CART round over lineitem: label = (l_returnflag = 'R'),
# candidate features quantity (integer 1..50) and discount (integer
# percent 0..10) — BOUNDED value domains, so every candidate threshold
# comes off a tiny per-feature histogram and its PARTITIONED cumulative
# CDF; the best split per feature is a partitioned row_number over
# ≤ 51 candidate rows. The corpus-sized work is exactly one group-by.

_STUMP_SQL = """
WITH rows_in AS (
    SELECT CAST(l_quantity AS BIGINT) AS qty,
           CAST(floor(l_discount * 1e2 + 0.5) AS BIGINT) AS disc_pct,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS lab
    FROM lineitem
),
feats AS (
    SELECT 'quantity' AS feature, qty AS v, lab FROM rows_in
    UNION ALL
    SELECT 'discount_pct' AS feature, disc_pct AS v, lab FROM rows_in
),
hist AS (
    SELECT feature, v,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(lab) AS BIGINT) AS pos
    FROM feats GROUP BY feature, v
),
cum AS (
    SELECT feature, v,
           CAST(sum(n) OVER (PARTITION BY feature ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS nl,
           CAST(sum(pos) OVER (PARTITION BY feature ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS posl,
           CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS n_tot,
           CAST(sum(pos) OVER (PARTITION BY feature) AS BIGINT) AS pos_tot
    FROM hist
),
splits AS (
    SELECT feature, v AS threshold, nl, n_tot - nl AS nr,
           posl, pos_tot - posl AS posr, n_tot, pos_tot,
           floor(((CAST(nl AS DOUBLE) / n_tot)
                  * (1e0 - (CAST(posl AS DOUBLE) / nl)
                          * (CAST(posl AS DOUBLE) / nl)
                        - (CAST(nl - posl AS DOUBLE) / nl)
                          * (CAST(nl - posl AS DOUBLE) / nl))
                  + (CAST(n_tot - nl AS DOUBLE) / n_tot)
                  * (1e0 - (CAST(pos_tot - posl AS DOUBLE) / (n_tot - nl))
                          * (CAST(pos_tot - posl AS DOUBLE) / (n_tot - nl))
                        - (CAST((n_tot - nl) - (pos_tot - posl) AS DOUBLE)
                           / (n_tot - nl))
                          * (CAST((n_tot - nl) - (pos_tot - posl) AS DOUBLE)
                             / (n_tot - nl))))
                 * 1e6 + 0.5) / 1e6 AS gini_split
    FROM cum WHERE nl > 0 AND nl < n_tot
),
parent AS (
    SELECT feature,
           floor((1e0 - (CAST(pos_tot AS DOUBLE) / n_tot)
                       * (CAST(pos_tot AS DOUBLE) / n_tot)
                     - (CAST(n_tot - pos_tot AS DOUBLE) / n_tot)
                       * (CAST(n_tot - pos_tot AS DOUBLE) / n_tot))
                 * 1e6 + 0.5) / 1e6 AS gini_parent
    FROM (SELECT DISTINCT feature, n_tot, pos_tot FROM cum)
),
best AS (
    SELECT feature, threshold, nl, nr, posl, posr, gini_split,
           row_number() OVER (PARTITION BY feature
                              ORDER BY gini_split, threshold) AS rk
    FROM splits
)
SELECT b.feature, b.threshold,
       b.nl AS n_left, b.nr AS n_right,
       b.posl AS pos_left, b.posr AS pos_right,
       b.gini_split,
       floor((p.gini_parent - b.gini_split) * 1e6 + 0.5) / 1e6
           AS gini_gain
FROM best b JOIN parent p ON p.feature = b.feature
WHERE b.rk = 1
ORDER BY b.feature
"""


@register("mlstats_decision_stump", oracle=_STUMP_SQL)
def mlstats_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-feature Gini split (1-level CART) predicting
    l_returnflag = 'R' from quantity and integer-percent discount:
    per-feature winning threshold, child counts, split Gini and gain.

    Scale: one map-side-combinable histogram group-by over lineitem;
    all split search runs on ≤ 51-row per-feature histograms with
    PARTITIONED cumulative windows.
    """
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_STUMP_SQL)


# ---------------------------------------------------------------------------
# 5-fold cross-validated simple regression (price ~ quantity)
# ---------------------------------------------------------------------------
# The CV harness every model eval needs, done distributed-right: fold
# moments are computed ONCE per fold (one corpus group-by of exact
# integer sums); each fold's TRAIN moments are total-minus-fold
# subtractions (exact), the closed-form OLS fit is per-fold constant
# algebra, and held-out SSE/SST expand from the same fold moments with
# 1e-6-snapped coefficients — the corpus is never re-scanned per fold.

def _cv_ols_sql(fold_expr: str) -> str:
    return f"""
WITH rows_in AS (
    SELECT {fold_expr} AS fold,
           CAST(l_quantity AS BIGINT) AS x,
           CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT) AS y
    FROM lineitem
),
fm AS (
    SELECT fold,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
           CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
    FROM rows_in GROUP BY fold
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS n,
           CAST(sum(sx) AS BIGINT) AS sx,
           CAST(sum(sy) AS BIGINT) AS sy,
           CAST(sum(sxx) AS BIGINT) AS sxx,
           CAST(sum(sxy) AS DECIMAL(38,0)) AS sxy,
           CAST(sum(syy) AS DECIMAL(38,0)) AS syy
    FROM fm
),
train AS (
    SELECT f.fold,
           t.n - f.n AS n, t.sx - f.sx AS sx, t.sy - f.sy AS sy,
           t.sxx - f.sxx AS sxx,
           CAST(t.sxy - f.sxy AS DECIMAL(38,0)) AS sxy,
           CAST(t.syy - f.syy AS DECIMAL(38,0)) AS syy
    FROM fm f CROSS JOIN tot t
),
fit AS (
    SELECT fold,
           floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * sx)) * 1e6 + 0.5) / 1e6
               AS b,
           n, sx, sy
    FROM train
),
coef AS (
    SELECT fold, b,
           floor((CAST(sy AS DOUBLE) / n - b * (CAST(sx AS DOUBLE) / n))
                 * 1e6 + 0.5) / 1e6 AS a
    FROM fit
),
eval_f AS (
    SELECT f.fold, f.n AS n_test, c.a, c.b,
           CAST(f.syy AS DOUBLE) - 2e0 * c.a * f.sy
               - 2e0 * c.b * CAST(f.sxy AS DOUBLE)
               + 2e0 * c.a * c.b * f.sx
               + c.a * c.a * f.n + c.b * c.b * f.sxx AS sse,
           CAST(f.syy AS DOUBLE)
               - CAST(f.sy AS DOUBLE) * f.sy / f.n AS sst
    FROM fm f JOIN coef c ON c.fold = f.fold
)
SELECT fold, n_test,
       floor((b / 1e2) * 1e6 + 0.5) / 1e6 AS slope,
       floor((a / 1e2) * 1e6 + 0.5) / 1e6 AS intercept,
       floor((1e0 - sse / sst) * 1e6 + 0.5) / 1e6 AS r2_holdout
FROM eval_f
ORDER BY fold
"""


_CV_KEY_S = "concat(CAST(l_orderkey AS STRING), '-', CAST(l_linenumber AS STRING))"
_CV_KEY_D = "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"


@register(
    "mlstats_cv_ols_r2",
    oracle=_cv_ols_sql(f"({duck_hash60(_CV_KEY_D)}) % 5"),
)
def mlstats_cv_ols_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated simple OLS (extended price ~ quantity):
    per-fold train coefficients (fit on the other four folds via exact
    moment subtraction) and held-out R².

    Scale: exactly ONE corpus group-by (per-fold exact moments); all
    fold fitting and evaluation is constant-size algebra.
    """
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_cv_ols_sql(f"pmod({spark_hash60(_CV_KEY_S)}, 5)"))


# ---------------------------------------------------------------------------
# Blocked edit-distance similarity join (ER candidate verification)
# ---------------------------------------------------------------------------
# The string-similarity member of the ER battery: the sorted-
# neighborhood / Fellegi-Sunter stages above compare FIELD EQUALITY;
# this one scores lexical near-matches with Levenshtein distance —
# the operator behind typo-tolerant record linkage. Never all-pairs:
# candidates come from (first word, length-band) blocks, each block
# rank-capped at 40 rows (the dedup bucket-cap discipline — a
# hot block degrades to a documented sample instead of a quadratic
# blowup), and only in-block pairs pay the edit-distance evaluation.
# levenshtein() is unit-cost edit distance in BOTH engines; the
# similarity 1 − d/max_len is a single-division rational snapped to
# the 1e-6 grid BEFORE the threshold compare (repo invariant).

_LEV_SQL = """
WITH np AS (
    SELECT p_partkey AS k, p_name AS nm,
           split_part(p_name, ' ', 1) AS w0,
           CAST(floor(length(p_name) / 4e0) AS BIGINT) AS lb
    FROM part
),
capped AS (
    SELECT k, nm, w0, lb FROM (
        SELECT np.*,
               row_number() OVER (PARTITION BY w0, lb ORDER BY k) AS rk
        FROM np) z
    WHERE rk <= 40
),
pairs AS (
    SELECT a.k AS key_a, b.k AS key_b, a.nm AS name_a, b.nm AS name_b,
           CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
           greatest(length(a.nm), length(b.nm)) AS mx
    FROM capped a
    JOIN capped b ON a.w0 = b.w0 AND a.lb = b.lb AND a.k < b.k
),
scored AS (
    SELECT key_a, key_b, name_a, name_b, dist,
           floor((1e0 - CAST(dist AS DOUBLE) / mx) * 1e6 + 0.5) / 1e6
               AS name_similarity
    FROM pairs
)
SELECT key_a, key_b, name_a, name_b, dist AS edit_distance,
       name_similarity
FROM scored
WHERE name_similarity >= 6e-1
ORDER BY name_similarity DESC, key_a, key_b
LIMIT 50
"""


@register("er_levenshtein_blocked", oracle=_LEV_SQL)
def er_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant candidate pairs over part names: (first word,
    length band) blocking with a 40-row block cap, in-block Levenshtein
    scoring, snapped 1 − d/max_len similarity >= 0.6, top-50 totally
    ordered."""
    register_views(spark, sf_dir, "part")
    return spark.sql(_LEV_SQL)


# ---------------------------------------------------------------------------
# Platt scaling: parametric recalibration (3 unrolled Newton steps)
# ---------------------------------------------------------------------------
# The parametric member of the calibration battery (bins → isotonic →
# conformal → ECE → Platt): fit p = σ(a·x + b) to the per-decile
# Gopher-pass rates by document-weighted logistic maximum likelihood,
# via Newton-Raphson on the 2-parameter system — gradient
# Σ nᵢ(pᵢ−yᵢ)[xᵢ,1], Hessian Σ nᵢpᵢ(1−pᵢ)[x² x; x 1], closed-form 2×2
# solve, three unrolled steps from (0,0). Everything runs on the SAME
# bounded decile-bin relation the isotonic query uses; σ's exp() (the
# one libm call per bin-step) snaps to the 1e-9 grid the moment it is
# computed, bin sums are 1e-9-snapped exact sums, and the updated
# parameters re-snap each step — both engines walk identical doubles.


def _platt_sql(bins: str) -> str:
    es = sql_exact_sum

    def step(k: int) -> str:
        prev = f"s{k - 1}"
        return f"""
g{k} AS (
    SELECT {es("t.n * (t.pp - t.y) * t.x", 9)} AS ga,
           {es("t.n * (t.pp - t.y)", 9)} AS gb,
           {es("t.n * t.pp * (1e0 - t.pp) * t.x * t.x", 9)} AS haa,
           {es("t.n * t.pp * (1e0 - t.pp) * t.x", 9)} AS hab,
           {es("t.n * t.pp * (1e0 - t.pp)", 9)} AS hbb
    FROM (
        SELECT b.x, b.y, b.n,
               floor((1e0 / (1e0 + exp(-(p.a * b.x + p.b))))
                     * 1e9 + 0.5) / 1e9 AS pp
        FROM pbins b CROSS JOIN {prev} p
    ) t
),
s{k} AS (
    SELECT floor((p.a - (g.hbb * g.ga - g.hab * g.gb)
                  / (g.haa * g.hbb - g.hab * g.hab)) * 1e9 + 0.5) / 1e9
               AS a,
           floor((p.b - (g.haa * g.gb - g.hab * g.ga)
                  / (g.haa * g.hbb - g.hab * g.hab)) * 1e9 + 0.5) / 1e9
               AS b
    FROM g{k} g CROSS JOIN {prev} p
)"""

    return f"""
pbins AS (
    SELECT CAST(decile AS DOUBLE) AS x,
           CAST(n_gopher_pass AS DOUBLE) / n_docs AS y,
           CAST(n_docs AS DOUBLE) AS n
    FROM {bins}
),
s0 AS (SELECT 0e0 AS a, 0e0 AS b),{step(1)},{step(2)},{step(3)}
SELECT CAST(b.x AS BIGINT) AS decile,
       CAST(b.n AS BIGINT) AS n_docs,
       floor(b.y * 1e6 + 0.5) / 1e6 AS raw_rate,
       floor((1e0 / (1e0 + exp(-(s.a * b.x + s.b)))) * 1e6 + 0.5) / 1e6
           AS platt_rate,
       floor(s.a * 1e6 + 0.5) / 1e6 AS platt_a,
       floor(s.b * 1e6 + 0.5) / 1e6 AS platt_b
FROM pbins b CROSS JOIN s3 s
ORDER BY decile
"""


_PLATT_DUCK = (
    "WITH bins AS (SELECT decile, n_docs, n_gopher_pass FROM ("
    + _CALIB_DUCK_SQL
    + ") z),\n"
    + _platt_sql("bins").lstrip()
)


@register("quality_platt_scaling", oracle=_PLATT_DUCK)
def quality_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt recalibration of the decile reliability curve: logistic
    σ(a·decile + b) fitted by three unrolled Newton steps, reported as
    the per-decile calibrated rate alongside the raw rate and the
    fitted (a, b).

    The bounded bin relation feeds every Newton step; Spark inlines
    CTEs, so it is materialized once via localCheckpoint.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            "SELECT decile, n_docs, n_gopher_pass FROM ("
            + _CALIB_SPARK_SQL
            + ") z"
        ),
        "platt_bins",
    )
    return spark.sql("WITH " + _platt_sql("platt_bins").lstrip())


# ---------------------------------------------------------------------------
# Empirical-Bayes Beta-Binomial shrinkage of per-brand return rates
# ---------------------------------------------------------------------------
# The James-Stein move every metrics pipeline eventually needs: a brand
# with 40 lineitems and a 30 % return rate is NOISE, one with 40,000 is
# SIGNAL — raw rates rank them identically. Method-of-moments fits a
# Beta(alpha, beta) prior across brands (m, v of the per-brand rates),
# and each brand reports its posterior mean (k + alpha)/(n + alpha+beta)
# — small-n brands shrink hard toward the prior mean, big-n brands
# barely move.
#
# Float discipline: each raw rate is ONE exact-integer double division
# snapped to micro-units; the cross-brand moments are exact BIGINT sums
# of those micro-units (order-independent); m, v, alpha+beta, and each
# posterior are single float expressions, snapped (v on the 1e-12 grid
# — it is a second moment of micro-snapped values). Scale: one
# lineitem-part equi-join (no broadcast hint — part grows with the
# corpus, AQE decides), partial-aggregated to the bounded brand
# relation; everything after is 25-row algebra.

_EB_SHRINK_SQL = """
WITH per AS (
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
),
rates AS (
    SELECT brand, n, k,
           CAST(floor((CAST(k AS DOUBLE) / n) * 1e6 + 0.5) AS BIGINT)
               AS p_u
    FROM per
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS g,
           CAST(sum(p_u) AS BIGINT) AS sp,
           CAST(sum(p_u * p_u) AS BIGINT) AS sp2
    FROM rates
),
prior AS (
    SELECT
        floor((CAST(sp AS DOUBLE) / g / 1e6) * 1e6 + 0.5) / 1e6 AS m,
        floor(((CAST(sp2 AS DOUBLE) / g
                - (CAST(sp AS DOUBLE) / g) * (CAST(sp AS DOUBLE) / g))
               / 1e12) * 1e12 + 0.5) / 1e12 AS v
    FROM mom
),
ab AS (
    SELECT m,
           CASE WHEN v > 0e0 AND m > 0e0 AND m < 1e0
                THEN floor(greatest(0e0, m * (1e0 - m) / v - 1e0)
                           * 1e6 + 0.5) / 1e6
                ELSE 0e0 END AS s
    FROM prior
)
SELECT r.brand, r.n, r.k,
       floor((CAST(r.k AS DOUBLE) / r.n) * 1e6 + 0.5) / 1e6 AS raw_rate,
       floor(((r.k + a.m * a.s) / (r.n + a.s)) * 1e6 + 0.5) / 1e6
           AS shrunk_rate
FROM rates r CROSS JOIN ab a
ORDER BY r.brand
"""


@register("mlstats_eb_beta_shrinkage", oracle=_EB_SHRINK_SQL)
def mlstats_eb_beta_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes Beta-Binomial shrinkage of per-brand return
    rates: method-of-moments prior across brands, posterior-mean rate
    per brand next to the raw rate."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_EB_SHRINK_SQL)


# ---------------------------------------------------------------------------
# Standardized effect sizes for the A/B family
# ---------------------------------------------------------------------------
# events_ab_test_lift answers "is there an effect?" (z, p); the sizing
# question every experiment review asks next — "HOW BIG, in units that
# transfer across metrics?" — needs the standardized family: Cohen's d
# (pooled-SD difference), Hedges' g (the small-sample bias correction
# J = 1 - 3/(4N-9)), and Glass's delta (control-SD denominator, the
# right choice when treatment changes the variance too). Same
# deterministic sha-hash arm split as the lift/DiD/Qini queries, so
# the whole causal family reads off one assignment.
#
# Exactness: per-arm moments are exact integers (snapped cents,
# second moment in DECIMAL(38,0)); each effect size is one final
# float expression over the four-cell rollup, snapped at output.
# One corpus pass; everything after is a 2-row relation.


def _effect_sql(hash28: str) -> str:
    # sample variance from exact integer moments, in dollars^2
    def var(n: str, s: str, ss: str) -> str:
        return (f"(CAST({n} AS DOUBLE) * CAST({ss} AS DOUBLE)"
                f" - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE))"
                f" / (CAST({n} AS DOUBLE) * ({n} - 1)) / 1e4")

    v_c = var("n_c", "s_c", "ss_c")
    v_t = var("n_t", "s_t", "ss_t")
    diff = "(CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c) / 1e2"
    pooled = (f"sqrt(((n_c - 1) * ({v_c}) + (n_t - 1) * ({v_t}))"
              f" / (n_c + n_t - 2))")
    return f"""
WITH vals AS (
    SELECT CASE WHEN {hash28} % 2 = 0 THEN 0 ELSE 1 END AS arm,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
),
cells AS (
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
           CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                AS DECIMAL(38,0)) AS ss
    FROM vals GROUP BY arm
),
wide AS (
    SELECT
        min(CASE WHEN arm = 0 THEN n END) AS n_c,
        min(CASE WHEN arm = 0 THEN s END) AS s_c,
        min(CASE WHEN arm = 0 THEN ss END) AS ss_c,
        min(CASE WHEN arm = 1 THEN n END) AS n_t,
        min(CASE WHEN arm = 1 THEN s END) AS s_t,
        min(CASE WHEN arm = 1 THEN ss END) AS ss_t
    FROM cells
)
SELECT n_c, n_t,
       floor(CAST(s_c AS DOUBLE) / n_c / 1e2 * 1e6 + 0.5) / 1e6 AS mean_c,
       floor(CAST(s_t AS DOUBLE) / n_t / 1e2 * 1e6 + 0.5) / 1e6 AS mean_t,
       floor(sqrt({v_c}) * 1e6 + 0.5) / 1e6 AS sd_c,
       floor(sqrt({v_t}) * 1e6 + 0.5) / 1e6 AS sd_t,
       floor(({diff}) / ({pooled}) * 1e6 + 0.5) / 1e6 AS cohens_d,
       floor(({diff}) / ({pooled})
             * (1e0 - 3e0 / (4e0 * (n_c + n_t) - 9e0))
             * 1e6 + 0.5) / 1e6 AS hedges_g,
       floor(({diff}) / sqrt({v_c}) * 1e6 + 0.5) / 1e6 AS glass_delta,
       floor(({v_t}) / ({v_c}) * 1e6 + 0.5) / 1e6 AS variance_ratio
FROM wide
"""


@register(
    "events_effect_sizes",
    oracle=_effect_sql(
        duck_hash28("concat('fx', CAST(user_id AS STRING))")
    ),
)
def events_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d, Hedges' g, Glass's delta, and the variance ratio of
    purchase value between hash-randomized arms — the standardized
    sizing companion to events_ab_test_lift."""
    from automated_data_pipeline_python_spark.functions.text import (
        spark_hash28,
    )
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _effect_sql(spark_hash28("concat('fx', CAST(user_id AS STRING))"))
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test (round 10)
# ---------------------------------------------------------------------------
# events_ab_test_lift tests PROPORTIONS and events_effect_sizes sizes
# the mean difference; the inference step between them — "is the mean
# purchase value different, WITHOUT assuming equal variances?" — is
# Welch (1947): t = diff / sqrt(v_c/n_c + v_t/n_t) with the
# Welch–Satterthwaite effective df. Same deterministic sha-hash arm
# split as the rest of the causal family, so the whole battery reads
# off one assignment.
#
# Exactness: per-arm moments are exact integers (snapped cents, second
# moment in DECIMAL(38,0)); t and df are single float expressions over
# the 2-row rollup. The p-value uses the shared A&S normal polynomial
# (df is in the thousands here and grows with the corpus, where
# t ≈ normal to far below the 1e-6 grid; df is emitted so a reader can
# audit the approximation). t is snapped BEFORE the polynomial and the
# decision compares the SNAPPED p to 0.05 — ulps cannot flip either.


def _welch_sql(hash28: str) -> str:
    def var(n: str, s: str, ss: str) -> str:
        return (f"(CAST({n} AS DOUBLE) * CAST({ss} AS DOUBLE)"
                f" - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE))"
                f" / (CAST({n} AS DOUBLE) * ({n} - 1)) / 1e4")

    v_c = var("n_c", "s_c", "ss_c")
    v_t = var("n_t", "s_t", "ss_t")
    diff = "(CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c) / 1e2"
    se2 = f"(({v_c}) / n_c + ({v_t}) / n_t)"
    t6 = f"floor(({diff}) / sqrt({se2}) * 1e6 + 0.5) / 1e6"
    df = (f"({se2}) * ({se2})"
          f" / ((({v_c}) / n_c) * (({v_c}) / n_c) / (n_c - 1)"
          f"    + (({v_t}) / n_t) * (({v_t}) / n_t) / (n_t - 1))")
    p6 = (f"floor({sql_normal_two_sided_p(f'abs({t6})')} * 1e6 + 0.5)"
          f" / 1e6")
    return f"""
WITH vals AS (
    SELECT CASE WHEN {hash28} % 2 = 0 THEN 0 ELSE 1 END AS arm,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
),
cells AS (
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
           CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                AS DECIMAL(38,0)) AS ss
    FROM vals GROUP BY arm
),
wide AS (
    SELECT
        min(CASE WHEN arm = 0 THEN n END) AS n_c,
        min(CASE WHEN arm = 0 THEN s END) AS s_c,
        min(CASE WHEN arm = 0 THEN ss END) AS ss_c,
        min(CASE WHEN arm = 1 THEN n END) AS n_t,
        min(CASE WHEN arm = 1 THEN s END) AS s_t,
        min(CASE WHEN arm = 1 THEN ss END) AS ss_t
    FROM cells
)
SELECT n_c, n_t,
       floor(CAST(s_c AS DOUBLE) / n_c / 1e2 * 1e6 + 0.5) / 1e6 AS mean_c,
       floor(CAST(s_t AS DOUBLE) / n_t / 1e2 * 1e6 + 0.5) / 1e6 AS mean_t,
       floor(sqrt({v_c}) * 1e6 + 0.5) / 1e6 AS sd_c,
       floor(sqrt({v_t}) * 1e6 + 0.5) / 1e6 AS sd_t,
       {t6} AS welch_t,
       floor({df} * 1e2 + 0.5) / 1e2 AS satterthwaite_df,
       {p6} AS p_normal_approx,
       CAST(CASE WHEN {p6} < 5e-2 THEN 1 ELSE 0 END AS BIGINT)
           AS reject_05
FROM wide
"""


@register(
    "events_welch_ttest",
    oracle=_welch_sql(
        duck_hash28("concat('fx', CAST(user_id AS STRING))")
    ),
)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of mean purchase value between
    hash-randomized arms, with the Welch–Satterthwaite effective df and
    a normal-approximation p-value (df grows with the corpus; emitted
    for audit)."""
    from automated_data_pipeline_python_spark.functions.text import (
        spark_hash28,
    )
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _welch_sql(spark_hash28("concat('fx', CAST(user_id AS STRING))"))
    )
