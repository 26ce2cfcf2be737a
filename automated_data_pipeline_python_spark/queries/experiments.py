"""Online-experimentation analytics: deterministic A/B assignment and
two-proportion lift testing over the event log.

The assignment is a content hash of the user id (the same portable
sha256-prefix hash the sampling/split family uses), so both engines —
and any rerun at any scale — put every user in the same arm with no
stored assignment table. The analysis is one user_id aggregation over
the corpus plus a two-row arm rollup; conversion counts are exact
integers, so the lift and the pooled two-proportion z-score are single
float expressions evaluated identically on both engines, snapped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.text import (
    duck_hash28,
    spark_hash28,
)
from automated_data_pipeline_python_spark.queries.catalog import register
from automated_data_pipeline_python_spark.tables import register_views


def _ab_sql(hash28: str) -> str:
    # hash28 yields a non-negative 28-bit int on both engines, so % 2 is
    # portable (no negative-modulo divergence).
    return f"""
WITH per_user AS (
    -- "converted" = heavy purchaser (>= 14 purchases, roughly the
    -- per-user median at every scale factor — purchases-per-user is
    -- scale-invariant in this corpus, and a ~50% base rate keeps the
    -- pooled variance away from 0, where the z-score is undefined).
    SELECT user_id,
           CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1 END)
                     >= 14 THEN 1 ELSE 0 END AS converted
    FROM events
    GROUP BY user_id
),
assigned AS (
    SELECT CASE WHEN {hash28} % 2 = 0 THEN 'control' ELSE 'treatment' END
               AS arm,
           converted
    FROM per_user
),
arms AS (
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted
    FROM assigned
    GROUP BY arm
),
wide AS (
    SELECT
        max(CASE WHEN arm = 'control' THEN n_users END) AS n_c,
        max(CASE WHEN arm = 'control' THEN n_converted END) AS conv_c,
        max(CASE WHEN arm = 'treatment' THEN n_users END) AS n_t,
        max(CASE WHEN arm = 'treatment' THEN n_converted END) AS conv_t
    FROM arms
)
SELECT n_c AS n_control, conv_c AS conv_control,
       n_t AS n_treatment, conv_t AS conv_treatment,
       floor((CAST(conv_c AS DOUBLE) / n_c) * 1e6 + 0.5) / 1e6 AS p_control,
       floor((CAST(conv_t AS DOUBLE) / n_t) * 1e6 + 0.5) / 1e6 AS p_treatment,
       floor((CAST(conv_t AS DOUBLE) / n_t - CAST(conv_c AS DOUBLE) / n_c)
             * 1e6 + 0.5) / 1e6 AS lift_abs,
       floor(((CAST(conv_t AS DOUBLE) / n_t - CAST(conv_c AS DOUBLE) / n_c)
              / sqrt((CAST(conv_c + conv_t AS DOUBLE) / (n_c + n_t))
                     * (1e0 - CAST(conv_c + conv_t AS DOUBLE) / (n_c + n_t))
                     * (1e0 / n_c + 1e0 / n_t)))
             * 1e4 + 0.5) / 1e4 AS z_score
FROM wide
"""


@register(
    "events_ab_test_lift",
    oracle=_ab_sql(duck_hash28("CAST(user_id AS VARCHAR)")),
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-assigned A/B split with conversion lift and pooled
    two-proportion z-score."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_ab_sql(spark_hash28("CAST(user_id AS STRING)")))


# ---------------------------------------------------------------------------
# CUPED variance reduction (pre-period covariate adjustment)
# ---------------------------------------------------------------------------
# The standard industry fix for underpowered experiments: adjust each
# user's post-period metric by their own pre-period behavior,
# Y' = Y − θ(X − E[X]) with θ = cov(X,Y)/var(X), shrinking metric
# variance by exactly corr(X,Y)² without biasing the treatment
# contrast. EVERY statistic here derives from exact integer moment
# sums (Σx, Σy, Σxy, Σx², Σy², per arm and pooled) — never from
# engine-internal covar_pop/var_pop, whose float accumulation order
# differs between engines — so θ, the variance-reduction factor, and
# both lift estimates are single deterministic float expressions over
# integers, snapped at output. One user_id aggregation over the
# corpus; everything after is a handful of scalar rows.


def _cuped_sql(hash28: str, us0: str, span: str) -> str:
    return f"""
WITH bounds AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
per_user AS (
    SELECT user_id,
           sum(CASE WHEN 2 * ({us0}) < ({span})
                     AND event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
           sum(CASE WHEN 2 * ({us0}) >= ({span})
                     AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events CROSS JOIN bounds b
    GROUP BY user_id
),
assigned AS (
    SELECT CASE WHEN {hash28} % 2 = 0 THEN 'control' ELSE 'treatment' END
               AS arm,
           x, y
    FROM per_user
),
mom AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(x * y) AS DOUBLE) AS sxy,
           CAST(sum(x * x) AS DOUBLE) AS sx2,
           CAST(sum(y * y) AS DOUBLE) AS sy2
    FROM assigned
),
arm_mom AS (
    SELECT arm, CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy
    FROM assigned GROUP BY arm
),
wide AS (
    SELECT
        max(CASE WHEN arm = 'control' THEN n END) AS n_c,
        max(CASE WHEN arm = 'control' THEN sx END) AS sx_c,
        max(CASE WHEN arm = 'control' THEN sy END) AS sy_c,
        max(CASE WHEN arm = 'treatment' THEN n END) AS n_t,
        max(CASE WHEN arm = 'treatment' THEN sx END) AS sx_t,
        max(CASE WHEN arm = 'treatment' THEN sy END) AS sy_t
    FROM arm_mom
),
theta AS (
    SELECT (m.n * m.sxy - m.sx * m.sy) / (m.n * m.sx2 - m.sx * m.sx) AS th,
           ((m.n * m.sxy - m.sx * m.sy) * (m.n * m.sxy - m.sx * m.sy))
           / ((m.n * m.sx2 - m.sx * m.sx) * (m.n * m.sy2 - m.sy * m.sy))
               AS corr2
    FROM mom m
)
SELECT CAST(w.n_c AS BIGINT) AS n_control,
       CAST(w.n_t AS BIGINT) AS n_treatment,
       floor((t.th) * 1e6 + 0.5) / 1e6 AS theta,
       floor((t.corr2) * 1e6 + 0.5) / 1e6 AS variance_reduction,
       floor((w.sy_t / w.n_t - w.sy_c / w.n_c) * 1e6 + 0.5) / 1e6
           AS raw_lift,
       floor(((w.sy_t / w.n_t - t.th * (w.sx_t / w.n_t))
              - (w.sy_c / w.n_c - t.th * (w.sx_c / w.n_c)))
             * 1e6 + 0.5) / 1e6 AS cuped_lift
FROM wide w CROSS JOIN theta t
"""


@register(
    "events_cuped_adjustment",
    oracle=_cuped_sql(
        duck_hash28("CAST(user_id AS VARCHAR)"),
        "date_diff('microsecond', b.t0, ts)",
        "date_diff('microsecond', b.t0, b.t1)",
    ),
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted lift: pre-period purchase counts as the covariate,
    variance reduction = corr², all from exact integer moment sums."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _cuped_sql(
            spark_hash28("CAST(user_id AS STRING)"),
            "timestampdiff(MICROSECOND, b.t0, ts)",
            "timestampdiff(MICROSECOND, b.t0, b.t1)",
        )
    )


# ---------------------------------------------------------------------------
# Coarsened Exact Matching (CEM): the observational counterpart
# ---------------------------------------------------------------------------
# When assignment ISN'T randomized, compare like with like: coarsen
# covariates into strata (activity quintiles × span terciles), drop
# strata lacking common support (no treated or no control members),
# and report the per-stratum treated/control outcome contrast.
# Coarsening reads the bucket off each covariate's DISTINCT-VALUE CDF
# by integer ceil-division — not an unpartitioned ntile window, which
# would sort every user in one partition; equal covariate values share
# a stratum by construction (the actual CEM definition). Output is PER
# STRATUM — no cross-stratum double summation exists, so every number
# is a ratio of exact integers snapped once (a single weighted-ATT
# scalar would sum doubles in engine-dependent order; readers weight
# by w_treated).


def _cem_sql(hash28: str, idiv: str) -> str:
    d = lambda a, b: idiv.format(a=a, b=b)  # noqa: E731
    return f"""
WITH per_user AS (
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS outcome
    FROM events
    GROUP BY user_id
),
ev_cdf AS (
    SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
    FROM (SELECT n_events AS v, CAST(count(*) AS BIGINT) AS c
          FROM per_user GROUP BY n_events)
),
dy_cdf AS (
    SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
    FROM (SELECT n_days AS v, CAST(count(*) AS BIGINT) AS c
          FROM per_user GROUP BY n_days)
),
u_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_user),
strat AS (
    SELECT u.user_id, u.outcome,
           CASE WHEN {hash28} % 2 = 1 THEN 1 ELSE 0 END AS treated,
           CAST({d('5 * e.cum + t.n - 1', 't.n')} AS INT) AS activity_q,
           CAST({d('3 * y.cum + t.n - 1', 't.n')} AS INT) AS span_q
    FROM per_user u
    JOIN ev_cdf e ON e.v = u.n_events
    JOIN dy_cdf y ON y.v = u.n_days
    CROSS JOIN u_tot t
),
cells AS (
    SELECT activity_q, span_q,
           CAST(sum(treated) AS BIGINT)                       AS n_treated,
           CAST(count(*) - sum(treated) AS BIGINT)            AS n_control,
           CAST(sum(CASE WHEN treated = 1 THEN outcome ELSE 0 END)
                AS BIGINT)                                    AS sum_t,
           CAST(sum(CASE WHEN treated = 0 THEN outcome ELSE 0 END)
                AS BIGINT)                                    AS sum_c
    FROM strat
    GROUP BY activity_q, span_q
),
kept AS (
    SELECT * FROM cells WHERE n_treated > 0 AND n_control > 0
),
tot AS (SELECT CAST(sum(n_treated) AS BIGINT) AS t_all FROM kept)
SELECT k.activity_q, k.span_q, k.n_treated, k.n_control,
       floor((CAST(k.sum_t AS DOUBLE) / k.n_treated) * 1e6 + 0.5) / 1e6
           AS mean_treated,
       floor((CAST(k.sum_c AS DOUBLE) / k.n_control) * 1e6 + 0.5) / 1e6
           AS mean_control,
       floor((CAST(k.sum_t AS DOUBLE) / k.n_treated
              - CAST(k.sum_c AS DOUBLE) / k.n_control) * 1e6 + 0.5) / 1e6
           AS att_contrast,
       floor((CAST(k.n_treated AS DOUBLE) / t.t_all) * 1e6 + 0.5) / 1e6
           AS w_treated
FROM kept k CROSS JOIN tot t
"""


@register(
    "events_cem_matching",
    oracle=_cem_sql(duck_hash28("CAST(user_id AS STRING)"),
                    "CAST(({a}) // ({b}) AS BIGINT)"),
)
def events_cem_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened-exact-matching contrast: activity×span strata with
    common-support pruning, per-stratum treated/control purchase-count
    means and ATT weights.

    Scale: one user aggregation, two vocabulary-free ntile windows over
    the USER relation (not events), one 15-cell rollup; integers until
    four snapped ratios per stratum.
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _cem_sql(spark_hash28("CAST(user_id AS STRING)"),
                 "CAST(({a}) DIV ({b}) AS BIGINT)")
    )


# ---------------------------------------------------------------------------
# Power analysis: the sample-size calculator that precedes the test
# ---------------------------------------------------------------------------
# Completes the experimentation suite (design → CUPED → CEM →
# analysis): given the OBSERVED conversion base rate p (the same ≥14-
# purchases definition events_ab_test_lift uses), the two-proportion
# sample size per arm for 80% power at two-sided α=5% is
# n = (z_{α/2} + z_β)² · 2·p(1−p) / Δ², evaluated for relative MDEs
# of 2/5/10%. z constants are fixed literals; p is a ratio of exact
# integers; every output is one snapped float expression — the pure
# closed-form shape, one corpus aggregation feeding a 3-row table.

_Z_ALPHA2 = "1.959964"  # z_{0.975}
_Z_BETA = "0.841621"    # z_{0.80}


def _power_sql() -> str:
    zsum2 = f"(({_Z_ALPHA2} + {_Z_BETA}) * ({_Z_ALPHA2} + {_Z_BETA}))"
    return f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1 END)
                     >= 14 THEN 1 ELSE 0 END AS converted
    FROM events
    GROUP BY user_id
),
base AS (
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_conv
    FROM per_user
),
mde AS (
    SELECT 0.02 AS rel UNION ALL SELECT 0.05 UNION ALL SELECT 0.10
),
calc AS (
    SELECT m.rel, b.n_users, b.n_conv,
           CAST(b.n_conv AS DOUBLE) / b.n_users AS p,
           CAST(m.rel AS DOUBLE) * (CAST(b.n_conv AS DOUBLE) / b.n_users)
               AS delta
    FROM mde m CROSS JOIN base b
)
SELECT floor(rel * 1e6 + 0.5) / 1e6 AS rel_mde,
       n_users, n_conv,
       floor(p * 1e6 + 0.5) / 1e6 AS base_rate,
       CAST(ceil({zsum2} * 2e0 * p * (1e0 - p) / (delta * delta))
            AS BIGINT) AS n_per_arm,
       (n_users >= 2 * CAST(ceil({zsum2} * 2e0 * p * (1e0 - p)
                                 / (delta * delta)) AS BIGINT))
           AS currently_powered
FROM calc
"""


@register("events_power_analysis", oracle=_power_sql())
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion sample size per arm (80% power, α=5%) at 2/5/10%
    relative MDE from the observed base rate, with a verdict on
    whether the current user count is already sufficient."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_power_sql())
