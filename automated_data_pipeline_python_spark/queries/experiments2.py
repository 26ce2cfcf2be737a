"""Sequential-decision analytics over the event log: offline bandit
replay, sequential hypothesis testing, and lead-lag cross-correlation.

These complete the experimentation family (A/B lift, CUPED, CEM,
power analysis in :mod:`experiments`) with the *sequential* side of
the discipline — the analyses a growth/ML team runs when decisions are
made over time rather than at a fixed horizon:

- ``events_ucb_bandit_replay``: deterministic offline replay of a
  UCB1 policy over per-day arm statistics (which arm WOULD the policy
  have pulled each day, given the observed history).
- ``events_sprt_ab_trajectory``: Wald's sequential probability ratio
  test trajectory — the cumulative log-likelihood ratio with
  accept/continue boundaries, the standard early-stopping monitor.
- ``events_crosscorr_lead_lag``: Pearson cross-correlation of the
  click and purchase daily series at lags −3..+3 days — the classic
  "does metric X lead metric Y" screen.

Scale shape (the same for all three): ONE corpus-sized aggregation
reduces the event log to a days×arms (or days) relation, and the
sequential logic runs entirely on that bounded relation — cumulative
windows over bounded relations are allowed by the repo invariant, and
every cumulative quantity is an exact integer (counts, snapped cents)
so window-accumulation order cannot perturb results. The only floats
are single scalar expressions over those integers (mean + sqrt bonus,
counts × ln constants, moment-sum correlation), snapped to the 1e-6
grid before any ranking or threshold compare per the repo's
float-boundary discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.text import (
    duck_hash28,
    spark_hash28,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import register_views

# ---------------------------------------------------------------------------
# Offline UCB1 bandit replay
# ---------------------------------------------------------------------------
# Arms = event types; reward = event `value` (2-decimal, snapped to
# exact cents). For each day d (>= the first day every arm has
# history), compute each arm's pre-d pull count n_prev and mean
# reward, score ucb = mean + sqrt(2·ln(N_prev)/n_prev), and emit the
# argmax arm. The spine (all days × all arms, zero-filled) makes the
# cumulative windows well-defined even for arm-silent days. UCB1's
# play-each-arm-once bootstrap is the n_prev>0 filter: in this corpus
# every arm is pulled on day 1, so only day 1 itself is excluded.
# Window sums are over BIGINT (DuckDB widens to HUGEINT — cast back);
# the ucb float is one expression over exact integers, snapped BEFORE
# the per-day argmax, with the arm name as the total-order tiebreak.


_UCB_DAILY_SQL = """
SELECT event_type AS arm, CAST(ts AS DATE) AS d,
       CAST(count(*) AS BIGINT) AS pulls,
       CAST(sum(CAST(floor(value * 1e2 + 0.5) AS DECIMAL(38,0)))
            AS BIGINT) AS reward_c
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


def _ucb_tail(fmt_day: str, daily: str) -> str:
    return f"""
WITH spine AS (
    SELECT a.arm, dd.d
    FROM (SELECT DISTINCT arm FROM {daily}) a
    CROSS JOIN (SELECT DISTINCT d FROM {daily}) dd
),
filled AS (
    SELECT s.arm, s.d,
           coalesce(daily.pulls, 0) AS pulls,
           coalesce(daily.reward_c, 0) AS reward_c
    FROM spine s
    LEFT JOIN {daily} daily ON daily.arm = s.arm AND daily.d = s.d
),
cum AS (
    SELECT arm, d,
           CAST(coalesce(sum(pulls) OVER (
               PARTITION BY arm ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_prev,
           CAST(coalesce(sum(reward_c) OVER (
               PARTITION BY arm ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS r_prev
    FROM filled
),
tot AS (
    SELECT d, CAST(sum(n_prev) AS BIGINT) AS big_n FROM cum GROUP BY d
),
scored AS (
    SELECT cum.arm, cum.d, cum.n_prev, tot.big_n,
           floor((CAST(r_prev AS DOUBLE) / 1e2 / n_prev
                  + sqrt(2e0 * ln(CAST(big_n AS DOUBLE)) / n_prev))
                 * 1e6 + 0.5) / 1e6 AS ucb
    FROM cum
    JOIN tot ON cum.d = tot.d
    WHERE cum.n_prev > 0 AND tot.big_n > 1
),
ranked AS (
    SELECT arm, d, n_prev, big_n, ucb,
           CAST(row_number() OVER (PARTITION BY d ORDER BY ucb DESC, arm)
                AS BIGINT) AS rk
    FROM scored
)
SELECT {fmt_day} AS day, arm AS chosen_arm,
       n_prev AS arm_pulls_before, big_n AS total_pulls_before,
       ucb AS ucb_score
FROM ranked
WHERE rk = 1
ORDER BY day
"""


@register(
    "events_ucb_bandit_replay",
    oracle=(
        "WITH ucb_daily AS (" + _UCB_DAILY_SQL + ")\n"
        + _ucb_tail("strftime(d, '%Y-%m-%d')", "ucb_daily")
        .replace("WITH spine", ", spine", 1)
    ),
)
def events_ucb_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline UCB1 replay: the arm a UCB1 policy would pull each day.

    The bounded days×arms daily relation feeds the spine (twice), the
    fill join, and the cumulative windows; Spark inlines CTEs — four
    corpus scans at 100 TB — so it is materialized once via
    localCheckpoint (DuckDB materializes shared CTEs itself)."""
    register_views(spark, sf_dir, "events")
    materialize(spark.sql(_UCB_DAILY_SQL), "ucb_daily")
    return spark.sql(_ucb_tail("date_format(d, 'yyyy-MM-dd')", "ucb_daily"))


# ---------------------------------------------------------------------------
# Wald SPRT trajectory
# ---------------------------------------------------------------------------
# Bernoulli SPRT on purchase-vs-click composition: each purchase/click
# event is a trial, success = purchase; H0: p = 0.45 vs H1: p = 0.55,
# α = 0.05, β = 0.2. The cumulative LLR after day d is
#   succ·ln(p1/p0) + fail·ln((1−p1)/(1−p0)),
# exact integer counts times two ln constants both engines evaluate
# from the same double inputs. Boundaries A = ln((1−β)/α) = ln(16),
# B = ln(β/(1−α)). Per the float-boundary invariant, BOTH the LLR and
# the boundaries are snapped to the 1e-6 grid before the compare.


_SPRT_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS succ,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS fail
    FROM events
    WHERE event_type IN ('purchase', 'click')
    GROUP BY CAST(ts AS DATE)
),
cum AS (
    SELECT d,
           CAST(sum(succ) OVER (ORDER BY d) AS BIGINT) AS cum_succ,
           CAST(sum(fail) OVER (ORDER BY d) AS BIGINT) AS cum_fail
    FROM daily
),
llr AS (
    SELECT d, cum_succ, cum_fail,
           floor((cum_succ * ln(55e-2 / 45e-2)
                  + cum_fail * ln(45e-2 / 55e-2)) * 1e6 + 0.5) / 1e6
               AS llr
    FROM cum
)
SELECT {fmt_day} AS day,
       cum_succ + cum_fail AS cum_trials, cum_succ, llr,
       CASE
           WHEN llr >= floor(ln(8e-1 / 5e-2) * 1e6 + 0.5) / 1e6
               THEN 'accept_h1'
           WHEN llr <= floor(ln(2e-1 / 95e-2) * 1e6 + 0.5) / 1e6
               THEN 'accept_h0'
           ELSE 'continue'
       END AS decision
FROM llr
ORDER BY day
"""


@register(
    "events_sprt_ab_trajectory",
    oracle=_SPRT_SQL.replace("{fmt_day}", "strftime(d, '%Y-%m-%d')"),
)
def events_sprt_ab_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPRT cumulative log-likelihood trajectory with decision column."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _SPRT_SQL.replace("{fmt_day}", "date_format(d, 'yyyy-MM-dd')")
    )


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation
# ---------------------------------------------------------------------------
# r(lag) = corr(clicks_d, purchases_{d+lag}) for lag −3..+3, computed
# from exact integer moment sums (n, Σx, Σy, Σxy, Σx², Σy²) per lag —
# never from engine-internal corr(), whose accumulation order differs.
# The lag spine is a portable 7-row UNION ALL (inline VALUES syntax
# differs between the engines); the day join is on integer day numbers
# (dialect-parameterized datediff). Magnitudes: with c events/day and
# D days, n·Σxy ≈ D²·c² — BIGINT-safe through ~10⁷ events/day.


_XCORR_DAILY_SQL = """
SELECT CAST(ts AS DATE) AS d,
       CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
            AS BIGINT) AS x,
       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
            AS BIGINT) AS y
FROM events
GROUP BY CAST(ts AS DATE)
"""


def _xcorr_tail(daynum: str, daily: str) -> str:
    lags = " UNION ALL ".join(
        f"SELECT CAST({v} AS BIGINT) AS lag" for v in range(-3, 4)
    )
    return f"""
WITH idx AS (SELECT {daynum} AS i, x, y FROM {daily}),
lags AS ({lags}),
pairs AS (
    SELECT lags.lag, a.x, b.y
    FROM lags
    JOIN idx a ON 1 = 1
    JOIN idx b ON b.i = a.i + lags.lag
),
mom AS (
    SELECT lag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM pairs
    GROUP BY lag
)
SELECT lag AS lag_days, n AS n_days,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS xcorr
FROM mom
ORDER BY lag_days
"""


@register(
    "events_crosscorr_lead_lag",
    oracle=(
        "WITH xc_daily AS (" + _XCORR_DAILY_SQL + ")\n"
        + _xcorr_tail(
            "CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT)",
            "xc_daily",
        ).replace("WITH idx", ", idx", 1)
    ),
)
def events_crosscorr_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase daily-series cross-correlation at lags −3..+3.

    The bounded daily relation is joined to itself per lag; Spark
    inlines CTEs — two corpus scans — so it is materialized once via
    localCheckpoint (DuckDB materializes shared CTEs itself)."""
    register_views(spark, sf_dir, "events")
    materialize(spark.sql(_XCORR_DAILY_SQL), "xc_daily")
    return spark.sql(
        _xcorr_tail(
            "CAST(datediff(d, DATE '1970-01-01') AS BIGINT)", "xc_daily"
        )
    )


# ---------------------------------------------------------------------------
# Hash-seeded Poisson bootstrap CI
# ---------------------------------------------------------------------------
# The scale-correct bootstrap (Chamandy et al., "Estimating Uncertainty
# for Massive Data Streams", and the Poisson bootstrap in Spark's own
# sampleByKey lineage): instead of resampling n rows WITH replacement
# (which needs global coordination), each row gets an independent
# Poisson(1) weight per replicate — preserved under partitioning, one
# map-only pass for ALL replicates. Randomness is the repo's portable
# content hash (event_id ⊕ replicate id → 28-bit uniform), so both
# engines draw identical weights and the whole estimate is
# reproducible — no engine RNG anywhere. The Poisson(1) inverse CDF is
# a CASE ladder over fixed cumulative literals (truncated at k=9,
# P(k>9) < 1e-9). Replicate means land on the 1e-6 grid → integer
# micro-units, so the bootstrap SE derives from exact integer moment
# sums over the B=40 bounded replicate rows. Output: point estimate,
# bootstrap SE, normal-theory 95% CI.

_B_REPLICATES = 40

# P(Poisson(1) <= k) for k = 0..8, 6dp-truncated literals (identical
# text on both engines; the ladder compares a 28-bit integer hash, so
# thresholds are scaled to the integer grid — no float compare at all).
_POIS_CDF6 = [367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990, 999999]


def _pois_case(u6: str) -> str:
    arms = " ".join(
        f"WHEN {u6} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF6)
    )
    return f"CASE {arms} ELSE 9 END"


def _bootstrap_sql(hash28: str) -> str:
    # u6: hash scaled to [0, 1e6) integer grid via modulo (268435456 =
    # 2^28; the modulo keeps arithmetic integer — bias < 2^-8 of a
    # grid cell, irrelevant for a bootstrap draw and identical on both
    # engines).
    u6 = f"({hash28} % 1000000)"
    reps = " UNION ALL ".join(
        f"SELECT {r} AS rep" for r in range(1, _B_REPLICATES + 1)
    )
    return f"""
WITH purch AS (
    SELECT event_id,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
),
reps AS ({reps}),
weighted AS (
    SELECT reps.rep,
           {_pois_case(u6)} AS w,
           cents
    FROM purch CROSS JOIN reps
),
rep_means AS (
    SELECT rep,
           CAST(floor((CAST(sum(w * cents) AS DOUBLE)
                       / (1e2 * sum(w))) * 1e6 + 0.5) AS BIGINT) AS m6
    FROM weighted GROUP BY rep
),
boot AS (
    SELECT CAST(count(*) AS BIGINT) AS b,
           CAST(sum(m6) AS BIGINT) AS sm,
           CAST(sum(m6 * m6) AS BIGINT) AS sm2
    FROM rep_means
),
point AS (
    SELECT CAST(sum(cents) AS BIGINT) AS sc,
           CAST(count(*) AS BIGINT) AS n
    FROM purch
)
SELECT p.n AS n_obs, b.b AS n_replicates,
       floor((CAST(p.sc AS DOUBLE) / (1e2 * p.n)) * 1e6 + 0.5) / 1e6
           AS mean_value,
       floor((sqrt(CAST(b.b * b.sm2 - b.sm * b.sm AS DOUBLE)
                   / (CAST(b.b AS DOUBLE) * (b.b - 1))) / 1e6)
             * 1e6 + 0.5) / 1e6 AS boot_se,
       floor((CAST(p.sc AS DOUBLE) / (1e2 * p.n)
              - 196e-2 * sqrt(CAST(b.b * b.sm2 - b.sm * b.sm AS DOUBLE)
                              / (CAST(b.b AS DOUBLE) * (b.b - 1))) / 1e6)
             * 1e6 + 0.5) / 1e6 AS ci_lower,
       floor((CAST(p.sc AS DOUBLE) / (1e2 * p.n)
              + 196e-2 * sqrt(CAST(b.b * b.sm2 - b.sm * b.sm AS DOUBLE)
                              / (CAST(b.b AS DOUBLE) * (b.b - 1))) / 1e6)
             * 1e6 + 0.5) / 1e6 AS ci_upper
FROM point p CROSS JOIN boot b
"""


@register(
    "events_bootstrap_ci_mean",
    oracle=_bootstrap_sql(
        "CAST('0x' || substr(sha256(CAST(event_id AS VARCHAR) || ':' "
        "|| CAST(rep AS VARCHAR)), 1, 7) AS BIGINT)"
    ),
)
def events_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean purchase value; B=40
    hash-seeded replicates in one map-only pass."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _bootstrap_sql(
            "CAST(conv(substr(sha2(CAST(event_id AS STRING) || ':' "
            "|| CAST(rep AS STRING), 256), 1, 7), 16, 10) AS BIGINT)"
        )
    )


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR screen over the hour-of-day metric family
# ---------------------------------------------------------------------------
# The multiple-comparisons step every metric dashboard needs once it
# tests more than one cell: 24 simultaneous z-tests ("does hour h's
# mean purchase value differ from the global mean?") produce 24
# p-values, and naive α=0.05 thresholding would expect >1 false
# positive; BH (1995) controls the false-discovery rate instead —
# sort p ascending, find the largest k with p_(k) ≤ k·α/m, reject the
# k smallest.
#
# Float discipline: all moments are exact DECIMAL sums of integer
# cents (and squared cents); each z is ONE expression over those
# integers, snapped; p comes from the shared A&S normal polynomial,
# snapped BEFORE the rank (the snap-before-compare invariant — the
# rank is a compare); the BH boundary compares the snapped p to the
# snapped k·α/m with the hour as rank tiebreak. The rank/cumulative
# windows run over the 24-row hourly relation — bounded by the clock,
# not the corpus.
#
# Scale: ONE corpus-sized aggregation to 24 rows; everything after is
# driver-trivial yet expressed relationally.

from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_exact_sum,
    sql_normal_two_sided_p,
)

_BH_ALPHA_OVER_M = "5e-2 / 24e0"

_BH_SQL = f"""
WITH pv AS (
    SELECT CAST(hour(ts) AS BIGINT) AS hr,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
),
hourly AS (
    SELECT hr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
           CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                AS DECIMAL(38,0)) AS s2
    FROM pv GROUP BY hr
),
overall AS (
    SELECT CAST(sum(n) AS BIGINT) AS ng,
           CAST(sum(s) AS DECIMAL(38,0)) AS sg,
           CAST(sum(s2) AS DECIMAL(38,0)) AS s2g
    FROM hourly
),
zed AS (
    SELECT h.hr, h.n,
           floor((CAST(h.s AS DOUBLE) / h.n / 1e2) * 1e6 + 0.5) / 1e6
               AS mean_value,
           floor(((CAST(h.s AS DOUBLE) / h.n - CAST(g.sg AS DOUBLE) / g.ng)
                  / sqrt((CAST(g.s2g AS DOUBLE) / g.ng
                          - (CAST(g.sg AS DOUBLE) / g.ng)
                            * (CAST(g.sg AS DOUBLE) / g.ng)) / h.n))
                 * 1e6 + 0.5) / 1e6 AS z_score
    FROM hourly h CROSS JOIN overall g
),
pvals AS (
    SELECT hr, n, mean_value, z_score,
           floor({sql_normal_two_sided_p("abs(z_score)")} * 1e6 + 0.5) / 1e6
               AS p_value
    FROM zed
),
ranked AS (
    SELECT hr, n, mean_value, z_score, p_value,
           CAST(row_number() OVER (ORDER BY p_value, hr) AS BIGINT) AS p_rank
    FROM pvals
),
thresh AS (
    SELECT hr, n, mean_value, z_score, p_value, p_rank,
           floor((CAST(p_rank AS DOUBLE) * {_BH_ALPHA_OVER_M})
                 * 1e6 + 0.5) / 1e6 AS bh_cutoff
    FROM ranked
),
cut AS (
    SELECT coalesce(max(p_rank), CAST(0 AS BIGINT)) AS kstar
    FROM thresh WHERE p_value <= bh_cutoff
)
SELECT t.hr AS hour_of_day, t.n AS n_purchases, t.mean_value,
       t.z_score, t.p_value, t.p_rank, t.bh_cutoff,
       (t.p_rank <= c.kstar) AS rejected
FROM thresh t CROSS JOIN cut c
ORDER BY hour_of_day
"""


@register("events_bh_fdr_screen", oracle=_BH_SQL)
def events_bh_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24 simultaneous hour-of-day mean-purchase-value z-tests with
    Benjamini–Hochberg FDR control at α=0.05: per-hour z, p, BH rank,
    step-up cutoff, and the reject decision."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_BH_SQL)


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (revenue coalitions)
# ---------------------------------------------------------------------------
# The data-driven attribution model (Shapley 1953 applied to MTA):
# each user's exposure set over the four non-purchase channels forms a
# coalition (exposure = channels seen BEFORE the user's first
# purchase; lifetime exposure is degenerate here — every user
# eventually sees every channel); v(S) is the mean total purchase
# revenue of users exposed to exactly S (the revenue variant — every
# user in this corpus converts, so a conversion-rate v is degenerate;
# a coalition never observed contributes v=0, documented standard
# practice); a channel's
# credit is the exact Shapley sum
# Σ_{S∌i} |S|!(n−|S|−1)!/n!·(v(S∪{i})−v(S)), whose efficiency
# property Σ_i φ_i = v(N)−v(∅) ties total credit to the revenue gap
# between fully-exposed and unexposed users.
#
# Determinism discipline: per-user revenue is an exact cent-grid sum;
# coalition values snap to BIGINT micro-units (v6 = round(mean·1e6))
# so the Shapley accumulation is an INTEGER sum — immune to float
# summation order; weights enter as the exact 24× integers {6,2,2,6}
# (n=4), and the final ÷24e6 is the one snapped division per row. The
# channel bit map is a fixed literal (click=1, error=2, signup=4,
# view=8), so masks need no vocabulary rank.
#
# Scale: one user-keyed join + group-by collapses the corpus to ≤16
# coalition rows;
# everything after is literal-sized (16 masks × 4 bits). No windows,
# no corpus-sized broadcast.

_SHAPLEY_SQL = """
WITH firstp AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
    FROM events GROUP BY user_id
),
expo AS (
    SELECT e.user_id,
           coalesce(CAST(sum(DISTINCT
                CASE WHEN f.p_ts IS NULL OR e.ts < f.p_ts THEN
                     CASE e.event_type
                          WHEN 'click'  THEN 1 WHEN 'error' THEN 2
                          WHEN 'signup' THEN 4 WHEN 'view'  THEN 8 END
                END) AS INT), 0) AS mask,
           {rev} AS revenue
    FROM events e JOIN firstp f ON f.user_id = e.user_id
    GROUP BY e.user_id
),
co AS (
    SELECT mask, CAST(count(*) AS BIGINT) AS n_users,
           {revsum} AS rev_sum
    FROM expo GROUP BY mask
),
masks AS (
    {masks}
),
vals AS (
    SELECT m.mask,
           coalesce(CAST(floor(c.rev_sum / c.n_users * 1e6 + 0.5)
                         AS BIGINT),
                    CAST(0 AS BIGINT)) AS v6
    FROM masks m LEFT JOIN co c ON c.mask = m.mask
),
bits AS (
    SELECT 1 AS bit, 'click' AS channel
    UNION ALL SELECT 2, 'error'
    UNION ALL SELECT 4, 'signup'
    UNION ALL SELECT 8, 'view'
),
terms AS (
    SELECT b.channel,
           CAST(CASE WHEN wo.mask = 0 THEN 6
                     WHEN wo.mask IN (1, 2, 4, 8) THEN 2
                     WHEN wo.mask IN (3, 5, 6, 9, 10, 12) THEN 2
                     ELSE 6 END AS BIGINT) * (w.v6 - wo.v6) AS t6
    FROM bits b
    JOIN vals wo ON (wo.mask & b.bit) = 0
    JOIN vals w  ON w.mask = wo.mask + b.bit
),
shap AS (
    SELECT channel, CAST(sum(t6) AS BIGINT) AS s6
    FROM terms GROUP BY channel
),
tot AS (SELECT CAST(sum(s6) AS BIGINT) AS s FROM shap)
SELECT p.channel,
       floor(CAST(p.s6 AS DOUBLE) / 24 + 0.5) / 1e6 AS shapley_value,
       CASE WHEN t.s = 0 THEN CAST(NULL AS DOUBLE)
            ELSE floor(CAST(p.s6 AS DOUBLE) / t.s * 1e6 + 0.5) / 1e6
       END AS credit_share
FROM shap p CROSS JOIN tot t
ORDER BY channel
"""

_SHAPLEY_MASKS = "\n    UNION ALL ".join(
    f"SELECT CAST({m} AS INT) AS mask" if m == 0 else f"SELECT {m}"
    for m in range(16)
)

_SHAPLEY_REV = sql_exact_sum(
    "CASE WHEN e.event_type = 'purchase' THEN e.value ELSE 0 END", 2
)


def _shapley_sql() -> str:
    return _SHAPLEY_SQL.format(
        masks=_SHAPLEY_MASKS,
        rev=_SHAPLEY_REV,
        revsum=sql_exact_sum("revenue", 2),
    )


@register("events_shapley_attribution", oracle=_shapley_sql())
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value revenue attribution over the four
    non-purchase channels: per-channel Shapley credit and normalized
    share, coalition value = mean total purchase revenue of users
    exposed to exactly that pre-first-purchase channel set."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_shapley_sql())


# ---------------------------------------------------------------------------
# McNemar paired test: weekday vs weekend conversion per user
# ---------------------------------------------------------------------------
# The paired complement of events_ab_test_lift: each user is their own
# control. Condition pair = did the user purchase on a weekday /
# on a weekend (users active on both kinds of day form the pairs).
# Day-of-week is epoch-day arithmetic ((days since 1970-01-01 + 3) % 7,
# Monday = 0) — portable, immune to the engines' dayofweek origin
# disagreement. chi² uses the Edwards continuity correction
# (|b−c|−1)²/(b+c); p comes through z = sqrt(chi²) and the shared
# normal polynomial.


def _mcnemar_sql(epoch_day: str) -> str:
    from automated_data_pipeline_python_spark.functions.numeric import (
        sql_normal_two_sided_p,
    )

    return f"""
WITH days AS (
    SELECT user_id, event_type,
           ((({epoch_day}) + 3) % 7 >= 5) AS is_weekend
    FROM events
),
per_user AS (
    SELECT user_id,
           CAST(max(CASE WHEN NOT is_weekend THEN 1 ELSE 0 END)
                AS INT) AS active_wd,
           CAST(max(CASE WHEN is_weekend THEN 1 ELSE 0 END)
                AS INT) AS active_we,
           CAST(max(CASE WHEN NOT is_weekend
                         AND event_type = 'purchase' THEN 1 ELSE 0 END)
                AS INT) AS conv_wd,
           CAST(max(CASE WHEN is_weekend
                         AND event_type = 'purchase' THEN 1 ELSE 0 END)
                AS INT) AS conv_we
    FROM days GROUP BY user_id
),
paired AS (
    SELECT conv_wd, conv_we FROM per_user
    WHERE active_wd = 1 AND active_we = 1
),
counts AS (
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(conv_wd * conv_we) AS BIGINT) AS n_both,
           CAST(sum(conv_wd * (1 - conv_we)) AS BIGINT) AS n_wd_only,
           CAST(sum((1 - conv_wd) * conv_we) AS BIGINT) AS n_we_only,
           CAST(sum((1 - conv_wd) * (1 - conv_we)) AS BIGINT) AS n_neither
    FROM paired
),
stat AS (
    SELECT n_pairs, n_both, n_wd_only, n_we_only, n_neither,
           floor((CAST((abs(n_wd_only - n_we_only) - 1) AS DOUBLE)
                  * (abs(n_wd_only - n_we_only) - 1)
                  / (n_wd_only + n_we_only)) * 1e6 + 0.5) / 1e6 AS chi2
    FROM counts
),
zed AS (
    SELECT *, floor(sqrt(chi2) * 1e6 + 0.5) / 1e6 AS z FROM stat
)
SELECT n_pairs, n_both, n_wd_only, n_we_only, n_neither, chi2, z,
       floor({sql_normal_two_sided_p("z")} * 1e6 + 0.5) / 1e6 AS p_value
FROM zed
"""


@register(
    "events_mcnemar_paired",
    oracle=_mcnemar_sql(
        "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"
    ),
)
def events_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test of weekday-vs-weekend purchase conversion
    over users active on both day kinds: the 2×2 discordant-pair table,
    continuity-corrected chi², z and two-sided p.

    Scale: one per-user group-by over events (map-side combinable
    max-flags), then a single bounded aggregate — no windows, no
    self-joins.
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _mcnemar_sql("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
    )


# ---------------------------------------------------------------------------
# Difference-in-differences: error-exposed vs clean users, pre/post
# ---------------------------------------------------------------------------
# The two-period two-group causal workhorse. Exposure = user ever hit
# an 'error' event; period split = the corpus midpoint day, written as
# the pure-integer compare 2·epoch_day > min_day + max_day (no
# division, no engine-specific DIV). Outcome = purchase value. Cell
# moments are exact cents integers; DiD, its pooled SE and t are the
# only doubles, snapped at output.


def _did_sql(epoch_day: str) -> str:
    return f"""
WITH ev AS (
    SELECT user_id, event_type,
           CAST({epoch_day} AS BIGINT) AS ed,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL
),
span AS (
    SELECT CAST(min(ed) AS BIGINT) AS d0, CAST(max(ed) AS BIGINT) AS d1
    FROM ev
),
exposed AS (
    SELECT DISTINCT user_id FROM ev WHERE event_type = 'error'
),
cells AS (
    SELECT (x.user_id IS NOT NULL) AS treated,
           (2 * e.ed > s.d0 + s.d1) AS post,
           e.cents
    FROM ev e CROSS JOIN span s
    LEFT JOIN exposed x ON x.user_id = e.user_id
    WHERE e.event_type = 'purchase'
),
mom AS (
    SELECT treated, post,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS s1,
           CAST(sum(cents * cents) AS BIGINT) AS s2
    FROM cells GROUP BY treated, post
),
means AS (
    SELECT treated, post, n,
           CAST(s1 AS DOUBLE) / n / 1e2 AS m,
           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
               / (n - 1) / 1e4 / n AS var_of_mean
    FROM mom
),
wide AS (
    SELECT
        max(CASE WHEN treated AND post THEN m END) AS m_t1,
        max(CASE WHEN treated AND NOT post THEN m END) AS m_t0,
        max(CASE WHEN NOT treated AND post THEN m END) AS m_c1,
        max(CASE WHEN NOT treated AND NOT post THEN m END) AS m_c0,
        max(CASE WHEN treated AND post THEN n END) AS n_t1,
        max(CASE WHEN treated AND NOT post THEN n END) AS n_t0,
        max(CASE WHEN NOT treated AND post THEN n END) AS n_c1,
        max(CASE WHEN NOT treated AND NOT post THEN n END) AS n_c0,
        sum(var_of_mean) AS var_did
    FROM means
)
SELECT floor(m_t0 * 1e6 + 0.5) / 1e6 AS mean_treat_pre,
       floor(m_t1 * 1e6 + 0.5) / 1e6 AS mean_treat_post,
       floor(m_c0 * 1e6 + 0.5) / 1e6 AS mean_ctrl_pre,
       floor(m_c1 * 1e6 + 0.5) / 1e6 AS mean_ctrl_post,
       CAST(n_t0 + n_t1 + n_c0 + n_c1 AS BIGINT) AS n_purchases,
       floor(((m_t1 - m_t0) - (m_c1 - m_c0)) * 1e6 + 0.5) / 1e6 AS did,
       floor(sqrt(var_did) * 1e6 + 0.5) / 1e6 AS se_did,
       floor((((m_t1 - m_t0) - (m_c1 - m_c0)) / sqrt(var_did))
             * 1e6 + 0.5) / 1e6 AS t_stat
FROM wide
"""


@register(
    "events_diff_in_diff",
    oracle=_did_sql("date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"),
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences of purchase value: error-exposed vs
    clean users before/after the corpus midpoint day — the four cell
    means, DiD estimate, pooled SE of the mean-difference and t.

    Scale: one group-by into four cells of exact integer moments (the
    exposure flag joins a user-distinct relation that grows with the
    corpus, so it stays unhinted for AQE).
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _did_sql("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
    )


# ---------------------------------------------------------------------------
# Inverse-propensity-weighted ATE (observational lift, stratified e-hat)
# ---------------------------------------------------------------------------
# events_ab_test_lift assumes randomized arms; real logs are
# OBSERVATIONAL -- exposure correlates with who the user is before any
# treatment effect. The standard correction reweights each user by
# 1/e(x) (treated) or 1/(1-e(x)) (control), with the propensity e(x) =
# P(treated | confounder) estimated per confounder stratum; the
# confounder is the user's activity level (total event count,
# coarsened into width-10 buckets for positivity), the classic "active
# users do more of EVERYTHING" backdoor. Treatment = click-leaning
# session mix (more clicks than views); outcome = purchase-leaning
# conversion (more purchases than errors) -- intensity contrasts that
# stay two-armed at every SF (presence flags degenerate: every user of
# this corpus has every type).
#
# Strata are bounded activity buckets, so the per-user weights collapse
# to per-stratum algebra: sum_t w*y over a stratum = yt_v / e_v. e_v
# snaps at 1e-6 BEFORE the divisions; cross-stratum sums go through the
# order-independent exact-sum (1e-6 grid); strata with e in {0, 1} fail
# positivity and are excluded (counted in the output). Naive diff is
# reported next to the IPW estimate -- the gap IS the measured
# confounding.

_IPW_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           CAST(floor(count(*) / 10e0) AS BIGINT) AS bucket,
           CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                     > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                THEN 1 ELSE 0 END AS treated,
           CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     > sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                THEN 1 ELSE 0 END AS y
    FROM events GROUP BY user_id
),
grid AS (
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS tot_v,
           CAST(sum(treated) AS BIGINT) AS t_v,
           CAST(sum(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT)
               AS yt_v,
           CAST(sum(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT)
               AS yc_v
    FROM per_user GROUP BY bucket
),
prop AS (
    SELECT bucket, tot_v, t_v, yt_v, yc_v,
           floor((CAST(t_v AS DOUBLE) / tot_v) * 1e6 + 0.5) / 1e6 AS e
    FROM grid
),
ok AS (SELECT * FROM prop WHERE e > 0e0 AND e < 1e0),
sums AS (
    SELECT
        {sql_exact_sum("yt_v / e", 6)} AS swy_t,
        {sql_exact_sum("t_v / e", 6)} AS sw_t,
        {sql_exact_sum("yc_v / (1e0 - e)", 6)} AS swy_c,
        {sql_exact_sum("(tot_v - t_v) / (1e0 - e)", 6)} AS sw_c,
        CAST(count(*) AS BIGINT) AS n_strata_used
    FROM ok
),
naive AS (
    SELECT CAST(sum(t_v) AS BIGINT) AS nt,
           CAST(sum(tot_v - t_v) AS BIGINT) AS nc,
           CAST(sum(yt_v) AS BIGINT) AS yt,
           CAST(sum(yc_v) AS BIGINT) AS yc,
           CAST(count(*) AS BIGINT) AS n_strata
    FROM prop
)
SELECT n.nt AS n_treated, n.nc AS n_control,
       s.n_strata_used, n.n_strata,
       CASE WHEN n.nt = 0 OR n.nc = 0 THEN CAST(NULL AS DOUBLE)
            ELSE floor((CAST(n.yt AS DOUBLE) / n.nt
                        - CAST(n.yc AS DOUBLE) / n.nc) * 1e6 + 0.5) / 1e6
       END AS naive_diff,
       CASE WHEN s.n_strata_used = 0 THEN CAST(NULL AS DOUBLE)
            ELSE floor((s.swy_t / s.sw_t - s.swy_c / s.sw_c)
                       * 1e6 + 0.5) / 1e6
       END AS ipw_ate
FROM naive n CROSS JOIN sums s
"""


@register("events_ipw_ate", oracle=_IPW_SQL)
def events_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observational click-mix -> conversion-mix lift, confounding-
    corrected: activity-bucket propensities, per-stratum IPW algebra,
    the naive difference next to the IPW ATE, and the positivity
    census."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_IPW_SQL)


# ---------------------------------------------------------------------------
# Qini uplift curve (incremental-impact evaluation by targeting decile)
# ---------------------------------------------------------------------------
# The uplift-modeling companion to the IPW estimator above: IPW asks
# "what is the average effect", the Qini curve asks "WHO should we
# target" — rank users by a model score, and at each decile compare
# cumulative treated conversions against the control conversions scaled
# to the treated volume: Qini(k) = Yt_cum - Yc_cum * Nt_cum / Nc_cum
# (Radcliffe 2007). A curve hugging zero means the score does not find
# incremental responders (exactly what a hash-randomized arm with no
# real effect should produce — the honest null baseline).
#
# Arms are portable-hash randomized (the events_ab_test_lift idiom);
# the score is the user's activity count (proxy model); deciles come
# off the DISTINCT-score CDF with integer ceil-division — never a
# per-user rank window; all counts are exact integers and the one
# float ratio per decile row snaps.


def _qini_sql(idiv: str, hash28: str) -> str:
    d = lambda a, b: idiv.format(a=a, b=b)  # noqa: E731
    return f"""
WITH per_user AS (
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS score,
           CASE WHEN {hash28} % 2 = 1 THEN 1 ELSE 0 END AS treated,
           CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                         END)
                     > sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                           END)
                THEN 1 ELSE 0 END AS y
    FROM events GROUP BY user_id
),
hist AS (
    SELECT score,
           CAST(count(*) AS BIGINT) AS c_all,
           CAST(sum(treated) AS BIGINT) AS c_t,
           CAST(sum(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT)
               AS c_yt,
           CAST(sum(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT)
               AS c_yc
    FROM per_user GROUP BY score
),
chist AS (
    SELECT c_all, c_t, c_yt, c_yc,
           CAST(sum(c_all) OVER (ORDER BY score DESC) AS BIGINT) AS cum
    FROM hist
),
tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n FROM hist),
dec AS (
    SELECT CAST({d('10 * c.cum + t.n - 1', 't.n')} AS INT) AS decile,
           CAST(sum(c.c_t) AS BIGINT) AS n_t,
           CAST(sum(c.c_all - c.c_t) AS BIGINT) AS n_c,
           CAST(sum(c.c_yt) AS BIGINT) AS y_t,
           CAST(sum(c.c_yc) AS BIGINT) AS y_c
    FROM chist c CROSS JOIN tot t
    GROUP BY 1
),
cum2 AS (
    SELECT decile, n_t, n_c, y_t, y_c,
           CAST(sum(n_t) OVER (ORDER BY decile) AS BIGINT) AS cnt,
           CAST(sum(n_c) OVER (ORDER BY decile) AS BIGINT) AS cnc,
           CAST(sum(y_t) OVER (ORDER BY decile) AS BIGINT) AS cyt,
           CAST(sum(y_c) OVER (ORDER BY decile) AS BIGINT) AS cyc
    FROM dec
)
SELECT decile, n_t, n_c, y_t, y_c,
       CASE WHEN cnc = 0 THEN CAST(NULL AS DOUBLE)
            ELSE floor((cyt - cyc * (CAST(cnt AS DOUBLE) / cnc))
                       * 1e6 + 0.5) / 1e6
       END AS qini
FROM cum2
ORDER BY decile
"""


_QINI_SPARK_SQL = _qini_sql(
    "CAST(({a}) DIV ({b}) AS BIGINT)",
    spark_hash28("concat('qini', CAST(user_id AS STRING))"),
)
_QINI_DUCK_SQL = _qini_sql(
    "CAST(({a}) // ({b}) AS BIGINT)",
    duck_hash28("concat('qini', CAST(user_id AS VARCHAR))"),
)


@register("events_qini_uplift_curve", oracle=_QINI_DUCK_SQL)
def events_qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve over activity-score deciles with a
    hash-randomized arm: per-decile arm counts/conversions and the
    cumulative incremental-responder statistic."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_QINI_SPARK_SQL)


# ---------------------------------------------------------------------------
# Difference-in-differences with a parallel-trends placebo
# ---------------------------------------------------------------------------
# The panel-data member of the causal family: IPW corrects selection on
# OBSERVED confounders; DiD removes any TIME-INVARIANT group difference
# by differencing each group against its own pre-period —
# (T_post − T_pre) − (C_post − C_pre). Groups are hash-randomized, the
# intervention point is the period midpoint (the PSI early/late split
# idiom), and the required parallel-trends assumption gets the standard
# falsification: the same estimator run INSIDE the pre-period (its two
# quarters) must be ~0 — reported as placebo_did.
#
# One corpus scan buckets purchase cents into the 4 (group x period)
# cells + 4 placebo cells; each mean is one exact-integer division
# snapped at 1e-6, and the DiD contrasts are algebra over those snapped
# means. No windows at all.

_DID_SQL_T = """
WITH b AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
scored AS (
    SELECT CASE WHEN {arm} % 2 = 1 THEN 1 ELSE 0 END AS g,
           CASE WHEN 2 * ({us_since_t0}) < ({us_span})
                THEN 0 ELSE 1 END AS post,
           CASE WHEN 4 * ({us_since_t0}) < ({us_span})
                THEN 0 ELSE 1 END AS q2,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
    FROM events CROSS JOIN b
    WHERE event_type = 'purchase' AND value IS NOT NULL
),
cells AS (
    SELECT g, post,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS s
    FROM scored GROUP BY g, post
),
pre_cells AS (
    SELECT g, q2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS s
    FROM scored WHERE post = 0 GROUP BY g, q2
),
m AS (
    SELECT
        floor((CAST(min(CASE WHEN g = 1 AND post = 0 THEN s END) AS DOUBLE)
               / min(CASE WHEN g = 1 AND post = 0 THEN n END) / 1e2)
              * 1e6 + 0.5) / 1e6 AS t_pre,
        floor((CAST(min(CASE WHEN g = 1 AND post = 1 THEN s END) AS DOUBLE)
               / min(CASE WHEN g = 1 AND post = 1 THEN n END) / 1e2)
              * 1e6 + 0.5) / 1e6 AS t_post,
        floor((CAST(min(CASE WHEN g = 0 AND post = 0 THEN s END) AS DOUBLE)
               / min(CASE WHEN g = 0 AND post = 0 THEN n END) / 1e2)
              * 1e6 + 0.5) / 1e6 AS c_pre,
        floor((CAST(min(CASE WHEN g = 0 AND post = 1 THEN s END) AS DOUBLE)
               / min(CASE WHEN g = 0 AND post = 1 THEN n END) / 1e2)
              * 1e6 + 0.5) / 1e6 AS c_post
    FROM cells
),
p AS (
    SELECT
        floor((CAST(min(CASE WHEN g = 1 AND q2 = 0 THEN s END) AS DOUBLE)
               / min(CASE WHEN g = 1 AND q2 = 0 THEN n END) / 1e2)
              * 1e6 + 0.5) / 1e6 AS pt1,
        floor((CAST(min(CASE WHEN g = 1 AND q2 = 1 THEN s END) AS DOUBLE)
               / min(CASE WHEN g = 1 AND q2 = 1 THEN n END) / 1e2)
              * 1e6 + 0.5) / 1e6 AS pt2,
        floor((CAST(min(CASE WHEN g = 0 AND q2 = 0 THEN s END) AS DOUBLE)
               / min(CASE WHEN g = 0 AND q2 = 0 THEN n END) / 1e2)
              * 1e6 + 0.5) / 1e6 AS pc1,
        floor((CAST(min(CASE WHEN g = 0 AND q2 = 1 THEN s END) AS DOUBLE)
               / min(CASE WHEN g = 0 AND q2 = 1 THEN n END) / 1e2)
              * 1e6 + 0.5) / 1e6 AS pc2
    FROM pre_cells
)
SELECT m.t_pre, m.t_post, m.c_pre, m.c_post,
       floor(((m.t_post - m.t_pre) - (m.c_post - m.c_pre)) * 1e6 + 0.5)
           / 1e6 AS did,
       floor(((p.pt2 - p.pt1) - (p.pc2 - p.pc1)) * 1e6 + 0.5) / 1e6
           AS placebo_did
FROM m CROSS JOIN p
"""

_DID_SPARK_SQL = (
    _DID_SQL_T
    .replace("{arm}", spark_hash28("concat('did', CAST(user_id AS STRING))"))
    .replace("{us_since_t0}", "timestampdiff(MICROSECOND, b.t0, ts)")
    .replace("{us_span}", "timestampdiff(MICROSECOND, b.t0, b.t1)")
)
_DID_DUCK_SQL = (
    _DID_SQL_T
    .replace("{arm}", duck_hash28("concat('did', CAST(user_id AS VARCHAR))"))
    .replace("{us_since_t0}", "date_diff('microsecond', b.t0, ts)")
    .replace("{us_span}", "date_diff('microsecond', b.t0, b.t1)")
)


@register("events_did_estimator", oracle=_DID_DUCK_SQL)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on purchase value around the period
    midpoint with hash-randomized groups, plus the pre-period placebo
    contrast that falsifies parallel trends."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_DID_SPARK_SQL)


# ---------------------------------------------------------------------------
# Interrupted time series (segmented regression on daily revenue)
# ---------------------------------------------------------------------------
# The single-series causal design the DiD estimator can't cover: no
# control group, the counterfactual is the PRE-period trend itself.
# Segmented OLS fits level + slope before the intervention (here the
# midpoint of the day span, the same deterministic split DiD uses)
# and level + slope after with the time axis re-centered at the
# cutoff, so the post intercept reads directly as the level at the
# intervention; level change = post intercept minus the pre-trend
# projection at the cutoff, slope change = slope difference.
#
# Exactness: daily revenue in exact summed cents; day index t =
# datediff from the first day (calendar-meaningful, no window); all
# five OLS moments per segment are exact integers with the
# cents-weighted cross moments in DECIMAL(38,0) (cents ~1e8/day at
# the 100x corpus, t ~1e2 — products pass 9.2e18 at the design
# point); both closed-form fits are single float expressions snapped
# at output. One corpus pass; the fit runs on the bounded daily
# relation.

_ITS_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
t0 AS (SELECT min(d) AS d0 FROM daily),
idx AS (
    SELECT CAST({days_diff} AS BIGINT) AS t, cents
    FROM daily CROSS JOIN t0
),
cut AS (
    SELECT CAST(floor((CAST(max(t) AS DOUBLE) + 1e0) / 2e0) AS BIGINT)
        AS tc
    FROM idx
),
seg AS (
    SELECT CASE WHEN i.t < c.tc THEN 0 ELSE 1 END AS post,
           CASE WHEN i.t < c.tc THEN i.t ELSE i.t - c.tc END AS u,
           i.cents, c.tc
    FROM idx i CROSS JOIN cut c
),
mom AS (
    SELECT post, tc,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(u) AS BIGINT) AS st,
           CAST(sum(u * u) AS BIGINT) AS stt,
           CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
           CAST(sum(CAST(cents AS DECIMAL(38,0)) * u) AS DECIMAL(38,0))
               AS sty
    FROM seg GROUP BY post, tc
),
fits AS (
    SELECT post, tc, n,
           (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
            - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
               / 1e2 AS slope,
           (CAST(sy AS DOUBLE) / 1e2
            - (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
               - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * stt
                     - CAST(st AS DOUBLE) * st)
                  / 1e2 * st) / n AS icept
    FROM mom
),
wide AS (
    SELECT
        min(CASE WHEN post = 0 THEN n END) AS n_pre_days,
        min(CASE WHEN post = 1 THEN n END) AS n_post_days,
        min(tc) AS cutoff_day,
        min(CASE WHEN post = 0 THEN slope END) AS pre_slope,
        min(CASE WHEN post = 1 THEN slope END) AS post_slope,
        min(CASE WHEN post = 0 THEN icept END) AS pre_icept,
        min(CASE WHEN post = 1 THEN icept END) AS post_icept
    FROM fits
)
SELECT n_pre_days, n_post_days, cutoff_day,
       floor(pre_slope * 1e6 + 0.5) / 1e6 AS pre_slope,
       floor(post_slope * 1e6 + 0.5) / 1e6 AS post_slope,
       floor((post_slope - pre_slope) * 1e6 + 0.5) / 1e6 AS slope_change,
       floor((pre_icept + pre_slope * cutoff_day) * 1e6 + 0.5) / 1e6
           AS pre_trend_at_cutoff,
       floor(post_icept * 1e6 + 0.5) / 1e6 AS post_level_at_cutoff,
       floor((post_icept - (pre_icept + pre_slope * cutoff_day))
             * 1e6 + 0.5) / 1e6 AS level_change
FROM wide
"""


@register(
    "events_interrupted_time_series",
    oracle=_ITS_SQL.format(days_diff="date_diff('day', t0.d0, daily.d)"),
)
def events_interrupted_time_series(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interrupted-time-series segmented regression on daily revenue:
    pre/post OLS around the midpoint cutoff with level-change and
    slope-change effects read off exact integer moments."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_ITS_SQL.format(days_diff="datediff(daily.d, t0.d0)"))


# ---------------------------------------------------------------------------
# Switchback experiment analysis (time-block randomization)
# ---------------------------------------------------------------------------
# When treatment can't be user-randomized (marketplace pricing,
# ranking changes — interference breaks SUTVA), the standard design
# randomizes TIME BLOCKS: each hour flips arms by hash, and the unit
# of analysis is the block, not the user. Estimate = difference of
# block-mean revenues; inference = Welch's t over block-level means
# (blocks are the i.i.d. units), df by Welch-Satterthwaite, p from
# the shared normal polynomial (block counts are in the hundreds, so
# the normal tail approximates t well; documented approximation, same
# stance as the Pettitt p).
#
# Exactness: per-block revenue is an exact cents sum; block-level
# first/second moments accumulate in DECIMAL(38,0); the estimate and
# the t statistic are single float expressions snapped at output. One
# corpus pass; everything after is the bounded block relation.

def _switchback_sql(hash28: str, hour_key: str) -> str:
    from automated_data_pipeline_python_spark.functions.numeric import (
        sql_normal_two_sided_p,
    )

    def var(n: str, s: str, ss: str) -> str:
        return (f"(CAST({n} AS DOUBLE) * CAST({ss} AS DOUBLE)"
                f" - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE))"
                f" / (CAST({n} AS DOUBLE) * ({n} - 1)) / 1e4")

    v_c = var("n_c", "s_c", "ss_c")
    v_t = var("n_t", "s_t", "ss_t")
    se2 = f"(({v_c}) / n_c + ({v_t}) / n_t)"
    diff = "(CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c) / 1e2"
    return f"""
WITH blocks AS (
    SELECT {hour_key} AS blk,
           CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY {hour_key}
),
assigned AS (
    SELECT CASE WHEN {hash28} % 2 = 0 THEN 0 ELSE 1 END AS arm, cents
    FROM blocks
),
cells AS (
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
           CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                AS DECIMAL(38,0)) AS ss
    FROM assigned GROUP BY arm
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
),
stat AS (
    SELECT n_c, n_t,
           floor(CAST(s_c AS DOUBLE) / n_c / 1e2 * 1e6 + 0.5) / 1e6
               AS mean_block_c,
           floor(CAST(s_t AS DOUBLE) / n_t / 1e2 * 1e6 + 0.5) / 1e6
               AS mean_block_t,
           floor(({diff}) * 1e6 + 0.5) / 1e6 AS block_effect,
           floor(({diff}) / sqrt({se2}) * 1e6 + 0.5) / 1e6 AS welch_t,
           floor(({se2}) * ({se2})
                 / ((({v_c}) / n_c) * (({v_c}) / n_c) / (n_c - 1)
                    + (({v_t}) / n_t) * (({v_t}) / n_t) / (n_t - 1))
                 * 1e2 + 0.5) / 1e2 AS welch_df
    FROM wide
)
SELECT n_c AS n_blocks_control, n_t AS n_blocks_treatment,
       mean_block_c, mean_block_t, block_effect, welch_t, welch_df,
       {sql_normal_two_sided_p("abs(welch_t)")} AS p_value
FROM stat
"""


@register(
    "events_switchback_lift",
    oracle=_switchback_sql(
        duck_hash28("concat('sb', CAST(blk AS STRING))"),
        "date_trunc('hour', ts)",
    ),
)
def events_switchback_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Switchback (time-block randomized) experiment readout: hash-
    assigned hourly blocks, block-mean revenue difference, Welch's t
    over block-level means with Welch-Satterthwaite df."""
    from automated_data_pipeline_python_spark.functions.text import (
        spark_hash28,
    )
    register_views(spark, sf_dir, "events")
    return spark.sql(_switchback_sql(
        spark_hash28("concat('sb', CAST(blk AS STRING))"),
        "date_trunc('hour', ts)",
    ))
