"""Time-series analytics over the events stream.

Four staples a metrics/feature pipeline computes from an event log —
exponential smoothing, activity streaks, inter-arrival latency, and
autocorrelation — plus last-touch revenue attribution. All are
DataFrame/SQL-only (no Python stages); per-row work happens before the
first shuffle and every cross-row float aggregation follows the repo's
exact-sum/snap discipline so the DuckDB oracles hash-match.

Scale notes per query are inline; the common shape is: reduce the raw
event log to a per-key relation (daily series, user-day set, per-user
lag pairs) in ONE scan, then run the actual analytic on the reduced
relation, which is orders of magnitude smaller than the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from automated_data_pipeline_python_spark.functions.numeric import (
    exact_sum,
    sql_exact_sum,
    sql_normal_two_sided_p,
    sql_stable_round,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.session import recursion_limits
from automated_data_pipeline_python_spark.tables import load, register_views

# ---------------------------------------------------------------------------
# EWMA of the daily event-count series (recursive CTE)
# ---------------------------------------------------------------------------
# y_1 = x_1; y_t = a*x_t + (1-a)*y_{t-1} with a = 0.2, per event type.
# EWMA is inherently sequential, but the SERIES is tiny after the first
# aggregation (days x types — ~150 rows here, a few thousand at any
# horizon), so the recursion runs on a reduced relation while the one
# corpus-sized pass is a plain count aggregation. WITH RECURSIVE is the
# Spark-4 surface (SPARK-24497); DuckDB runs the IDENTICAL statement.
# Inputs to the recursion are exact integers and both engines evaluate
# the same scalar expression chain in the same order, so the doubles
# agree bit-for-bit; output snaps to the 1e-6 grid regardless.
# NOTE 2e-1/8e-1 literals: DuckDB parses 0.2 as DECIMAL (decimal
# arithmetic would diverge from Spark's doubles); e-notation pins DOUBLE.


def _ewma_sql(fmt_day: str) -> str:
    return _EWMA_BODY.replace("{fmt_day}", fmt_day)


_EWMA_BODY = """
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
    SELECT event_type, d, n,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS i
    FROM daily
),
ewma(event_type, i, d, n, y) AS (
    SELECT event_type, i, d, n, CAST(n AS DOUBLE)
    FROM idx WHERE i = 1
    UNION ALL
    SELECT idx.event_type, idx.i, idx.d, idx.n,
           2e-1 * idx.n + 8e-1 * e.y
    FROM ewma e
    JOIN idx ON idx.event_type = e.event_type AND idx.i = e.i + 1
)
SELECT event_type, {fmt_day} AS day, CAST(n AS BIGINT) AS n_events,
       floor(y * 1e6 + 0.5) / 1e6 AS ewma_events
FROM ewma
"""


# Recursion depth == days in the series; Spark's default level limit
# (100) would reject a ~4-month corpus. Each recursive query raises the
# limits ONLY around an eager materialization (the recursive output is
# a bounded daily relation) and restores them — see
# session.recursion_limits.


@register(
    "events_ewma_daily",
    oracle=_ewma_sql("strftime(d, '%Y-%m-%d')"),
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily event counts with an EWMA(0.2) smoothing column."""
    register_views(spark, sf_dir, "events")
    with recursion_limits(spark):
        return spark.sql(
            _ewma_sql("date_format(d, 'yyyy-MM-dd')")
        ).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Longest consecutive-day activity streak per user (gaps and islands)
# ---------------------------------------------------------------------------
# Raw events reduce to the DISTINCT (user, day) set in one scan; the
# island trick (day_number - row_number is constant within a run) turns
# streak detection into a plain grouped count. Everything after the
# first aggregation shuffles user-day / user-sized relations; all
# arithmetic is integer-exact. Output: streak-length histogram.


def _streaks_sql(daynum: str) -> str:
    return f"""
WITH user_days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
islands AS (
    SELECT user_id, d,
           {daynum}
           - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS BIGINT) AS grp
    FROM user_days
),
streaks AS (
    SELECT user_id, grp, count(*) AS len
    FROM islands GROUP BY user_id, grp
),
maxes AS (
    SELECT user_id, max(len) AS max_streak FROM streaks GROUP BY user_id
)
SELECT CAST(max_streak AS BIGINT) AS streak_days,
       CAST(count(*) AS BIGINT) AS n_users
FROM maxes
GROUP BY max_streak
"""


_STREAKS_DUCK = _streaks_sql("CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT)")


@register("events_activity_streaks", oracle=_STREAKS_DUCK)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of each user's longest consecutive-active-day streak."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_streaks_sql("CAST(datediff(d, DATE '1970-01-01') AS BIGINT)"))


# ---------------------------------------------------------------------------
# Inter-arrival latency distribution per event type
# ---------------------------------------------------------------------------
# Per user+type, the gap to the previous same-type event; summarized as
# interpolated percentiles per type. Gap seconds derive from the exact
# integer microsecond delta (both engines floor identically; the
# boundary-crossing date_diff('second') pitfall documented at
# events_funnel_timing is avoided the same way). One user_id-keyed
# shuffle for the lag, one tiny per-type summary. The percentile
# interpolation is the proven Spark percentile == DuckDB quantile_cont
# pairing, snapped at output.


def _interarrival_sql(micros_diff: str, q: str) -> str:
    def pc(p: str, alias: str) -> str:
        return f"floor(({q}(gap_secs, {p})) * 1e4 + 0.5) / 1e4 AS {alias}"

    return f"""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS prev_ts
    FROM events
),
gaps AS (
    SELECT event_type,
           CAST(({micros_diff}) AS DOUBLE) / 1e6 AS gap_secs
    FROM ordered
    WHERE prev_ts IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       {pc("0.50", "p50_secs")},
       {pc("0.90", "p90_secs")},
       {pc("0.99", "p99_secs")}
FROM gaps
GROUP BY event_type
"""


_INTERARRIVAL_DUCK = _interarrival_sql(
    "date_diff('microsecond', CAST(prev_ts AS TIMESTAMP), CAST(ts AS TIMESTAMP))",
    "quantile_cont",
)


@register("events_interarrival_stats", oracle=_INTERARRIVAL_DUCK)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival-time percentiles (same-user consecutive
    events)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _interarrival_sql("timestampdiff(MICROSECOND, prev_ts, ts)", "percentile")
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the daily count series (lags 1..7)
# ---------------------------------------------------------------------------
# ACF at lag k as the Pearson correlation of (x_t, x_{t+k}) pairs,
# computed from INTEGER moment sums (counts are exact; sums of
# count-products are exact BIGINTs on any accumulation order), so the
# only float math is one final expression — identical on both engines,
# snapped to 1e-6. The corpus-sized pass is the daily count aggregation;
# the lag self-join runs on the tiny (types x days) relation.


def _acf_sql(lag_rel: str) -> str:
    r = sql_stable_round
    return f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
    SELECT event_type,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS i,
           n
    FROM daily
),
lags AS ({lag_rel}),
pairs AS (
    SELECT a.event_type, lg.lag, a.n AS x, b.n AS y
    FROM idx a
    JOIN lags lg ON true
    JOIN idx b ON b.event_type = a.event_type AND b.i = a.i + lg.lag
),
stats AS (
    SELECT event_type, lag,
           CAST(count(*) AS BIGINT) AS np,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM pairs
    GROUP BY event_type, lag
)
SELECT event_type, lag, np AS n_pairs,
       {r("CAST(np * sxy - sx * sy AS DOUBLE)"
          " / (sqrt(CAST(np * sxx - sx * sx AS DOUBLE))"
          "    * sqrt(CAST(np * syy - sy * sy AS DOUBLE)))", 6)} AS acf
FROM stats
"""


_ACF_DUCK = _acf_sql("SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)")


@register("events_daily_acf", oracle=_ACF_DUCK)
def events_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation (lags 1-7) of each type's daily count series."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_acf_sql("SELECT CAST(id AS BIGINT) AS lag FROM range(1, 8)"))


# ---------------------------------------------------------------------------
# Last-touch revenue attribution
# ---------------------------------------------------------------------------
# Each purchase's value is attributed to the nearest PRECEDING
# non-purchase event of the same user (the classic last-touch model).
# One user_id shuffle serves the running last-non-purchase window; the
# grouped rollup sums purchase values exact-snapped on the 1e-6 grid
# (both engines snap each row identically before the order-independent
# integer sum). Purchases with no prior touch land in '(none)'.

_ATTR_DUCK_SQL = f"""
WITH ordered AS (
    SELECT user_id, event_type, value,
           last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
    FROM events
)
SELECT coalesce(channel, '(none)') AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       {sql_exact_sum("value", 6)} AS attributed_value
FROM ordered
WHERE event_type = 'purchase'
GROUP BY coalesce(channel, '(none)')
"""


@register("events_last_touch_attribution", oracle=_ATTR_DUCK_SQL)
def events_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase value attributed to the last preceding non-purchase
    touch per user."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    attributed = ev.withColumn("channel", F.last(touch, ignorenulls=True).over(w))
    return (
        attributed.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("(none)")).alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            exact_sum("value", 6).alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection over the daily count series
# ---------------------------------------------------------------------------
# Two-sided tabular CUSUM (Page 1954): s+_t = max(0, s+_{t-1} + (x_t -
# mu - k)), s-_t = max(0, s-_{t-1} + (mu - x_t - k)) with slack k =
# sigma/2 and alarm threshold h = 4*sigma — the standard monitoring
# recipe for "did the level of this metric shift?". Like the EWMA, the
# recursion runs on the tiny (types x days) relation; mu/sigma derive
# from INTEGER moment sums (identical doubles on both engines), the
# per-day deviations are precomputed before the recursion, and the
# state snaps to the 1e-6 grid every step so both engines iterate on
# identical numbers.

_CUSUM_BODY = """
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
moments AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(n) AS BIGINT) AS sx,
           CAST(sum(n * n) AS BIGINT) AS sxx
    FROM daily GROUP BY event_type
),
params AS (
    SELECT event_type,
           CAST(sx AS DOUBLE) / cnt AS mu,
           sqrt(CAST(cnt * sxx - sx * sx AS DOUBLE)) / cnt AS sigma
    FROM moments
),
idx AS (
    SELECT d.event_type, d.d, d.n,
           CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY d.d)
                AS BIGINT) AS i,
           floor((d.n - p.mu - 5e-1 * p.sigma) * 1e6 + 0.5) / 1e6
               AS dev_pos,
           floor((p.mu - d.n - 5e-1 * p.sigma) * 1e6 + 0.5) / 1e6
               AS dev_neg,
           floor((4e0 * p.sigma) * 1e6 + 0.5) / 1e6 AS h
    FROM daily d JOIN params p ON d.event_type = p.event_type
),
cusum(event_type, i, d, n, h, s_pos, s_neg) AS (
    SELECT event_type, i, d, n, h,
           greatest(0e0, dev_pos), greatest(0e0, dev_neg)
    FROM idx WHERE i = 1
    UNION ALL
    SELECT idx.event_type, idx.i, idx.d, idx.n, idx.h,
           floor(greatest(0e0, c.s_pos + idx.dev_pos) * 1e6 + 0.5) / 1e6,
           floor(greatest(0e0, c.s_neg + idx.dev_neg) * 1e6 + 0.5) / 1e6
    FROM cusum c
    JOIN idx ON idx.event_type = c.event_type AND idx.i = c.i + 1
)
SELECT event_type, {fmt_day} AS day, n AS n_events, s_pos, s_neg,
       CAST(CASE WHEN s_pos > h OR s_neg > h THEN 1 ELSE 0 END AS INT)
           AS alarm
FROM cusum
"""


@register(
    "events_cusum_changepoints",
    oracle=_CUSUM_BODY.replace("{fmt_day}", "strftime(d, '%Y-%m-%d')"),
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift detection on per-type daily counts —
    the SEQUENTIAL Page alarm: per-day running S+/S- statistics with an
    alarm flag whenever either side crosses h (one output row per
    type × day). Distinct from ``events_cusum_changepoint`` (singular,
    this module ~line 2120), which is the RETROSPECTIVE argmax-|S_k|
    changepoint localizer emitting one row per type; the near-identical
    names are historical — see COVERAGE.md's CUSUM note."""
    register_views(spark, sf_dir, "events")
    with recursion_limits(spark):
        return spark.sql(
            _CUSUM_BODY.replace("{fmt_day}", "date_format(d, 'yyyy-MM-dd')")
        ).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Robust outlier detection: median/MAD z-scores on the daily series
# ---------------------------------------------------------------------------
# The stddev z-score (events_zscore_bands) is itself dragged by the
# outliers it hunts; the robust variant scores against median and MAD
# (z = 0.6745*(x - med)/MAD), the estimator monitoring pipelines
# actually deploy. Shape: ONE corpus scan reduces to the daily series
# (days × types rows), then two tiny per-type percentile aggregations —
# the same reduced-relation pattern as the rest of this module, so the
# expensive pass is a plain count aggregation at any scale.
# percentile()/quantile_cont() is the proven cross-engine interpolation
# pairing; 6745e-4 pins DOUBLE in DuckDB (a 0.6745 literal would be
# DECIMAL and diverge from Spark's double arithmetic). z snaps to the
# 1e-6 grid BEFORE the |z| > 3 flag compare so an ulp at the boundary
# cannot flip a row cross-engine.


def _mad_sql(fmt_day: str, q: str) -> str:
    return f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
med AS (
    SELECT event_type, {q}(n, 5e-1) AS med
    FROM daily GROUP BY event_type
),
mad AS (
    SELECT daily.event_type, {q}(abs(daily.n - med.med), 5e-1) AS mad
    FROM daily JOIN med ON daily.event_type = med.event_type
    GROUP BY daily.event_type
),
scored AS (
    SELECT daily.event_type, daily.d, daily.n, med.med, mad.mad,
           CASE WHEN mad.mad = 0e0 THEN NULL
                ELSE floor((6745e-4 * (daily.n - med.med) / mad.mad)
                           * 1e6 + 0.5) / 1e6 END AS robust_z
    FROM daily
    JOIN med ON daily.event_type = med.event_type
    JOIN mad ON daily.event_type = mad.event_type
)
SELECT event_type, {fmt_day} AS day, CAST(n AS BIGINT) AS n_events,
       floor((med) * 1e6 + 0.5) / 1e6 AS med,
       floor((mad) * 1e6 + 0.5) / 1e6 AS mad,
       robust_z,
       CAST(CASE WHEN abs(robust_z) > 3e0 THEN 1 ELSE 0 END AS INT)
           AS is_outlier
FROM scored
ORDER BY event_type, day
"""


@register(
    "events_mad_outliers",
    oracle=_mad_sql("strftime(d, '%Y-%m-%d')", "quantile_cont"),
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust z-scores per (event_type, day) with |z|>3 flags."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_mad_sql("date_format(d, 'yyyy-MM-dd')", "percentile"))


# ---------------------------------------------------------------------------
# Bitmap retention (week-mask bit_or — the no-self-join retention)
# ---------------------------------------------------------------------------
# events_retention_cohorts builds the cohort × offset matrix with a
# join; this is the operator you run when users number 10^9: each
# user's activity compresses to ONE bigint week-bitmask in a single
# bit_or aggregation (map-side partials — no shuffle of raw events),
# and every week-over-week retention cell is popcount arithmetic on
# that mask. No self-join, no cohort join; the per-user relation is
# the only shuffle. Bound: one BIGINT mask covers weeks 0–62 (~14
# months) and the wk <= 62 guard ENFORCES it — beyond 62 Spark's shift
# would wrap mod 64 (silent aliasing) while DuckDB's << 63 errors, so
# an unguarded long corpus would diverge, not just degrade. Longer
# horizons split into word arrays exactly like sketch_bloom_prefilter's
# 8×63-bit grid.


def _bitmap_retention_sql(week_idx: str) -> str:
    return f"""
WITH marks AS (
    SELECT user_id, bit_or(CAST(1 AS BIGINT) << wk) AS mask
    FROM (
        SELECT e.user_id,
               CAST({week_idx} AS INT) AS wk
        FROM events e
        CROSS JOIN (SELECT min(CAST(ts AS DATE)) AS d0 FROM events) b
    )
    WHERE wk <= 62
    GROUP BY user_id
),
weeks AS (
    SELECT wk FROM (
        SELECT DISTINCT CAST({week_idx} AS INT) AS wk
        FROM events e
        CROSS JOIN (SELECT min(CAST(ts AS DATE)) AS d0 FROM events) b
    )
    WHERE wk <= 62
)
SELECT w.wk AS week,
       CAST(sum(CASE WHEN (mask >> w.wk) & 1 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS active_users,
       CAST(sum(CASE WHEN (mask >> w.wk) & 1 = 1
                      AND (mask >> (w.wk + 1)) & 1 = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS retained_next,
       floor((CAST(sum(CASE WHEN (mask >> w.wk) & 1 = 1
                             AND (mask >> (w.wk + 1)) & 1 = 1
                       THEN 1 ELSE 0 END) AS DOUBLE)
              / sum(CASE WHEN (mask >> w.wk) & 1 = 1 THEN 1 ELSE 0 END))
             * 1e6 + 0.5) / 1e6 AS retention_rate
FROM marks CROSS JOIN weeks w
GROUP BY w.wk
ORDER BY w.wk
"""


@register(
    "events_bitmap_retention",
    oracle=_bitmap_retention_sql(
        "date_diff('day', b.d0, CAST(e.ts AS DATE)) // 7"
    ),
)
def events_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention from per-user week bitmasks (bit_or)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _bitmap_retention_sql(
            "CAST(floor(datediff(CAST(e.ts AS DATE), b.d0) / 7) AS INT)"
        )
    )


# ---------------------------------------------------------------------------
# Seasonality profile (day-of-week × hour-of-day seasonal indices)
# ---------------------------------------------------------------------------
# The weekly-rhythm fingerprint: share of activity per (dow, hour)
# cell and its index against the uniform 1/168 expectation. One scan
# → 168-cell aggregate; engines disagree on dayofweek numbering
# (Spark Sunday=1, DuckDB Sunday=0 — the documented divergence), so
# each side remaps to Monday=0 explicitly.


def _seasonality_sql(dow0: str, hr: str) -> str:
    return f"""
WITH cells AS (
    SELECT CAST({dow0} AS INT) AS dow, CAST({hr} AS INT) AS hour,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cells)
SELECT dow, hour, CAST(n AS BIGINT) AS n_events,
       floor((n / t.t) * 1e6 + 0.5) / 1e6 AS share,
       floor(((n / t.t) * 168e0) * 1e6 + 0.5) / 1e6 AS seasonal_index
FROM cells CROSS JOIN tot t
ORDER BY dow, hour
"""


@register(
    "events_seasonality_profile",
    oracle=_seasonality_sql("(dayofweek(ts) + 6) % 7", "hour(ts)"),
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day-of-week × hour) activity shares and seasonal indices."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_seasonality_sql("(dayofweek(ts) + 5) % 7", "hour(ts)"))


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing + forecast (recursive CTE)
# ---------------------------------------------------------------------------
# Double exponential smoothing: level l_t = α·x_t + (1−α)(l_{t−1} +
# b_{t−1}), trend b_t = γ(l_t − l_{t−1}) + (1−γ)b_{t−1}; the h-step
# forecast is l + h·b. Same reduced-relation recursion as the EWMA/
# CUSUM family (the corpus-sized pass is the daily count aggregation;
# the recursion walks days × types). Each step's level/trend snap to
# the 1e-6 grid (the CUSUM discipline) so state cannot accumulate a
# cross-engine ulp drift; α=0.3, γ=0.1 as e-notation DOUBLE literals.

_HOLT_CTES = """
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
    SELECT event_type, d, n,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS i
    FROM daily
),
holt(event_type, i, d, n, l, b) AS (
    SELECT event_type, i, d, n, CAST(n AS DOUBLE), 0e0
    FROM idx WHERE i = 1
    UNION ALL
    SELECT idx.event_type, idx.i, idx.d, idx.n,
           floor((3e-1 * idx.n + 7e-1 * (h.l + h.b)) * 1e6 + 0.5) / 1e6,
           floor((1e-1 * ((3e-1 * idx.n + 7e-1 * (h.l + h.b)) - h.l)
                  + 9e-1 * h.b) * 1e6 + 0.5) / 1e6
    FROM holt h
    JOIN idx ON idx.event_type = h.event_type AND idx.i = h.i + 1
)
"""

_HOLT_BODY = _HOLT_CTES + """
SELECT event_type, {fmt_day} AS day, CAST(n AS BIGINT) AS n_events,
       l AS level, b AS trend,
       floor((l + b) * 1e6 + 0.5) / 1e6 AS forecast_next,
       floor((l + 7e0 * b) * 1e6 + 0.5) / 1e6 AS forecast_7d
FROM holt
"""

# Spark-side fold twin of the Holt recursion (the Kleinberg trick): a
# Spark recursive CTE schedules one job per step (~100+ micro-jobs of
# pure overhead on a calendar-bounded series); one aggregate() lambda
# replays the IDENTICAL snapped recurrence — the repeated level
# expression inside 'b'/'out' is textually the same arithmetic, so the
# doubles match the recursive DuckDB oracle bit-for-bit. The fold
# accumulates the per-day (l, b) trajectory in the accumulator array;
# posexplode rejoins it to days by integer position.
_HOLT_L = "floor((3e-1 * v + 7e-1 * (a.l + a.b)) * 1e6 + 0.5) / 1e6"
_HOLT_B = (
    "floor((1e-1 * ((3e-1 * v + 7e-1 * (a.l + a.b)) - a.l)"
    " + 9e-1 * a.b) * 1e6 + 0.5) / 1e6"
)

_HOLT_SPARK_CTES = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
    SELECT event_type, d, n,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS i
    FROM daily
),
xs AS (
    SELECT event_type,
           transform(array_sort(collect_list(named_struct('i', i, 'n', n))),
                     s -> CAST(s.n AS DOUBLE)) AS arr
    FROM idx WHERE i >= 2 GROUP BY event_type
),
hinit AS (
    SELECT event_type, CAST(n AS DOUBLE) AS l0 FROM idx WHERE i = 1
),
folded AS (
    SELECT hi.event_type, hi.l0,
           aggregate(
               coalesce(x.arr, CAST(array() AS array<double>)),
               named_struct('l', hi.l0, 'b', CAST(0e0 AS DOUBLE),
                            'out', CAST(array()
                                AS array<struct<l: double, b: double>>)),
               (a, v) -> named_struct(
                   'l', {_HOLT_L},
                   'b', {_HOLT_B},
                   'out', concat(a.out, array(named_struct(
                       'l', {_HOLT_L}, 'b', {_HOLT_B})))),
               a -> a.out) AS out
    FROM hinit hi LEFT JOIN xs x ON x.event_type = hi.event_type
),
hrows AS (
    SELECT event_type, CAST(pos + 2 AS BIGINT) AS i, o.l AS l, o.b AS b
    FROM folded LATERAL VIEW posexplode(out) t AS pos, o
    UNION ALL
    SELECT event_type, CAST(1 AS BIGINT), l0, 0e0 FROM folded
),
holt AS (
    SELECT idx.event_type, idx.i, idx.d, idx.n, h.l, h.b
    FROM hrows h
    JOIN idx ON idx.event_type = h.event_type AND idx.i = h.i
)
"""


@register(
    "events_holt_forecast",
    oracle=_HOLT_BODY.replace("{fmt_day}", "strftime(d, '%Y-%m-%d')"),
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of daily counts with 1/7-day
    forecasts. Spark executes the single-fold twin of the recursive
    oracle (one aggregate() lambda per type, not one job per day)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        (_HOLT_SPARK_CTES + _HOLT_BODY[len(_HOLT_CTES):])
        .replace("{fmt_day}", "date_format(d, 'yyyy-MM-dd')")
    )


# ---------------------------------------------------------------------------
# Walk-forward forecast backtest (one-step MAE / MAPE per type)
# ---------------------------------------------------------------------------
# The evaluation that decides whether the smoother above is deployable:
# each day's forecast_next meets the NEXT day's actual (lead over the
# same recursion output — no second pass over the facts), summarized as
# per-type MAE and MAPE. Errors land on the 1e-6 grid row-wise (the
# forecasts already do), so the order-independent exact-sum path keeps
# the averages hash-stable.

_BACKTEST_TAIL = """,
forecasts AS (
    SELECT event_type, i,
           floor((l + b) * 1e6 + 0.5) / 1e6 AS forecast_next
    FROM holt
),
met AS (
    SELECT f.event_type,
           floor(abs(f.forecast_next - idx.n) * 1e6 + 0.5) / 1e6 AS abs_err,
           floor((abs(f.forecast_next - idx.n) / idx.n) * 1e6 + 0.5) / 1e6
               AS ape
    FROM forecasts f
    JOIN idx ON idx.event_type = f.event_type AND idx.i = f.i + 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_forecasts,
       floor(({sum_abs} / count(*)) * 1e6 + 0.5) / 1e6 AS mae,
       floor(({sum_ape} / count(*)) * 1e6 + 0.5) / 1e6 AS mape
FROM met
GROUP BY event_type
ORDER BY event_type
"""


def _backtest_sql(sum_abs: str, sum_ape: str) -> str:
    return _HOLT_CTES.rstrip() + (
        _BACKTEST_TAIL
        .replace("{sum_abs}", sum_abs)
        .replace("{sum_ape}", sum_ape)
    )


@register(
    "events_forecast_backtest",
    oracle=_backtest_sql(
        sql_exact_sum("abs_err", 6), sql_exact_sum("ape", 6)
    ),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step walk-forward MAE/MAPE of the Holt forecaster, per type.
    Spark replays the fold twin of the Holt recursion (no per-day
    jobs); the oracle keeps the recursive form."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _HOLT_SPARK_CTES.rstrip()
        + _BACKTEST_TAIL
        .replace("{sum_abs}", sql_exact_sum("abs_err", 6))
        .replace("{sum_ape}", sql_exact_sum("ape", 6))
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution (linear + time-decay, journey-segmented)
# ---------------------------------------------------------------------------
# The last-touch model above gives the whole conversion to one touch;
# multi-touch splits it across EVERY touch in the journey — the
# touches since the user's previous purchase. Journey segmentation is
# a running purchase-count window (one user_id shuffle); the
# (purchase × its journey's touches) pairs join on (user, journey), so
# pair fan-out is bounded by journey length, never a user's whole
# history. Two weightings per pair: linear 1/n and half-life decay
# 2^(-age_days/7) normalized per purchase. Per-pair contributions
# snap to the 1e-6 grid, then the order-independent exact sums roll
# up per channel.


def _mta_sql(age_days: str) -> str:
    return f"""
WITH seq AS (
    SELECT user_id, ts, event_id, event_type, value,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS j
    FROM events
),
purchases AS (
    SELECT user_id, coalesce(j, 0) AS j, ts AS p_ts, event_id AS p_id, value
    FROM seq WHERE event_type = 'purchase'
),
touches AS (
    SELECT user_id, coalesce(j, 0) AS j, ts AS t_ts, event_type AS channel
    FROM seq WHERE event_type != 'purchase'
),
pairs AS (
    SELECT p.p_id, p.value, t.channel,
           pow(5e-1, ({age_days}) / 7e0) AS decay
    FROM purchases p
    JOIN touches t ON t.user_id = p.user_id AND t.j = p.j
    WHERE t.t_ts <= p.p_ts
),
weighted AS (
    SELECT channel,
           floor((value / count(*) OVER (PARTITION BY p_id))
                 * 1e6 + 0.5) / 1e6 AS linear_contrib,
           floor((value * decay / sum(decay) OVER (PARTITION BY p_id))
                 * 1e6 + 0.5) / 1e6 AS decay_contrib
    FROM pairs
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       {sql_exact_sum("linear_contrib", 6)} AS linear_value,
       {sql_exact_sum("decay_contrib", 6)} AS decay_value
FROM weighted
GROUP BY channel
ORDER BY channel
"""


@register(
    "events_multi_touch_attribution",
    oracle=_mta_sql(
        "CAST(date_diff('microsecond', t_ts, p_ts) AS DOUBLE) / 864e8"
    ),
)
def events_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear and time-decay multi-touch revenue attribution per channel."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _mta_sql("CAST(timestampdiff(MICROSECOND, t_ts, p_ts) AS DOUBLE) / 864e8")
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes) vs OLS
# ---------------------------------------------------------------------------
# The outlier-immune answer to "is this metric trending?": the median
# of all pairwise slopes tolerates up to ~29% corrupted points, where
# OLS (regr_slope) follows any spike. Pairs form on the REDUCED daily
# series (days² per type, ~500 pairs here; a year is ~66k — trivial),
# never on raw events; the one corpus-sized pass is the daily count
# aggregation. Slopes are exact-integer ratios snapped to the 1e-6
# grid before the median (percentile == quantile_cont pairing), so
# both engines interpolate identical values. OLS runs alongside on
# integer day indices for an apples-to-apples comparison.


def _theil_sen_sql(q: str, day_num: str) -> str:
    return f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
    SELECT event_type, n, CAST({day_num} AS BIGINT) AS x FROM daily
),
pairs AS (
    SELECT a.event_type,
           floor((CAST(b.n - a.n AS DOUBLE) / (b.x - a.x)) * 1e6 + 0.5) / 1e6
               AS slope
    FROM idx a JOIN idx b
      ON a.event_type = b.event_type AND b.x > a.x
),
ts_est AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(({q}(slope, 5e-1)) * 1e6 + 0.5) / 1e6 AS theil_sen_slope
    FROM pairs GROUP BY event_type
),
ols AS (
    -- closed-form least squares from EXACT integer moment sums (n and
    -- x are integers) — engine-internal regr_slope accumulates doubles
    -- in engine-specific order, the cross-engine hazard the CUPED
    -- operator documents
    SELECT event_type,
           floor(((m * sxn - sx * sn) / (m * sx2 - sx * sx))
                 * 1e6 + 0.5) / 1e6 AS ols_slope
    FROM (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS m,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(n) AS DOUBLE) AS sn,
               CAST(sum(x * n) AS DOUBLE) AS sxn,
               CAST(sum(x * x) AS DOUBLE) AS sx2
        FROM idx GROUP BY event_type
    )
)
SELECT t.event_type, t.n_pairs, t.theil_sen_slope, o.ols_slope,
       floor(abs(t.theil_sen_slope - o.ols_slope) * 1e6 + 0.5) / 1e6
           AS divergence
FROM ts_est t JOIN ols o ON t.event_type = o.event_type
ORDER BY t.event_type
"""


@register(
    "events_theil_sen_trend",
    oracle=_theil_sen_sql(
        "quantile_cont", "date_diff('day', DATE '1970-01-01', d)"
    ),
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen median-of-slopes trend per type, with the OLS contrast."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _theil_sen_sql("percentile", "datediff(d, DATE '1970-01-01')")
    )


# ---------------------------------------------------------------------------
# Winsorized / trimmed value statistics (robust aggregation)
# ---------------------------------------------------------------------------
# Completes the robust family (MAD z-scores, Theil–Sen): per event
# type, the mean after clamping values into [p05, p95] (winsorized)
# and after dropping them outside it (trimmed), next to the raw mean
# the outliers drag. The RFM/PSI cutoff pattern again: percentile
# bounds per type in ONE aggregation, broadcast back, map-only clamp.
# Values snap to the 1e-6 grid row-wise before the order-independent
# exact sums, so the means hash cross-engine.


def _winsor_sql(q: str, exact_avg) -> str:
    return f"""
WITH cuts AS (
    SELECT event_type,
           floor(({q}(value, 5e-2)) * 1e6 + 0.5) / 1e6 AS lo,
           floor(({q}(value, 95e-2)) * 1e6 + 0.5) / 1e6 AS hi
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
),
clamped AS (
    SELECT e.event_type,
           floor((e.value) * 1e6 + 0.5) / 1e6 AS v,
           c.lo, c.hi
    FROM events e JOIN cuts c ON e.event_type = c.event_type
    WHERE e.value IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       floor(({exact_avg("v")}) * 1e6 + 0.5) / 1e6 AS raw_mean,
       floor(({exact_avg("least(greatest(v, lo), hi)")}) * 1e6 + 0.5) / 1e6
           AS winsorized_mean,
       floor((
           {exact_avg("CASE WHEN v BETWEEN lo AND hi THEN v END")}
       ) * 1e6 + 0.5) / 1e6 AS trimmed_mean,
       CAST(sum(CASE WHEN v < lo OR v > hi THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clamped
FROM clamped
GROUP BY event_type
ORDER BY event_type
"""


def _winsor_exact_avg(expr: str) -> str:
    # values sit on the 1e-6 grid: sum exactly at 6dp, divide by the
    # NON-NULL count of the same expression (trimmed mean's divisor)
    return (
        f"{sql_exact_sum(expr, 6)} / count({expr})"
    )


@register(
    "events_winsorized_stats",
    oracle=_winsor_sql("quantile_cont", _winsor_exact_avg),
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw vs winsorized vs trimmed mean per type (p05/p95 bounds)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_winsor_sql("percentile", _winsor_exact_avg))


# ---------------------------------------------------------------------------
# Session bounce rate (entry-page analytics over gap sessions)
# ---------------------------------------------------------------------------
# Sessions form with the same 30-minute-gap rule as the sessionization
# family (a new session starts where the gap from the previous event
# exceeds it); each session's ENTRY event type claims the session, and
# a bounce is a single-event session. One user_id window pass builds
# session ids (cumulative sum of session-start flags), one (user,
# session) rollup, one per-entry-type census — the raw log shuffles
# once. Gap tests use exact integer microseconds.


def _bounce_sql(us_gap: str) -> str:
    return f"""
WITH seq AS (
    SELECT user_id, ts, event_id, event_type,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN prev_ts IS NULL
                  OR ({us_gap}) > 1800000000 THEN 1 ELSE 0 END AS starts
    FROM seq
),
sessions AS (
    SELECT user_id, ts, event_id, event_type,
           sum(starts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sid
    FROM flagged
),
per_session AS (
    SELECT user_id, sid,
           min(ts) AS t0,
           count(*) AS n_events,
           max(CASE WHEN rn = 1 THEN event_type END) AS entry_type
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, sid
                                     ORDER BY ts, event_id) AS rn
        FROM sessions
    )
    GROUP BY user_id, sid
)
SELECT entry_type,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
       floor((CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*)) * 1e6 + 0.5) / 1e6 AS bounce_rate,
       floor((CAST(sum(n_events) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6
           AS avg_session_depth
FROM per_session
GROUP BY entry_type
ORDER BY entry_type
"""


@register(
    "events_session_bounce_rate",
    oracle=_bounce_sql(
        "date_diff('microsecond', CAST(prev_ts AS TIMESTAMP),"
        " CAST(ts AS TIMESTAMP))"
    ),
)
def events_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate and mean depth per session entry type (30-min gaps)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_bounce_sql("timestampdiff(MICROSECOND, prev_ts, ts)"))


# ---------------------------------------------------------------------------
# Peak concurrent sessions per day (max-overlap sweep)
# ---------------------------------------------------------------------------
# Capacity planning's favorite number: the maximum number of sessions
# open at the same instant, per day. Sessions come from the same
# 30-minute-gap rule as the bounce-rate operator; each session then
# EXPLODES to the days it overlaps (sequence(start_day, end_day) — the
# WAU fan-out pattern, bounded because gap sessions are short) and is
# clipped to each day's window, so the sweep's running sum PARTITIONS
# BY DAY with no cross-midnight carry error. The sweep orders by
# (instant, delta) with -1 before +1, so back-to-back sessions
# touching at one microsecond don't double-count. All integer
# arithmetic until the final ratio-free output.


def _concurrency_sql(us_gap: str, day_seq: str, day_str: str) -> str:
    return f"""
WITH seq AS (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN prev_ts IS NULL
                  OR ({us_gap}) > 1800000000 THEN 1 ELSE 0 END AS starts
    FROM seq
),
numbered AS (
    SELECT user_id, ts,
           sum(starts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sid
    FROM flagged
),
sessions AS (
    SELECT user_id, sid, min(ts) AS t0, max(ts) AS t1
    FROM numbered GROUP BY user_id, sid
),
spans AS (
    SELECT s.user_id, s.sid, d AS day,
           greatest(s.t0, CAST(d AS TIMESTAMP)) AS c0,
           least(s.t1, CAST(d AS TIMESTAMP) + INTERVAL 1 DAY
                       - INTERVAL 1 MICROSECOND) AS c1
    FROM sessions s {day_seq}
),
boundaries AS (
    SELECT day, c0 AS t, 1 AS delta FROM spans
    UNION ALL
    SELECT day, c1 AS t, -1 AS delta FROM spans
),
sweep AS (
    SELECT day,
           sum(delta) OVER (PARTITION BY day ORDER BY t, delta
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS open_now
    FROM boundaries
)
SELECT {day_str} AS day,
       CAST(max(open_now) AS INT) AS peak_concurrent_sessions
FROM sweep
GROUP BY day
ORDER BY day
"""


@register(
    "events_peak_concurrency",
    oracle=_concurrency_sql(
        "date_diff('microsecond', CAST(prev_ts AS TIMESTAMP),"
        " CAST(ts AS TIMESTAMP))",
        ", UNNEST(generate_series(CAST(s.t0 AS DATE), CAST(s.t1 AS DATE),"
        " INTERVAL 1 DAY)) AS g(d)",
        "strftime(CAST(day AS DATE), '%Y-%m-%d')",
    ),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak concurrent sessions (gap sessions, day-clipped sweep)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _concurrency_sql(
            "timestampdiff(MICROSECOND, prev_ts, ts)",
            "LATERAL VIEW explode(sequence(CAST(s.t0 AS DATE),"
            " CAST(s.t1 AS DATE))) g AS d",
            "date_format(CAST(day AS DATE), 'yyyy-MM-dd')",
        )
    )


# ---------------------------------------------------------------------------
# Lag-feature matrix (the feature-engineering staple)
# ---------------------------------------------------------------------------
# The table a forecasting model trains on: per (type, day), the count
# plus lag-1/lag-7 values and a trailing-7-day mean/std. All windows
# partition by type over the REDUCED daily series; counts are exact
# integers so the rolling moments derive from integer sums (Σx, Σx²)
# — no engine-ordered double accumulation — and snap at output.


def _lag_features_sql(fmt_day: str) -> str:
    return f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
feats AS (
    SELECT event_type, d, n,
           lag(n, 1) OVER w AS lag1,
           lag(n, 7) OVER w AS lag7,
           sum(n) OVER w7 AS s7,
           sum(n * n) OVER w7 AS ss7,
           count(*) OVER w7 AS c7
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d),
           w7 AS (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, {fmt_day} AS day,
       CAST(n AS BIGINT) AS n_events,
       CAST(lag1 AS BIGINT) AS lag_1d,
       CAST(lag7 AS BIGINT) AS lag_7d,
       floor((CAST(s7 AS DOUBLE) / c7) * 1e6 + 0.5) / 1e6 AS mean_7d,
       floor(sqrt(greatest(0e0,
             CAST(ss7 AS DOUBLE) / c7
             - (CAST(s7 AS DOUBLE) / c7) * (CAST(s7 AS DOUBLE) / c7)))
             * 1e6 + 0.5) / 1e6 AS std_7d
FROM feats
ORDER BY event_type, day
"""


@register(
    "events_lag_feature_matrix",
    oracle=_lag_features_sql("strftime(d, '%Y-%m-%d')"),
)
def events_lag_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, day) lag and trailing-window features for forecasting."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_lag_features_sql("date_format(d, 'yyyy-MM-dd')"))


# ---------------------------------------------------------------------------
# Seasonal-residual anomalies (expected = daily level × hourly profile)
# ---------------------------------------------------------------------------
# The z-score band and MAD monitors treat every hour alike; real
# traffic has a weekly rhythm, so the honest anomaly score compares
# each (day, hour) cell against daily_total × that (dow, hour)'s
# long-run share. Two reduced relations (daily totals; the 168-cell
# profile, both from one scan each), a broadcast-sized join back, and
# a residual ratio snapped before the |·| > threshold flag. Integer
# counts throughout until the final ratios.


def _seasonal_resid_sql(dow0: str, fmt_day: str) -> str:
    return f"""
WITH cells AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST({dow0} AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hr,
           count(*) AS n
    FROM events
    GROUP BY 1, 2, 3
),
daily AS (
    SELECT d, CAST(sum(n) AS DOUBLE) AS day_tot FROM cells GROUP BY d
),
profile AS (
    SELECT dow, hr, CAST(sum(n) AS DOUBLE) AS cell_tot FROM cells
    GROUP BY dow, hr
),
dow_tot AS (
    SELECT dow, CAST(sum(cell_tot) AS DOUBLE) AS t FROM profile GROUP BY dow
),
scored AS (
    -- expected = day's total × P(hour | that day-of-week), the exact
    -- conditional from the long-run profile
    SELECT c.d, c.dow, c.hr, c.n,
           floor((dy.day_tot * (p.cell_tot / dt.t))
                 * 1e6 + 0.5) / 1e6 AS expected
    FROM cells c
    JOIN daily dy ON c.d = dy.d
    JOIN profile p ON c.dow = p.dow AND c.hr = p.hr
    JOIN dow_tot dt ON c.dow = dt.dow
)
SELECT {fmt_day} AS day, dow, hr,
       CAST(n AS BIGINT) AS n_events,
       expected,
       floor(((n - expected) / sqrt(greatest(expected, 1e0)))
             * 1e6 + 0.5) / 1e6 AS poisson_z,
       CAST(CASE WHEN abs(floor(((n - expected)
                  / sqrt(greatest(expected, 1e0))) * 1e6 + 0.5) / 1e6)
                 > 4e0 THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM scored
ORDER BY day, hr
"""


@register(
    "events_seasonal_anomalies",
    oracle=_seasonal_resid_sql(
        "(dayofweek(ts) + 6) % 7", "strftime(d, '%Y-%m-%d')"
    ),
)
def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-style z vs (daily level × weekly hourly profile), flagged."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _seasonal_resid_sql("(dayofweek(ts) + 5) % 7", "date_format(d, 'yyyy-MM-dd')")
    )


# ---------------------------------------------------------------------------
# Latency-decade histogram of inter-arrival gaps
# ---------------------------------------------------------------------------
# The observability-standard exponential-bucket histogram, per event
# type: bucket inter-arrival gaps by order of magnitude (decades of
# microseconds). The bucket index is the DIGIT COUNT of the integer gap
# — exact integer/string arithmetic on both engines, deliberately not
# floor(log10(x)) or floor(log2(x)), whose libm results at exact bucket
# edges are not guaranteed to round identically cross-engine. One
# user-keyed shuffle for the lag, one tiny (type x decade) aggregation;
# bucket bounds reconstruct as 10^(d-1), exact in a double far past any
# realistic gap.


def _latency_decades_sql(micros_diff: str) -> str:
    return f"""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS prev_ts
    FROM events
),
gaps AS (
    SELECT event_type, CAST(({micros_diff}) AS BIGINT) AS gap_us
    FROM ordered
    WHERE prev_ts IS NOT NULL AND ({micros_diff}) > 0
),
buckets AS (
    SELECT event_type,
           CAST(length(CAST(gap_us AS STRING)) AS BIGINT) AS decade,
           CAST(count(*) AS BIGINT)                        AS n_gaps
    FROM gaps
    GROUP BY event_type, length(CAST(gap_us AS STRING))
)
SELECT event_type,
       decade,
       -- bounds built from digit strings, not power(10, d): pow is libm
       -- (and Spark truncates double->bigint while DuckDB rounds), so an
       -- off-by-an-ulp pow at a bucket edge would diverge cross-engine
       CAST('1' || repeat('0', CAST(decade - 1 AS INT)) AS BIGINT) AS lo_us,
       CAST(repeat('9', CAST(decade AS INT)) AS BIGINT)            AS hi_us,
       n_gaps,
       floor((CAST(n_gaps AS DOUBLE)
              / sum(n_gaps) OVER (PARTITION BY event_type)) * 1e6 + 0.5) / 1e6
                                               AS share
FROM buckets
"""


@register(
    "events_latency_decade_histogram",
    oracle=_latency_decades_sql(
        "date_diff('microsecond', CAST(prev_ts AS TIMESTAMP), CAST(ts AS TIMESTAMP))"
    ),
)
def events_latency_decade_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential (decade-of-microseconds) histogram of same-user
    inter-arrival gaps per event type, with reconstructed bucket bounds
    and within-type shares.

    Digit-count bucketing keeps the edge math exact cross-engine; the
    only corpus-sized stage is the lag window's user_id shuffle, and the
    histogram itself is (types x ~14 decades) — constant-sized at any SF.
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(_latency_decades_sql("timestampdiff(MICROSECOND, prev_ts, ts)"))


# ---------------------------------------------------------------------------
# Hysteresis alerting (two-threshold stateful alarm)
# ---------------------------------------------------------------------------
# The ops-monitoring alarm that z-score bands can't express: ON when
# the reading crosses the high threshold, OFF only after it falls
# below the LOW one — the dead band suppresses flapping. Stateful, but
# not iterative: the state at any event is the DIRECTION OF THE MOST
# RECENT CROSSING, i.e. one LOCF window (last non-null crossing signal
# per user, running frame) — the same shape as forward fill, so one
# user-keyed shuffle handles arbitrarily long histories. Episodes =
# OFF→ON transitions via lag. All comparisons are against literal
# thresholds on stored doubles — no engine-computed float boundaries.

_HYST_HI = "200.0"
_HYST_LO = "50.0"


def _hysteresis_sql(locf: str) -> str:
    sig = (
        f"CASE WHEN value >= {_HYST_HI} THEN 1 "
        f"WHEN value <= {_HYST_LO} THEN 0 END"
    )
    return f"""
WITH state AS (
    SELECT user_id, event_id, ts,
           coalesce({locf.format(expr=sig)}
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0) AS alarm
    FROM events
),
edges AS (
    SELECT user_id, alarm,
           coalesce(lag(alarm) OVER (
               PARTITION BY user_id ORDER BY ts, event_id), 0) AS prev
    FROM state
)
SELECT user_id,
       CAST(sum(CASE WHEN alarm = 1 AND prev = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_episodes,
       CAST(sum(alarm) AS BIGINT) AS n_events_in_alarm,
       CAST(count(*) AS BIGINT) AS n_events
FROM edges
GROUP BY user_id
HAVING sum(CASE WHEN alarm = 1 AND prev = 0 THEN 1 ELSE 0 END) > 0
"""


@register(
    "events_hysteresis_alerts",
    oracle=_hysteresis_sql("last_value({expr} IGNORE NULLS)"),
)
def events_hysteresis_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user two-threshold (200/50) hysteresis alarm: episode
    counts and events-in-alarm, state carried by one LOCF window —
    no iteration, one user-keyed shuffle."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_hysteresis_sql("last_value({expr}, true)"))


# ---------------------------------------------------------------------------
# New vs returning DAU (the growth-accounting split)
# ---------------------------------------------------------------------------
# events_dau_mau_stickiness reports engagement depth; growth
# accounting needs the SOURCE of each day's actives: first-ever-seen
# (new) vs returning. First-seen day is one user-keyed min-aggregation
# over the (user, day) relation; the daily split is a second rollup —
# no window at all. Days render as STRING per the cross-engine date
# discipline.

_NVR_SQL = """
WITH days AS (
    SELECT user_id, substr(CAST(ts AS STRING), 1, 10) AS day
    FROM events GROUP BY user_id, substr(CAST(ts AS STRING), 1, 10)
),
firsts AS (
    SELECT user_id, min(day) AS first_day FROM days GROUP BY user_id
)
SELECT d.day,
       CAST(count(*) AS BIGINT) AS dau,
       CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
       CAST(sum(CASE WHEN d.day != f.first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS returning_users,
       floor((CAST(sum(CASE WHEN d.day != f.first_day THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6
           AS returning_share
FROM days d JOIN firsts f ON f.user_id = d.user_id
GROUP BY d.day
"""


@register("events_new_vs_returning_dau", oracle=_NVR_SQL)
def events_new_vs_returning_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives split into first-ever-seen vs returning users —
    the growth-accounting series. Two user-keyed aggregations, no
    windows."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_NVR_SQL)


# ---------------------------------------------------------------------------
# Holt-Winters additive smoothing (level + trend + weekly seasonality)
# ---------------------------------------------------------------------------
# Triple exponential smoothing with period m = 7:
#   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
#   b_t = γ(l_t − l_{t−1}) + (1−γ)b_{t−1}
#   s_t = δ(x_t − l_t)   + (1−δ)s_{t−m}
# α=0.2, γ=0.1, δ=0.1. A recursive CTE only sees the PREVIOUS
# iteration's rows, so s_{t−m} cannot be fetched by joining 7 levels
# back; instead the last 7 seasonals ride along as seven scalar state
# columns that shift one slot per step (s1 = s_{t−6} … s7 = s_t) —
# fully portable SQL, no array-dialect divergence. Seeding at t = m:
# l = mean of the first week, b = 0, s_k = x_k − l (exact integer sum
# / 7, then identical double chains). Same reduced-relation shape as
# the Holt/EWMA family: the one corpus-sized pass is the daily count
# aggregation; level/trend/seasonal snap to the 1e-6 grid each step
# (the CUSUM discipline) so state cannot drift cross-engine. The
# one-step forecast l + b + s_{t+1−m} reads the post-shift s1 slot.

_HW_BODY = """
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
    SELECT event_type, d, n,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS i
    FROM daily
),
wk1 AS (
    SELECT event_type,
           CAST(sum(n) AS DOUBLE) / 7e0 AS l0,
           max(CASE WHEN i = 1 THEN CAST(n AS DOUBLE) END) AS x1,
           max(CASE WHEN i = 2 THEN CAST(n AS DOUBLE) END) AS x2,
           max(CASE WHEN i = 3 THEN CAST(n AS DOUBLE) END) AS x3,
           max(CASE WHEN i = 4 THEN CAST(n AS DOUBLE) END) AS x4,
           max(CASE WHEN i = 5 THEN CAST(n AS DOUBLE) END) AS x5,
           max(CASE WHEN i = 6 THEN CAST(n AS DOUBLE) END) AS x6,
           max(CASE WHEN i = 7 THEN CAST(n AS DOUBLE) END) AS x7
    FROM idx WHERE i <= 7 GROUP BY event_type
),
hw(event_type, i, d, n, l, b, s1, s2, s3, s4, s5, s6, s7) AS (
    SELECT idx.event_type, idx.i, idx.d, idx.n,
           floor(w.l0 * 1e6 + 0.5) / 1e6, 0e0,
           floor((w.x1 - w.l0) * 1e6 + 0.5) / 1e6,
           floor((w.x2 - w.l0) * 1e6 + 0.5) / 1e6,
           floor((w.x3 - w.l0) * 1e6 + 0.5) / 1e6,
           floor((w.x4 - w.l0) * 1e6 + 0.5) / 1e6,
           floor((w.x5 - w.l0) * 1e6 + 0.5) / 1e6,
           floor((w.x6 - w.l0) * 1e6 + 0.5) / 1e6,
           floor((w.x7 - w.l0) * 1e6 + 0.5) / 1e6
    FROM idx JOIN wk1 w ON w.event_type = idx.event_type
    WHERE idx.i = 7
    UNION ALL
    SELECT idx.event_type, idx.i, idx.d, idx.n,
           floor((2e-1 * (idx.n - h.s1) + 8e-1 * (h.l + h.b))
                 * 1e6 + 0.5) / 1e6,
           floor((1e-1 * ((2e-1 * (idx.n - h.s1) + 8e-1 * (h.l + h.b))
                          - h.l)
                  + 9e-1 * h.b) * 1e6 + 0.5) / 1e6,
           h.s2, h.s3, h.s4, h.s5, h.s6, h.s7,
           floor((1e-1 * (idx.n
                          - (2e-1 * (idx.n - h.s1)
                             + 8e-1 * (h.l + h.b)))
                  + 9e-1 * h.s1) * 1e6 + 0.5) / 1e6
    FROM hw h
    JOIN idx ON idx.event_type = h.event_type AND idx.i = h.i + 1
)
SELECT event_type, {fmt_day} AS day, CAST(n AS BIGINT) AS n_events,
       l AS level, b AS trend, s7 AS seasonal,
       floor((l + b + s1) * 1e6 + 0.5) / 1e6 AS forecast_next
FROM hw
ORDER BY event_type, day
"""


@register(
    "events_holt_winters_weekly",
    oracle=_HW_BODY.replace("{fmt_day}", "strftime(d, '%Y-%m-%d')"),
)
def events_holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive smoothing of daily counts, weekly season.
    Spark executes the single-fold twin of the recursive oracle (one
    aggregate() lambda per type carrying the (l, b, s1..s7) state and
    the per-day output trajectory — identical snapped recurrence, no
    per-day Spark jobs)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_HW_SPARK_FOLD)


# Fold-twin recurrence pieces (textually identical arithmetic to the
# recursive branch of _HW_BODY, with h.* -> a.* and idx.n -> v).
_HW_L = "floor((2e-1 * (v - a.s1) + 8e-1 * (a.l + a.b)) * 1e6 + 0.5) / 1e6"
_HW_B = (
    "floor((1e-1 * ((2e-1 * (v - a.s1) + 8e-1 * (a.l + a.b)) - a.l)"
    " + 9e-1 * a.b) * 1e6 + 0.5) / 1e6"
)
_HW_S7 = (
    "floor((1e-1 * (v - (2e-1 * (v - a.s1) + 8e-1 * (a.l + a.b)))"
    " + 9e-1 * a.s1) * 1e6 + 0.5) / 1e6"
)
# forecast_next of a step = l' + b' + s1' where s1' = a.s2 (post-shift)
_HW_F = f"floor((({_HW_L}) + ({_HW_B}) + a.s2) * 1e6 + 0.5) / 1e6"

_HW_SPARK_FOLD = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
    SELECT event_type, d, n,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS i
    FROM daily
),
wk1 AS (
    SELECT event_type,
           CAST(sum(n) AS DOUBLE) / 7e0 AS l0,
           max(CASE WHEN i = 1 THEN CAST(n AS DOUBLE) END) AS x1,
           max(CASE WHEN i = 2 THEN CAST(n AS DOUBLE) END) AS x2,
           max(CASE WHEN i = 3 THEN CAST(n AS DOUBLE) END) AS x3,
           max(CASE WHEN i = 4 THEN CAST(n AS DOUBLE) END) AS x4,
           max(CASE WHEN i = 5 THEN CAST(n AS DOUBLE) END) AS x5,
           max(CASE WHEN i = 6 THEN CAST(n AS DOUBLE) END) AS x6,
           max(CASE WHEN i = 7 THEN CAST(n AS DOUBLE) END) AS x7
    FROM idx WHERE i <= 7 GROUP BY event_type
),
hwinit AS (
    SELECT event_type,
           floor(l0 * 1e6 + 0.5) / 1e6 AS l, 0e0 AS b,
           floor((x1 - l0) * 1e6 + 0.5) / 1e6 AS s1,
           floor((x2 - l0) * 1e6 + 0.5) / 1e6 AS s2,
           floor((x3 - l0) * 1e6 + 0.5) / 1e6 AS s3,
           floor((x4 - l0) * 1e6 + 0.5) / 1e6 AS s4,
           floor((x5 - l0) * 1e6 + 0.5) / 1e6 AS s5,
           floor((x6 - l0) * 1e6 + 0.5) / 1e6 AS s6,
           floor((x7 - l0) * 1e6 + 0.5) / 1e6 AS s7
    FROM wk1
),
xs AS (
    SELECT event_type,
           transform(array_sort(collect_list(named_struct('i', i, 'n', n))),
                     s -> CAST(s.n AS DOUBLE)) AS arr
    FROM idx WHERE i >= 8 GROUP BY event_type
),
folded AS (
    SELECT hi.event_type, hi.l AS l7, hi.b AS b7, hi.s1 AS s1_7,
           hi.s7 AS s7_7,
           aggregate(
               coalesce(x.arr, CAST(array() AS array<double>)),
               named_struct('l', hi.l, 'b', hi.b,
                            's1', hi.s1, 's2', hi.s2, 's3', hi.s3,
                            's4', hi.s4, 's5', hi.s5, 's6', hi.s6,
                            's7', hi.s7,
                            'out', CAST(array() AS array<struct<
                                l: double, b: double, s7: double,
                                f: double>>)),
               (a, v) -> named_struct(
                   'l', {_HW_L}, 'b', {_HW_B},
                   's1', a.s2, 's2', a.s3, 's3', a.s4, 's4', a.s5,
                   's5', a.s6, 's6', a.s7, 's7', {_HW_S7},
                   'out', concat(a.out, array(named_struct(
                       'l', {_HW_L}, 'b', {_HW_B}, 's7', {_HW_S7},
                       'f', {_HW_F})))),
               a -> a.out) AS out
    FROM hwinit hi LEFT JOIN xs x ON x.event_type = hi.event_type
),
hwrows AS (
    SELECT event_type, CAST(pos + 8 AS BIGINT) AS i,
           o.l AS l, o.b AS b, o.s7 AS s7, o.f AS f
    FROM folded LATERAL VIEW posexplode(out) t AS pos, o
    UNION ALL
    SELECT event_type, CAST(7 AS BIGINT), l7, b7, s7_7,
           floor((l7 + b7 + s1_7) * 1e6 + 0.5) / 1e6
    FROM folded
)
SELECT idx.event_type, date_format(idx.d, 'yyyy-MM-dd') AS day,
       CAST(idx.n AS BIGINT) AS n_events,
       r.l AS level, r.b AS trend, r.s7 AS seasonal,
       r.f AS forecast_next
FROM hwrows r
JOIN idx ON idx.event_type = r.event_type AND idx.i = r.i
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Kleinberg burst detection (2-state Viterbi, exact)
# ---------------------------------------------------------------------------
# Kleinberg 2002: model the daily purchase-count series as a 2-state
# automaton (base rate λ0 = series mean, burst rate λ1 = 1.1·λ0 — the
# corpus' real structure is the weekday/weekend split at ~±8%, and the
# burst/base ratio is a scale-free sensitivity: the weekday plateau
# stays a burst at every corpus size, unlike an absolute threshold),
# charge
# a Poisson emission cost per day plus γ = 1 for each 0→1 transition,
# and take the MINIMUM-cost state path — the principled "is this spike
# a burst or noise" labeling, vs the z-score/CUSUM heuristics above.
#
# Viterbi needs backtracking, which a recursive CTE cannot do by
# revisiting rows — so each state carries its FULL backpointer path as
# a '0'/'1' string that grows one char per day (days-bounded, ~120
# chars at any horizon; string concat is portable ||). The emission
# cost drops the state-independent ln(x!) term (identical for both
# states, cancels in every comparison — and lgamma is not portable
# SQL), leaving λ_s − x·ln λ_s. Costs snap to the 1e-6 grid each step
# (the recursion discipline), ties prefer the lower state via <= —
# deterministic on both engines because the compared doubles are
# identical snapped values. One corpus-sized count pass; the recursion
# walks the bounded daily series; the final explode re-joins states to
# days by integer position.

_BURST_BODY = """
WITH RECURSIVE daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_type = 'purchase'
    GROUP BY CAST(ts AS DATE)
),
idx AS (
    SELECT d, n,
           CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
    FROM daily
),
mu AS (
    SELECT CAST(sum(n) AS DOUBLE) / count(*) AS l0,
           11e-1 * (CAST(sum(n) AS DOUBLE) / count(*)) AS l1
    FROM idx
),
vit(i, c0, p0, c1, p1) AS (
    SELECT idx.i,
           floor((mu.l0 - idx.n * ln(mu.l0)) * 1e6 + 0.5) / 1e6,
           '0',
           floor((mu.l1 - idx.n * ln(mu.l1) + 1e0) * 1e6 + 0.5) / 1e6,
           '1'
    FROM idx CROSS JOIN mu WHERE idx.i = 1
    UNION ALL
    SELECT idx.i,
           floor((mu.l0 - idx.n * ln(mu.l0)
                  + CASE WHEN v.c0 <= v.c1 THEN v.c0 ELSE v.c1 END)
                 * 1e6 + 0.5) / 1e6,
           CASE WHEN v.c0 <= v.c1 THEN v.p0 ELSE v.p1 END || '0',
           floor((mu.l1 - idx.n * ln(mu.l1)
                  + CASE WHEN v.c0 + 1e0 <= v.c1 THEN v.c0 + 1e0
                         ELSE v.c1 END)
                 * 1e6 + 0.5) / 1e6,
           CASE WHEN v.c0 + 1e0 <= v.c1 THEN v.p0 ELSE v.p1 END || '1'
    FROM vit v
    JOIN idx ON idx.i = v.i + 1
    CROSS JOIN mu
),
last AS (
    SELECT c0, p0, c1, p1 FROM vit
    WHERE i = (SELECT max(i) FROM vit)
),
best AS (
    SELECT CASE WHEN c0 <= c1 THEN p0 ELSE p1 END AS path FROM last
)
SELECT {fmt_day} AS day, idx.n AS n_events,
       CASE WHEN substr(best.path, CAST(idx.i AS INT), 1) = '1'
            THEN 'burst' ELSE 'normal' END AS state
FROM idx CROSS JOIN best
ORDER BY day
"""


# Spark-side twin of the recursive Viterbi: ONE aggregate() lambda fold
# over the (calendar-bounded) daily array. A Spark recursive CTE runs
# one job per recursion step — ~120 micro-jobs whose fixed scheduling
# overhead dominated the query (~40 s at sf0.1 for <200 rows of real
# work); the fold is the identical snapped algebra (same ln/floor/
# tie-break expressions, so results hash-match the recursive DuckDB
# oracle) executed inside a single whole-stage-codegen expression.
_BURST_SPARK_FOLD = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_type = 'purchase'
    GROUP BY CAST(ts AS DATE)
),
idx AS (
    SELECT d, n,
           CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
    FROM daily
),
mu AS (
    SELECT CAST(sum(n) AS DOUBLE) / count(*) AS l0,
           11e-1 * (CAST(sum(n) AS DOUBLE) / count(*)) AS l1
    FROM idx
),
arr AS (
    SELECT transform(array_sort(collect_list(named_struct('i', i, 'n', n))),
                     s -> s.n) AS ns
    FROM idx
),
folded AS (
    SELECT aggregate(
        arr.ns,
        named_struct('started', false,
                     'c0', CAST(0 AS DOUBLE), 'p0', '',
                     'c1', CAST(0 AS DOUBLE), 'p1', ''),
        (a, x) -> CASE WHEN NOT a.started THEN named_struct(
            'started', true,
            'c0', floor((mu.l0 - x * ln(mu.l0)) * 1e6 + 0.5) / 1e6,
            'p0', '0',
            'c1', floor((mu.l1 - x * ln(mu.l1) + 1e0) * 1e6 + 0.5) / 1e6,
            'p1', '1')
        ELSE named_struct(
            'started', true,
            'c0', floor((mu.l0 - x * ln(mu.l0)
                         + CASE WHEN a.c0 <= a.c1 THEN a.c0 ELSE a.c1 END)
                        * 1e6 + 0.5) / 1e6,
            'p0', CASE WHEN a.c0 <= a.c1 THEN a.p0 ELSE a.p1 END || '0',
            'c1', floor((mu.l1 - x * ln(mu.l1)
                         + CASE WHEN a.c0 + 1e0 <= a.c1 THEN a.c0 + 1e0
                                ELSE a.c1 END)
                        * 1e6 + 0.5) / 1e6,
            'p1', CASE WHEN a.c0 + 1e0 <= a.c1 THEN a.p0 ELSE a.p1 END
                  || '1') END,
        a -> CASE WHEN a.c0 <= a.c1 THEN a.p0 ELSE a.p1 END) AS path
    FROM arr CROSS JOIN mu
)
SELECT date_format(idx.d, 'yyyy-MM-dd') AS day, idx.n AS n_events,
       CASE WHEN substr(folded.path, CAST(idx.i AS INT), 1) = '1'
            THEN 'burst' ELSE 'normal' END AS state
FROM idx CROSS JOIN folded
ORDER BY day
"""


@register(
    "events_kleinberg_bursts",
    oracle=_BURST_BODY.replace("{fmt_day}", "strftime(idx.d, '%Y-%m-%d')"),
)
def events_kleinberg_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost 2-state burst labeling of the daily purchase series.

    Spark executes the single-fold formulation (see _BURST_SPARK_FOLD:
    one aggregate() lambda over the calendar-bounded daily array —
    identical snapped algebra to the recursive-CTE oracle, without one
    Spark job per recursion step)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_BURST_SPARK_FOLD)


# ---------------------------------------------------------------------------
# Periodogram: DFT power over candidate periods of the daily series
# ---------------------------------------------------------------------------
# Seasonality DETECTION, where events_seasonality_profile assumes the
# weekly period: evaluate the discrete Fourier power of the (mean-
# centered) daily purchase count at every candidate period 2..14 days,
# and report each period's share of the scanned spectrum. The weekly
# peak (k=7, plus its k=3/k=4 harmonic leakage) is the data-driven
# justification for every "dow" feature elsewhere in the catalog.
#
# Float discipline: the day index i and count n are exact integers;
# each projection term (n - mu)*cos/sin(2*pi*i/k) snaps to 1e-6 the
# moment it is computed (libm cos/sin can drift an ulp cross-engine;
# the snapped product absorbs it), then accumulates order-
# independently via sql_exact_sum; powers and shares are single
# snapped expressions of those sums.
#
# Scale: ONE corpus-sized pass (the daily count aggregation); the
# day-index window and the 13-period cross join run on the calendar-
# bounded daily relation (allowlisted global window).

_PGRAM_BODY = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_type = 'purchase'
    GROUP BY CAST(ts AS DATE)
),
idx AS (
    SELECT n, CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS i
    FROM daily
),
mu AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS m FROM idx),
terms AS (
    SELECT p.k,
           {sql_exact_sum(
               "floor(((idx.n - mu.m)"
               " * cos(2e0 * pi() * idx.i / p.k)) * 1e6 + 0.5) / 1e6", 6)}
               AS sc,
           {sql_exact_sum(
               "floor(((idx.n - mu.m)"
               " * sin(2e0 * pi() * idx.i / p.k)) * 1e6 + 0.5) / 1e6", 6)}
               AS ss
    FROM idx CROSS JOIN ({{periods}}) p CROSS JOIN mu
    GROUP BY p.k
),
pw AS (
    SELECT k, floor((sc * sc + ss * ss) * 1e3 + 0.5) / 1e3 AS power
    FROM terms
),
tot AS (SELECT {sql_exact_sum("power", 3)} AS s FROM pw)
SELECT CAST(pw.k AS BIGINT) AS period_days,
       pw.power,
       {sql_stable_round("pw.power / tot.s", 6)} AS spectrum_share
FROM pw CROSS JOIN tot
ORDER BY period_days
"""

_PGRAM_SPARK_SQL = _PGRAM_BODY.replace(
    "{periods}", "SELECT explode(sequence(2, 14)) AS k"
)
_PGRAM_DUCK_SQL = _PGRAM_BODY.replace(
    "{periods}", "SELECT unnest(generate_series(2, 14)) AS k"
)


@register("events_periodogram_periods", oracle=_PGRAM_DUCK_SQL)
def events_periodogram_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT power of the mean-centered daily purchase series at candidate
    periods 2..14 days, with each period's spectrum share — data-driven
    seasonality detection."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_PGRAM_SPARK_SQL)


# ---------------------------------------------------------------------------
# STL-style seasonal-trend decomposition of the daily revenue series
# ---------------------------------------------------------------------------
# The classical additive decomposition (the moving-average core of
# STL, Cleveland et al. 1990, without the loess robustness loop):
# trend = centered 7-day moving average (complete windows only — the
# RANGE frame runs over integer day numbers so calendar gaps shrink
# the window and the count()=7 guard nulls the edge), seasonal =
# day-of-week mean of the detrended series, remainder = what's left.
# The decomposition identity obs = trend + seasonal + remainder holds
# exactly on the snapped grid by construction.
#
# Determinism: daily totals are exact cent integers; the trend MA is
# an integer window sum with ONE snapped division; the seasonal means
# exact-sum the snapped detrended values. Engines disagree on
# dayofweek numbering — each side remaps to Monday=0 explicitly.
#
# Scale: one corpus aggregation → calendar-bounded daily relation
# (allowlisted global-window class); windows and joins all run on it.

_STL_DAILY_SQL = """
SELECT CAST(ts AS DATE) AS d,
       CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
           AS obs_c
FROM events WHERE value IS NOT NULL
GROUP BY CAST(ts AS DATE)
"""


def _stl_tail(daynum: str, dow0: str, fmt_day: str, daily: str) -> str:
    return f"""
ma AS (
    SELECT d, obs_c,
           CASE WHEN count(*) OVER w = 7
                THEN floor(CAST(sum(obs_c) OVER w AS DOUBLE) / 7e2
                           * 1e6 + 0.5) / 1e6
           END AS trend
    FROM (SELECT d, obs_c, {daynum} AS dn FROM {daily}) t
    WINDOW w AS (ORDER BY dn RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detr AS (
    SELECT d, obs_c, trend,
           CASE WHEN trend IS NOT NULL
                THEN floor((CAST(obs_c AS DOUBLE) / 1e2 - trend)
                           * 1e6 + 0.5) / 1e6
           END AS detrended
    FROM ma
),
seas AS (
    SELECT CAST({dow0} AS INT) AS dow,
           floor({{dmean}} / count(detrended) * 1e6 + 0.5) / 1e6
               AS seasonal
    FROM detr WHERE detrended IS NOT NULL
    GROUP BY CAST({dow0} AS INT)
)
SELECT {fmt_day} AS day,
       CAST(m.obs_c AS DOUBLE) / 1e2 AS observed,
       m.trend,
       s.seasonal,
       CASE WHEN m.detrended IS NOT NULL
            THEN floor((m.detrended - s.seasonal) * 1e6 + 0.5) / 1e6
       END AS remainder
FROM detr m
JOIN seas s ON s.dow = CAST({{dow0_m}} AS INT)
ORDER BY day
"""


def _stl_sql(daynum: str, dow0: str, fmt_day: str, daily: str) -> str:
    tail = (
        _stl_tail(daynum, dow0, fmt_day, daily)
        .replace("{dmean}", sql_exact_sum("detrended", 6))
        .replace("{dow0_m}", dow0.replace("(d)", "(m.d)"))
    )
    return tail


@register(
    "events_stl_decomposition",
    oracle="WITH stl_daily AS (" + _STL_DAILY_SQL + "),\n"
    + _stl_sql(
        "CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT)",
        "(dayofweek(d) + 6) % 7",
        "strftime(d, '%Y-%m-%d')",
        "stl_daily",
    ).lstrip(),
)
def events_stl_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive STL-style decomposition of daily revenue: centered
    7-day MA trend, day-of-week seasonal means of the detrended
    series, and the remainder (obs = trend + seasonal + remainder on
    the snapped grid)."""
    register_views(spark, sf_dir, "events")
    materialize(spark.sql(_STL_DAILY_SQL), "stl_daily")
    return spark.sql(
        "WITH "
        + _stl_sql(
            "CAST(datediff(d, DATE '1970-01-01') AS BIGINT)",
            "(dayofweek(d) + 5) % 7",
            "date_format(d, 'yyyy-MM-dd')",
            "stl_daily",
        ).lstrip()
    )


# ---------------------------------------------------------------------------
# AR(2) fit by Yule-Walker from the daily-count autocorrelations
# ---------------------------------------------------------------------------
# The closed-form 2x2 Yule-Walker solve on top of the lag-1/lag-2
# Pearson autocorrelations (the events_daily_acf moment discipline:
# exact BIGINT pair moments, one final float expression per output):
# phi1 = r1(1-r2)/(1-r1^2), phi2 = (r2-r1^2)/(1-r1^2), and the
# innovation-variance ratio sigma2/c0 = 1 - phi1*r1 - phi2*r2. r1/r2
# snap to the 1e-6 grid BEFORE the solve so both engines run identical
# algebra.

_AR2_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
    SELECT event_type,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS i,
           n
    FROM daily
),
pairs AS (
    SELECT a.event_type, lag.k, a.n AS x, b.n AS y
    FROM idx a
    JOIN (SELECT 1 AS k UNION ALL SELECT 2 AS k) lag ON true
    JOIN idx b ON b.event_type = a.event_type AND b.i = a.i + lag.k
),
stats AS (
    SELECT event_type, k,
           CAST(count(*) AS BIGINT) AS np,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM pairs GROUP BY event_type, k
),
acf AS (
    SELECT event_type, k,
           floor(CAST(np * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(np * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(np * syy - sy * sy AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS r
    FROM stats
),
rr AS (
    SELECT event_type,
           max(CASE WHEN k = 1 THEN r END) AS r1,
           max(CASE WHEN k = 2 THEN r END) AS r2
    FROM acf GROUP BY event_type
),
days AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
    FROM daily GROUP BY event_type
)
SELECT rr.event_type, d.n_days, rr.r1, rr.r2,
       floor((rr.r1 * (1e0 - rr.r2) / (1e0 - rr.r1 * rr.r1))
             * 1e6 + 0.5) / 1e6 AS phi1,
       floor(((rr.r2 - rr.r1 * rr.r1) / (1e0 - rr.r1 * rr.r1))
             * 1e6 + 0.5) / 1e6 AS phi2,
       floor((1e0
              - (floor((rr.r1 * (1e0 - rr.r2) / (1e0 - rr.r1 * rr.r1))
                       * 1e6 + 0.5) / 1e6) * rr.r1
              - (floor(((rr.r2 - rr.r1 * rr.r1) / (1e0 - rr.r1 * rr.r1))
                       * 1e6 + 0.5) / 1e6) * rr.r2)
             * 1e6 + 0.5) / 1e6 AS innovation_var_ratio
FROM rr JOIN days d ON d.event_type = rr.event_type
ORDER BY rr.event_type
"""


@register("events_ar2_yule_walker", oracle=_AR2_SQL)
def events_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) coefficients per event type by the closed-form Yule-Walker
    solve over lag-1/2 daily-count autocorrelations, plus the
    innovation-variance ratio.

    Scale: the corpus pass is the daily-count aggregation; the lag
    self-join and solve run on the (types x days) relation.
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(_AR2_SQL)


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition of the daily revenue series
# ---------------------------------------------------------------------------
# Multi-resolution complement of the periodogram/STL views: three Haar
# levels over the day-indexed total-value series (series truncated to
# a multiple of 8 so every level pairs exactly). Details/approximations
# are exact cents INTEGERS (unnormalized Haar: d = x_odd - x_even,
# a = x_odd + x_even); per-level energy applies the 1/2^level
# normalization once, in the final expression. The day-index window
# runs over the calendar-bounded daily relation (the allowlisted
# bounded-window shape).


def _haar_level(prev: str, out: str) -> str:
    return f"""
{out} AS (
    SELECT CAST(floor((i - 1) / 2e0) AS BIGINT) + 1 AS i,
           CAST(sum(x) AS DECIMAL(38,0)) AS x,
           CAST(sum(CASE WHEN i % 2 = 1 THEN x ELSE -x END)
                AS DECIMAL(38,0)) AS d
    FROM {prev} GROUP BY CAST(floor((i - 1) / 2e0) AS BIGINT) + 1
)"""


_HAAR_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
idx AS (
    SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
           cents AS x
    FROM daily
),
n8 AS (SELECT CAST(count(*) - (count(*) % 8) AS BIGINT) AS n FROM idx),
lvl0 AS (
    SELECT i, CAST(x AS DECIMAL(38,0)) AS x,
           CAST(0 AS DECIMAL(38,0)) AS d
    FROM idx CROSS JOIN n8 WHERE i <= n8.n
),
{_haar_level("lvl0", "lvl1").lstrip()},
{_haar_level("lvl1", "lvl2").lstrip()},
{_haar_level("lvl2", "lvl3").lstrip()},
energies AS (
    SELECT 1 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
           CAST(sum(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) AS DOUBLE)
               / 2e0 AS e
    FROM lvl1
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT),
           CAST(sum(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) AS DOUBLE)
               / 4e0
    FROM lvl2
    UNION ALL
    SELECT 3, CAST(count(*) AS BIGINT),
           CAST(sum(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) AS DOUBLE)
               / 8e0
    FROM lvl3
),
tot AS (SELECT sum(e) AS te FROM energies)
SELECT e.level, e.n_coeffs,
       floor(e.e / 1e4 * 1e2 + 0.5) / 1e2 AS energy,
       floor((e.e / t.te) * 1e6 + 0.5) / 1e6 AS energy_share
FROM energies e CROSS JOIN tot t
ORDER BY e.level
"""


@register("events_haar_wavelet_energy", oracle=_HAAR_SQL)
def events_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet detail energy (levels 1-3, normalized) of the
    daily total-value series with per-level shares — which timescale
    carries the variance.

    Scale: the corpus pass is the daily aggregation; all wavelet
    algebra runs on the calendar-bounded day-index relation.
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(_HAAR_SQL)


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on the daily count series
# ---------------------------------------------------------------------------
# Page's cumulative-sum scan per event type: S_k = Σ_{t<=k}(x_t − x̄);
# the changepoint estimate is argmax_k |S_k| (earliest day on ties) and
# the scale-free statistic is max|S_k| / (σ̂·√D). Everything before the
# final expression stays EXACT INTEGERS via scaling: S_k·D =
# D·prefix_k − k·N (D days, N total events of the type), so both
# engines pick the identical argmax with no float compare; σ̂ comes
# from integer moments and the one float expression snaps to 1e-6.
# Scale: the corpus pass is the daily count aggregation; the CUSUM scan
# runs on the calendar-bounded (type × day) relation with PARTITIONED
# windows (never a single-partition exchange).

# Everything downstream of the per-(type, day) count grid, as a
# {daily}-parameterized template: the algebra runs over any relation
# with the grid's columns, with no post-hoc string surgery.
_CUSUM_TAIL = """idx AS (
    SELECT event_type, d, n,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS k,
           CAST(sum(n) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS pre
    FROM {daily}
),
tot AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
           CAST(sum(n) AS BIGINT) AS ntot,
           CAST(sum(n * n) AS BIGINT) AS n2tot
    FROM {daily} GROUP BY event_type
),
scaled AS (
    -- k = nd is excluded: S_D == 0 by construction (the trivial
    -- endpoint would win ties in a constant series).
    SELECT i.event_type, i.d, i.k,
           i.pre * t.nd - i.k * t.ntot AS s_scaled,
           t.nd, t.ntot, t.n2tot
    FROM idx i JOIN tot t ON t.event_type = i.event_type
    WHERE i.k < t.nd
),
best AS (
    SELECT event_type, d, k, s_scaled, nd, ntot, n2tot
    FROM (
        SELECT s.*,
               CAST(row_number() OVER (PARTITION BY s.event_type
                    ORDER BY abs(s.s_scaled) DESC, s.k) AS BIGINT) AS rk
        FROM scaled s
    ) z WHERE rk = 1
)
SELECT event_type,
       CAST(d AS STRING) AS changepoint_date,
       k AS changepoint_index,
       CASE WHEN n2tot * nd = ntot * ntot THEN 0e0
            ELSE floor((CAST(abs(s_scaled) AS DOUBLE) / nd
                 / sqrt((CAST(n2tot AS DOUBLE)
                         - CAST(ntot AS DOUBLE) * ntot / nd) / (nd - 1))
                 / sqrt(CAST(nd AS DOUBLE))) * 1e6 + 0.5) / 1e6 END
           AS cusum_stat
FROM best
ORDER BY event_type
"""


_CUSUM_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
""" + _CUSUM_TAIL.format(daily="daily")


@register("events_cusum_changepoint", oracle=_CUSUM_SQL)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type over the daily count series:
    argmax |S_k| day (earliest on ties) and the σ̂√D-normalized
    statistic — the classic level-shift detector a metrics pipeline
    runs before alerting on a regime change.

    This is the RETROSPECTIVE changepoint LOCALIZER (one row per type).
    Distinct from ``events_cusum_changepoints`` (plural, this module
    ~line 375), the sequential two-sided Page ALARM emitting per-day
    S+/S- rows; the near-identical names are historical — see
    COVERAGE.md's CUSUM note."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_CUSUM_SQL)


# ---------------------------------------------------------------------------
# Linear interpolation gap-fill on per-user daily series
# ---------------------------------------------------------------------------
# The feature-engineering companion to LOCF (windows2): missing days
# inside a user's activity span are filled by the straight line between
# the neighboring observed days. The per-day observation is
# max(cents(value)) — max of snapped integers, order-independent, so no
# cross-engine float-sum hazard — and the interpolation weight is the
# exact integer day-offset ratio, snapped at 1e-4 cents precision.
# Scale: the spine explodes each user's OWN span (≤ calendar days per
# user, partition-parallel); prev/next lookups are IGNORE NULLS frame
# scans PARTITIONED by user. Output is a totally-ordered LIMIT 50.


def _interp_sql(spine: str, lv: str, fv_y: str, fv_d: str,
                dd_prev: str, dd_span: str) -> str:
    return f"""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(max(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS y
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id, CAST(ts AS DATE)
),
span AS (
    SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY user_id
),
spine AS ({spine}),
joined AS (
    SELECT s.user_id, s.d, dl.y
    FROM spine s
    LEFT JOIN daily dl ON dl.user_id = s.user_id AND dl.d = s.d
),
ctx AS (
    SELECT user_id, d, y,
           {lv} OVER wprev AS y_prev,
           {fv_y} OVER wnext AS y_next,
           {fv_d} OVER wnext AS d_next,
           max(CASE WHEN y IS NOT NULL THEN d END) OVER wprev AS d_prev
    FROM joined
    WINDOW wprev AS (PARTITION BY user_id ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           wnext AS (PARTITION BY user_id ORDER BY d
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, CAST(d AS STRING) AS day,
       y_prev AS y_prev_cents,
       y_next AS y_next_cents,
       CAST({dd_prev} AS BIGINT) AS gap_pos,
       CAST({dd_span} AS BIGINT) AS gap_span,
       floor((CAST(y_prev AS DOUBLE)
              + CAST(y_next - y_prev AS DOUBLE)
                * ({dd_prev}) / ({dd_span}))
             * 1e4 + 0.5) / 1e4 AS y_interp_cents
FROM ctx
WHERE y IS NULL AND y_prev IS NOT NULL AND y_next IS NOT NULL
ORDER BY user_id, d
LIMIT 50
"""


_INTERP_SPARK = _interp_sql(
    "SELECT user_id, explode(sequence(d0, d1, interval 1 day)) AS d FROM span",
    "last_value(y) IGNORE NULLS",
    "first_value(y) IGNORE NULLS",
    "first_value(CASE WHEN y IS NOT NULL THEN d END) IGNORE NULLS",
    "datediff(d, d_prev)",
    "datediff(d_next, d_prev)",
)

_INTERP_DUCK = _interp_sql(
    "SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))"
    " AS DATE) AS d FROM span",
    "last_value(y IGNORE NULLS)",
    "first_value(y IGNORE NULLS)",
    "first_value(CASE WHEN y IS NOT NULL THEN d END IGNORE NULLS)",
    "date_diff('day', d_prev, d)",
    "date_diff('day', d_prev, d_next)",
)


@register("events_linear_interpolation", oracle=_INTERP_DUCK)
def events_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Straight-line gap-fill of each user's per-day max-value series
    over the days missing inside their activity span — prev/next
    neighbor scan plus the exact day-offset ratio, first 50 filled
    rows in (user, day) order."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_INTERP_SPARK)


# ---------------------------------------------------------------------------
# Croston's method: intermittent-demand forecast per brand
# ---------------------------------------------------------------------------
# Retail/parts demand is INTERMITTENT (many zero days); plain EWMA/Holt
# over the raw series biases toward zero. Croston (1972) smooths two
# series updated only on demand occurrences — demand SIZE z and
# inter-demand INTERVAL p (α=0.2 for both) — and forecasts the rate
# z/p per period. Same reduced-relation discipline as the EWMA/Holt
# family: the corpus-sized pass is the daily brand-demand aggregation
# (ship days with demand only — no calendar spine needed, the classic
# formulation updates on occurrences); the recursion walks
# (brand × demand-days), every step snapping both states to the 1e-6
# grid. Spark executes the single-fold twin (one aggregate() lambda
# per brand); DuckDB replays the IDENTICAL snapped recurrence as a
# recursive CTE.

_CRO_Z = "floor((2e-1 * v.q + 8e-1 * a.z) * 1e6 + 0.5) / 1e6"
_CRO_P = "floor((2e-1 * v.tau + 8e-1 * a.p) * 1e6 + 0.5) / 1e6"


def _croston_daily_idx(dd: str, recursive: str, mat: str = "") -> str:
    """The ``daily`` and ``idx`` CTEs. The oracle passes ``mat`` =
    ``"MATERIALIZED "``: DuckDB otherwise re-evaluates the ``idx`` window
    in every step of the recursion (27-62 s at sf0.01 against 2.2-3.0 s
    on a 4-core host)."""
    return f"""
WITH {recursive}daily AS (
    SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS d,
           CAST(floor(sum(l.l_quantity) + 0.5) AS BIGINT) AS q
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand, CAST(l.l_shipdate AS DATE)
),
idx AS {mat}(
    SELECT brand, d, q,
           CAST(row_number() OVER (PARTITION BY brand ORDER BY d)
                AS BIGINT) AS i,
           CAST(coalesce({dd}, 1) AS BIGINT) AS tau
    FROM daily
)"""


_CROSTON_DUCK = (
    _croston_daily_idx("d - lag(d) OVER (PARTITION BY brand ORDER BY d)",
                       "RECURSIVE ", "MATERIALIZED ")
    + """,
cro(brand, i, z, p) AS (
    SELECT brand, i, CAST(q AS DOUBLE), 1e0 FROM idx WHERE i = 1
    UNION ALL
    SELECT idx.brand, idx.i,
           floor((2e-1 * idx.q + 8e-1 * c.z) * 1e6 + 0.5) / 1e6,
           floor((2e-1 * idx.tau + 8e-1 * c.p) * 1e6 + 0.5) / 1e6
    FROM cro c JOIN idx ON idx.brand = c.brand AND idx.i = c.i + 1
),
lastd AS (SELECT brand, max(i) AS mi FROM idx GROUP BY brand)
SELECT c.brand, c.i AS n_demand_days,
       c.z AS size_level, c.p AS interval_level,
       floor((c.z / c.p) * 1e6 + 0.5) / 1e6 AS croston_rate
FROM cro c JOIN lastd l ON l.brand = c.brand AND c.i = l.mi
ORDER BY c.brand
"""
)

_CROSTON_SPARK = (
    _croston_daily_idx(
        "datediff(d, lag(d) OVER (PARTITION BY brand ORDER BY d))", ""
    )
    + f""",
xs AS (
    SELECT brand,
           transform(
               array_sort(collect_list(named_struct('i', i, 'q', q,
                                                    'tau', tau))),
               s -> named_struct('q', CAST(s.q AS DOUBLE),
                                 'tau', CAST(s.tau AS DOUBLE))) AS arr
    FROM idx WHERE i >= 2 GROUP BY brand
),
cinit AS (
    SELECT brand, CAST(q AS DOUBLE) AS z0,
           CAST(1 AS BIGINT) AS base_i
    FROM idx WHERE i = 1
),
folded AS (
    SELECT ci.brand,
           CAST(1 + size(coalesce(x.arr,
               CAST(array() AS array<struct<q: double, tau: double>>)))
               AS BIGINT) AS n_demand_days,
           aggregate(
               coalesce(x.arr,
                   CAST(array() AS array<struct<q: double, tau: double>>)),
               named_struct('z', ci.z0, 'p', 1e0),
               (a, v) -> named_struct('z', {_CRO_Z}, 'p', {_CRO_P}),
               a -> a) AS st
    FROM cinit ci LEFT JOIN xs x ON x.brand = ci.brand
)
SELECT brand, n_demand_days,
       st.z AS size_level, st.p AS interval_level,
       floor((st.z / st.p) * 1e6 + 0.5) / 1e6 AS croston_rate
FROM folded
ORDER BY brand
"""
)


@register("lineitem_croston_demand", oracle=_CROSTON_DUCK)
def lineitem_croston_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand state per brand (smoothed demand
    size, smoothed inter-demand interval, forecast rate z/p). Spark
    runs the single-fold twin of the recursive oracle.

    The (brand x demand-day) idx relation feeds both the fold input
    and the init row; Spark inlines CTEs, so it is materialized once
    via localCheckpoint (the corpus join runs exactly once)."""
    register_views(spark, sf_dir, "lineitem", "part")
    head = _croston_daily_idx(
        "datediff(d, lag(d) OVER (PARTITION BY brand ORDER BY d))", ""
    )
    materialize(spark.sql(head + "\nSELECT * FROM idx"), "cro_idx")
    tail = _CROSTON_SPARK.split(",\nxs AS (", 1)[1]
    return spark.sql(
        "WITH xs AS (" + tail.replace("FROM idx", "FROM cro_idx")
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test on the daily count series
# ---------------------------------------------------------------------------
# The nonparametric companion to events_theil_sen_trend (which gives
# the slope; this gives the SIGNIFICANCE): S = Σ_{i<j} sign(x_j − x_i)
# over the daily series, tie-corrected variance
# Var(S) = [m(m−1)(2m+5) − Σ_t t(t−1)(2t+5)] / 18, and the
# continuity-corrected z. Everything except the final z is exact
# integer arithmetic — S from a bounded (days × days per type) pair
# join, tie groups from a value histogram — so both engines agree
# bit-for-bit before the one snapped float expression.

_MK_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
s AS (
    SELECT a.event_type,
           CAST(sum(CASE WHEN b.n > a.n THEN 1
                         WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND b.d > a.d
    GROUP BY a.event_type
),
m AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS m
    FROM daily GROUP BY event_type
),
ties AS (
    SELECT event_type,
           CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr
    FROM (
        SELECT event_type, n, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY event_type, n
    ) g WHERE t > 1
    GROUP BY event_type
),
vars AS (
    SELECT m.event_type, s.s, m.m,
           CAST(m.m * (m.m - 1) * (2 * m.m + 5)
                - coalesce(t.tie_corr, 0) AS BIGINT) AS var18
    FROM m
    JOIN s ON s.event_type = m.event_type
    LEFT JOIN ties t ON t.event_type = m.event_type
)
SELECT event_type, s AS mk_s, m AS n_days,
       CASE WHEN var18 = 0 THEN 0e0
            ELSE floor((CASE WHEN s > 0 THEN (s - 1)
                             WHEN s < 0 THEN (s + 1)
                             ELSE 0 END
                        / sqrt(CAST(var18 AS DOUBLE) / 18e0))
                       * 1e6 + 0.5) / 1e6 END AS mk_z,
       CASE WHEN s > 0 THEN 'increasing'
            WHEN s < 0 THEN 'decreasing'
            ELSE 'no trend' END AS direction
FROM vars
ORDER BY event_type
"""


@register("events_mann_kendall_trend", oracle=_MK_SQL)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test per event type over the daily
    count series: exact integer S, tie-corrected variance, and the
    continuity-corrected z."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_MK_SQL)


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test on the daily count series
# ---------------------------------------------------------------------------
# Randomness check per event type: binarize each day as above/below the
# type's median daily count (ties -> below, the classic convention),
# count RUNS of consecutive equal signs, and compare against the
# expected run count E[R] = 2·n₊·n₋/m + 1 with
# Var(R) = 2n₊n₋(2n₊n₋ − m) / (m²(m−1)). Everything except the final z
# is exact integers: the median reads off the distinct-count histogram
# by cumulative ceil-rank (no per-row rank), sign flips come from a
# PARTITIONED lag, and n₊/n₋/R are counts. Calendar-bounded relations
# throughout.

_RUNS_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
hist AS (
    SELECT event_type, n, CAST(count(*) AS BIGINT) AS c
    FROM daily GROUP BY event_type, n
),
chist AS (
    SELECT event_type, n,
           CAST(sum(c) OVER (PARTITION BY event_type ORDER BY n
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum,
           CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS m
    FROM hist
),
med AS (
    SELECT event_type, CAST(min(n) AS BIGINT) AS median_n
    FROM chist WHERE 2 * cum >= m GROUP BY event_type
),
signs AS (
    SELECT dl.event_type, dl.d,
           CASE WHEN dl.n > md.median_n THEN 1 ELSE 0 END AS s
    FROM daily dl JOIN med md ON md.event_type = dl.event_type
),
flips AS (
    SELECT event_type, s,
           CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY d)
                     IS NULL THEN 1
                WHEN lag(s) OVER (PARTITION BY event_type ORDER BY d)
                     <> s THEN 1 ELSE 0 END AS new_run
    FROM signs
),
stats AS (
    SELECT event_type,
           CAST(sum(new_run) AS BIGINT) AS r,
           CAST(sum(s) AS BIGINT) AS n_pos,
           CAST(count(*) - sum(s) AS BIGINT) AS n_neg,
           CAST(count(*) AS BIGINT) AS m
    FROM flips GROUP BY event_type
)
SELECT event_type, r AS n_runs, n_pos, n_neg,
       floor((1e0 + 2e0 * n_pos * n_neg / m) * 1e6 + 0.5) / 1e6
           AS expected_runs,
       CASE WHEN n_pos = 0 OR n_neg = 0
            OR 2 * n_pos * n_neg * (2 * n_pos * n_neg - m) = 0 THEN 0e0
            ELSE floor(((r - (1e0 + 2e0 * n_pos * n_neg / m))
                 / sqrt(2e0 * n_pos * n_neg
                        * (2e0 * n_pos * n_neg - m)
                        / (CAST(m AS DOUBLE) * m * (m - 1))))
                 * 1e6 + 0.5) / 1e6 END AS runs_z
FROM stats
ORDER BY event_type
"""


@register("events_runs_test", oracle=_RUNS_SQL)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type on the above/below-
    median daily count sequence — the randomness member of the
    nonparametric battery (MW-U, KS, CvM, Kuiper, Mann-Kendall)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_RUNS_SQL)


# ---------------------------------------------------------------------------
# Page-Hinkley drift alarm on per-type daily counts
# ---------------------------------------------------------------------------
# The sequential mean-drift companion to the CUSUM pair: CUSUM tracks
# deviations from a FIXED baseline mean, Page-Hinkley tracks deviations
# from the RUNNING mean (x̄_t recomputed every step), which is the
# standard formulation in streaming-ML drift detection (Gama et al.) —
# it needs no training period. m_t = Σ_{i<=t}(x_i − x̄_i − δ), and the
# alarm fires when m_t − min_{i<=t} m_i exceeds λ.
#
# Float discipline: x_i and the prefix sums are exact integers, so
# x̄_i = pre_i / i is ONE correctly-rounded double division; each term
# snaps to 1e-6 micro-units (BIGINT) immediately, and everything after
# — the cumulative m_t, the running min, the PH statistic, and the
# λ compare — is EXACT integer arithmetic, so no float ever
# accumulates. δ = 5 % of the type's mean and λ = 3σ̂ (integer-moment
# σ̂), both snapped once per type: scale-free constants that survive
# any SF. Scale: one corpus pass to the (type × day) grid; all windows
# partitioned per type over the calendar-bounded relation.


def _ph_tail(fmt_day: str) -> str:
    """Everything downstream of the per-(type, day) count grid, with a
    {daily} placeholder (the same template discipline as _CUSUM_TAIL)."""
    return f"""stat AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS nd,
           CAST(sum(n) AS BIGINT) AS ntot,
           CAST(sum(n * n) AS BIGINT) AS n2tot
    FROM {{daily}} GROUP BY event_type
),
params AS (
    SELECT event_type,
           -- delta = 5 % of the mean, lambda = 3 * sigma-hat, both in
           -- 1e-6 micro-units (exact integers from here on)
           CAST(floor((CAST(ntot AS DOUBLE) / nd) * 5e-2 * 1e6 + 0.5)
                AS BIGINT) AS delta_u,
           CAST(floor(3e0 * sqrt(greatest(0e0,
                    (CAST(n2tot AS DOUBLE)
                     - CAST(ntot AS DOUBLE) * ntot / nd)
                    / greatest(nd - 1, 1))) * 1e6 + 0.5)
                AS BIGINT) AS lambda_u
    FROM stat
),
idx AS (
    SELECT event_type, d, n,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS i,
           CAST(sum(n) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS pre
    FROM {{daily}}
),
terms AS (
    SELECT i.event_type, i.d, i.n, i.i,
           CAST(floor((i.n - CAST(i.pre AS DOUBLE) / i.i) * 1e6 + 0.5)
                AS BIGINT) - p.delta_u AS term_u,
           p.lambda_u
    FROM idx i JOIN params p ON p.event_type = i.event_type
),
m AS (
    SELECT event_type, d, n, i, lambda_u,
           CAST(sum(term_u) OVER (PARTITION BY event_type ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS m_u
    FROM terms
),
ph AS (
    SELECT event_type, d, n, i, lambda_u, m_u,
           m_u - CAST(min(m_u) OVER (PARTITION BY event_type ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ph_u
    FROM m
)
SELECT event_type, {fmt_day} AS day, n AS n_events,
       CAST(ph_u AS DOUBLE) / 1e6 AS ph_stat,
       CAST(CASE WHEN ph_u > lambda_u THEN 1 ELSE 0 END AS INT) AS alarm
FROM ph
ORDER BY event_type, day
"""




def _ph_sql(fmt_day: str) -> str:
    return """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
""" + _ph_tail(fmt_day).format(daily="daily")


@register(
    "events_page_hinkley_drift",
    oracle=_ph_sql("strftime(d, '%Y-%m-%d')"),
)
def events_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector per event type: running-mean
    deviations accumulated in exact micro-units, PH statistic vs a
    3-sigma lambda, one (type, day) row each with the alarm flag."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_ph_sql("date_format(d, 'yyyy-MM-dd')"))


# ---------------------------------------------------------------------------
# Syntetos-Boylan demand-pattern classification (ADI x CV² quadrants)
# ---------------------------------------------------------------------------
# The routing table ABOVE the forecasting methods: Croston/SBA/SES each
# dominate on a different demand pattern, and Syntetos, Boylan &
# Croston (2005) give the standard cut-offs — ADI (average inter-demand
# interval, days) at 1.32 and CV² (squared coefficient of variation of
# the nonzero demand sizes) at 0.49 — splitting brands into smooth /
# intermittent / erratic / lumpy, each with its recommended method.
# Pairs with lineitem_croston_demand (which fits one of those methods)
# and lineitem_abc_xyz_matrix (the revenue-value axis).
#
# Exactness: ADI = (last demand day − first) / (n−1) — the telescoped
# sum of inter-demand gaps, a ratio of exact integers; CV² =
# n·Σq² − (Σq)² over (Σq)², population variance over mean², with the
# second moment accumulated in DECIMAL(38,0) (q² overflows BIGINT once
# daily brand quantities pass ~3e9). Both classification thresholds
# compare SNAPPED values per the float-boundary discipline. Scale: one
# corpus join+group to the (brand × demand-day) relation; everything
# after is brand-bounded.


def _sbc_sql(days_diff: str) -> str:
    return f"""
WITH daily AS (
    SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS d,
           CAST(floor(sum(l.l_quantity) + 0.5) AS BIGINT) AS q
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand, CAST(l.l_shipdate AS DATE)
),
stats AS (
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_demand_days,
           CAST({days_diff.format(a="min(d)", b="max(d)")} AS BIGINT)
               AS span_days,
           CAST(sum(q) AS BIGINT) AS sq,
           CAST(sum(CAST(q AS DECIMAL(38,0)) * q) AS DECIMAL(38,0)) AS sq2
    FROM daily GROUP BY brand
),
measures AS (
    SELECT brand, n_demand_days, span_days,
           CASE WHEN n_demand_days >= 2
                THEN floor((CAST(span_days AS DOUBLE)
                            / (n_demand_days - 1)) * 1e6 + 0.5) / 1e6
           END AS adi,
           CASE WHEN n_demand_days >= 2 AND sq > 0
                THEN floor(((CAST(n_demand_days AS DOUBLE)
                             * CAST(sq2 AS DOUBLE)
                             - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                            / (CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6
           END AS cv2
    FROM stats
)
SELECT brand, n_demand_days, span_days, adi, cv2,
       CASE WHEN adi IS NULL OR cv2 IS NULL THEN 'insufficient'
            WHEN adi < 132e-2 AND cv2 < 49e-2 THEN 'smooth'
            WHEN adi >= 132e-2 AND cv2 < 49e-2 THEN 'intermittent'
            WHEN adi < 132e-2 AND cv2 >= 49e-2 THEN 'erratic'
            ELSE 'lumpy' END AS demand_class,
       CASE WHEN adi IS NULL OR cv2 IS NULL THEN 'n/a'
            WHEN adi < 132e-2 AND cv2 < 49e-2 THEN 'ses'
            WHEN adi >= 132e-2 AND cv2 < 49e-2 THEN 'croston'
            ELSE 'sba' END AS recommended_method
FROM measures
ORDER BY brand
"""


@register(
    "lineitem_sbc_demand_classes",
    oracle=_sbc_sql("date_diff('day', {a}, {b})"),
)
def lineitem_sbc_demand_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan demand-pattern quadrants per brand: ADI and CV²
    from exact integer moments, classed at the standard 1.32/0.49
    cut-offs with the recommended forecasting method."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_sbc_sql("datediff({b}, {a})"))


# ---------------------------------------------------------------------------
# Gumbel block-maxima extreme-value fit (EVT return levels)
# ---------------------------------------------------------------------------
# Capacity planning asks a question the mean/percentile queries can't
# answer: "what's the worst single transaction we should expect over
# the next quarter?" Extreme-value theory answers it from the BLOCK
# MAXIMA: per-day maxima of the transaction value converge to a
# Gumbel distribution (the light-tailed EVT domain), fit here by the
# method of moments — scale beta = sd·sqrt(6)/pi, location mu =
# mean − gamma·beta (Euler–Mascheroni) — and inverted into T-day
# return levels mu − beta·ln(−ln(1 − 1/T)).
#
# Exactness: daily maxima are exact cents integers (one corpus pass);
# mean/sd come from exact integer moments with the second moment in
# DECIMAL(38,0); pi/gamma are shared literals, so both engines compute
# the identical float expression, snapped once at output. Scale: the
# corpus pass is the per-day max; the fit runs on the calendar-bounded
# maxima relation.

_GUMBEL_SQL = """
WITH maxima AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(max(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS mx
    FROM events WHERE value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(mx) AS BIGINT) AS sm,
           CAST(sum(CAST(mx AS DECIMAL(38,0)) * mx) AS DECIMAL(38,0)) AS sm2
    FROM maxima
),
fit AS (
    SELECT n,
           CAST(sm AS DOUBLE) / n / 1e2 AS mean_max,
           sqrt((CAST(n AS DOUBLE) * CAST(sm2 AS DOUBLE)
                 - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                / (CAST(n AS DOUBLE) * (n - 1))) / 1e2 AS sd_max
    FROM mom WHERE n >= 2
),
params AS (
    SELECT n, mean_max, sd_max,
           sd_max * sqrt(6e0) / 3.141592653589793e0 AS beta,
           mean_max - 0.5772156649015329e0
                      * (sd_max * sqrt(6e0) / 3.141592653589793e0) AS mu
    FROM fit
),
horizons AS (
    SELECT CAST(7 AS BIGINT) AS horizon_days
    UNION ALL SELECT CAST(30 AS BIGINT)
    UNION ALL SELECT CAST(365 AS BIGINT)
)
SELECT h.horizon_days, p.n AS n_blocks,
       floor(p.mu * 1e6 + 0.5) / 1e6 AS gumbel_mu,
       floor(p.beta * 1e6 + 0.5) / 1e6 AS gumbel_beta,
       floor((p.mu - p.beta
              * ln(-ln(1e0 - 1e0 / h.horizon_days))) * 1e6 + 0.5) / 1e6
           AS return_level
FROM params p CROSS JOIN horizons h
ORDER BY horizon_days
"""


@register("events_gumbel_block_maxima", oracle=_GUMBEL_SQL)
def events_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel EVT fit of the daily transaction-value maxima (method of
    moments) with 7/30/365-day return levels — the tail-risk number
    percentiles of the raw distribution understate."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_GUMBEL_SQL)


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test on the daily-count series
# ---------------------------------------------------------------------------
# events_daily_acf reports per-lag correlations; the operational
# question "is this series white noise at all?" needs the JOINT test:
# Q(m) = n(n+2) * sum_{k<=m} r_k^2 / (n-k), chi-square with m degrees
# of freedom under H0. Deviates from the per-lag query on purpose: the
# textbook r_k uses the FULL-series mean and the lag-0 denominator
# (not per-lag Pearson), so the statistic matches Box-Jenkins exactly.
#
# Exactness: daily counts are exact BIGINTs; every moment (S, SS, and
# per-lag sxy/sx/sy) accumulates in DECIMAL(38,0) (counts reach 1e6+
# per day at the 100x corpus, so n^2 * sum(x*y) would overflow BIGINT
# at the 100 TB design point — the W1/KS lesson), and r_k is ONE final
# float expression snapped to 1e-6. The reject decision compares the
# snapped Q to the chi-square 0.95 literal, so an ulp cannot flip it.
# Scale: one corpus pass for daily counts; everything after runs on
# the calendar-bounded (days, then 7-row lag) relations. Q(m) for
# every max-lag m is a 7x7 triangular self-join, not a window.

_LJUNG_BOX_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY CAST(ts AS DATE)
),
idx AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, x
    FROM daily
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS ss
    FROM idx
),
lags AS (
    SELECT CAST(1 AS BIGINT) AS k, 3.841459e0 AS crit
    UNION ALL SELECT CAST(2 AS BIGINT), 5.991465e0
    UNION ALL SELECT CAST(3 AS BIGINT), 7.814728e0
    UNION ALL SELECT CAST(4 AS BIGINT), 9.487729e0
    UNION ALL SELECT CAST(5 AS BIGINT), 11.070498e0
    UNION ALL SELECT CAST(6 AS BIGINT), 12.591587e0
    UNION ALL SELECT CAST(7 AS BIGINT), 14.067140e0
),
pairsums AS (
    SELECT lg.k,
           CAST(count(*) AS BIGINT) AS np,
           CAST(sum(CAST(a.x AS DECIMAL(38,0)) * b.x) AS DECIMAL(38,0))
               AS sxy,
           CAST(sum(CAST(a.x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
           CAST(sum(CAST(b.x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy
    FROM idx a
    JOIN lags lg ON true
    JOIN idx b ON b.i = a.i + lg.k
    GROUP BY lg.k
),
-- r_k = (n^2*C_k) / (n^2*C_0) with the full-series mean m = S/n:
--   n^2*C_k = n^2*sxy - n*S*(sx+sy) + np*S^2   (exact DECIMAL ints)
--   n^2*C_0 = n^2*SS  - n*S^2
acfk AS (
    SELECT p.k, t.n,
           floor((CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                      * CAST(p.sxy AS DOUBLE)
                  - CAST(t.n AS DOUBLE) * CAST(t.s AS DOUBLE)
                      * (CAST(p.sx AS DOUBLE) + CAST(p.sy AS DOUBLE))
                  + CAST(p.np AS DOUBLE) * CAST(t.s AS DOUBLE)
                      * CAST(t.s AS DOUBLE))
                 / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                        * CAST(t.ss AS DOUBLE)
                    - CAST(t.n AS DOUBLE) * CAST(t.s AS DOUBLE)
                        * CAST(t.s AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS r
    FROM pairsums p CROSS JOIN tot t
),
q AS (
    SELECT m.k AS max_lag, m.n AS n_days, m.r AS acf_at_lag, m.crit,
           floor(CAST(m.n AS DOUBLE) * (m.n + 2)
                 * sum(a.r * a.r / (m.n - a.k)) * 1e6 + 0.5) / 1e6
               AS q_stat
    FROM (SELECT a2.k, a2.n, a2.r, lg.crit
          FROM acfk a2 JOIN lags lg ON lg.k = a2.k) m
    JOIN acfk a ON a.k <= m.k
    GROUP BY m.k, m.n, m.r, m.crit
)
SELECT max_lag, n_days, acf_at_lag, q_stat,
       floor(crit * 1e6 + 0.5) / 1e6 AS chi2_crit_95,
       CAST(CASE WHEN q_stat > crit THEN 1 ELSE 0 END AS BIGINT)
           AS reject_white_noise
FROM q
ORDER BY max_lag
"""


@register("events_ljung_box_acf", oracle=_LJUNG_BOX_SQL)
def events_ljung_box_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau Q over the daily event-count series for
    max-lags 1..7: textbook full-mean ACF, exact DECIMAL moments, and
    the chi-square(m) 0.95 reject decision on the snapped statistic."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_LJUNG_BOX_SQL)


# ---------------------------------------------------------------------------
# Pettitt rank changepoint on the daily revenue series
# ---------------------------------------------------------------------------
# CUSUM (events_cusum_changepoint) is parametric-in-spirit (mean
# shifts in value units); Page-Hinkley is sequential. The Pettitt test
# is the rank-based complement: U_t = sum_{i<=t, j>t} sgn(x_i - x_j)
# needs no distributional assumption and is robust to outliers. Uses
# the identity U_t = sum_{s<=t} V_s with V_s = sum_j sgn(x_s - x_j)
# (antisymmetry; sgn(0)=0), so the quadratic pair structure collapses
# to one bounded days x days join for V plus a bounded triangular join
# for the prefix sums — no windows, no corpus-sized pairs. Daily
# revenue is summed in exact cents, so every sgn compares BIGINTs and
# the only float is the closing p-approx 2*exp(-6K^2/(n^3+n^2)).

_PETTITT_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
v AS (
    SELECT a.d,
           CAST(sum(CASE WHEN a.cents > b.cents THEN 1
                         WHEN a.cents < b.cents THEN -1
                         ELSE 0 END) AS BIGINT) AS vs
    FROM daily a JOIN daily b ON true
    GROUP BY a.d
),
u AS (
    SELECT a.d, CAST(sum(b.vs) AS BIGINT) AS ut
    FROM v a JOIN v b ON b.d <= a.d
    WHERE a.d < (SELECT max(d) FROM daily)
    GROUP BY a.d
),
n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
k AS (
    SELECT CAST(d AS STRING) AS change_date, abs(ut) AS k_stat, ut AS u_at_k
    FROM u ORDER BY abs(ut) DESC, d ASC LIMIT 1
)
SELECT k.change_date, k.k_stat, k.u_at_k, n.nd AS n_days,
       floor(2e0 * exp(-6e0 * CAST(k.k_stat AS DOUBLE) * k.k_stat
                       / (CAST(n.nd AS DOUBLE) * n.nd * n.nd
                          + CAST(n.nd AS DOUBLE) * n.nd))
             * 1e6 + 0.5) / 1e6 AS p_approx,
       CAST(CASE WHEN floor(2e0 * exp(-6e0 * CAST(k.k_stat AS DOUBLE)
                                      * k.k_stat
                                      / (CAST(n.nd AS DOUBLE) * n.nd * n.nd
                                         + CAST(n.nd AS DOUBLE) * n.nd))
                            * 1e6 + 0.5) / 1e6 < 5e-2
                 THEN 1 ELSE 0 END AS BIGINT) AS significant_05
FROM k CROSS JOIN n
"""


@register("events_pettitt_changepoint", oracle=_PETTITT_SQL)
def events_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based changepoint on daily revenue: max |U_t| split
    point, exact integer rank sums, and the standard two-sided
    significance approximation."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_PETTITT_SQL)


# ---------------------------------------------------------------------------
# Historical-simulation VaR / CVaR of daily revenue
# ---------------------------------------------------------------------------
# The risk counterpart of the Gumbel MAXIMA fit: what do the WORST
# revenue days look like? Historical simulation at level alpha takes
# the k = ceil(alpha*n) smallest daily totals; VaR is the k-th order
# statistic, CVaR (expected shortfall) the mean of those k days — no
# distributional fit, the estimator regulators actually specify.
#
# Order statistics come off a bounded days x days rank join ((value,
# date) lexicographic count — totally ordered, so ties cannot flip
# membership), NOT a global window; k uses integer ceil-division (the
# engines' DIV/// split). Daily totals are exact cents BIGINTs, so the
# tail mean is an exact integer ratio snapped once at output.


def _var_cvar_sql(ceil_div: str) -> str:
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
ranked AS (
    SELECT a.d, a.cents,
           CAST(count(*) AS BIGINT) AS r
    FROM daily a JOIN daily b
      ON b.cents < a.cents OR (b.cents = a.cents AND b.d <= a.d)
    GROUP BY a.d, a.cents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
alphas AS (
    SELECT CAST(5 AS BIGINT) AS alpha_pct
    UNION ALL SELECT CAST(10 AS BIGINT)
    UNION ALL SELECT CAST(25 AS BIGINT)
),
ks AS (
    SELECT a.alpha_pct, n.nd,
           {ceil_div.format(num="n.nd * a.alpha_pct + 99", den="100")} AS k
    FROM alphas a CROSS JOIN n
)
SELECT ks.alpha_pct, ks.nd AS n_days, ks.k AS k_tail_days,
       floor(CAST(max(ranked.cents) AS DOUBLE) / 1e2 * 1e6 + 0.5) / 1e6
           AS var_revenue,
       floor(CAST(sum(ranked.cents) AS DOUBLE) / ks.k / 1e2 * 1e6 + 0.5)
           / 1e6 AS cvar_revenue
FROM ks JOIN ranked ON ranked.r <= ks.k
GROUP BY ks.alpha_pct, ks.nd, ks.k
ORDER BY alpha_pct
"""


_VAR_CVAR_DUCK = _var_cvar_sql("CAST(({num}) // ({den}) AS BIGINT)")


@register("events_var_cvar_daily", oracle=_VAR_CVAR_DUCK)
def events_var_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical-simulation VaR and CVaR (expected shortfall) of daily
    revenue at the 5/10/25% levels: k-smallest order statistics off a
    bounded lexicographic rank join, exact-cents tail means."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_var_cvar_sql("CAST(({num}) DIV ({den}) AS BIGINT)"))


# ---------------------------------------------------------------------------
# Multiwindow SLO burn-rate alerts (error budget)
# ---------------------------------------------------------------------------
# The SRE workbook's multiwindow multi-burn-rate alert, adapted to day
# granularity: with an error-budget SLO of 25% (this corpus's error
# type runs ~20% of events, so the budget is realistically tight),
# burn = window error rate / budget; PAGE when both the short (1d)
# and long (7d) windows burn > 1.4 (fast + sustained), TICKET when
# both the 7d and 28d windows burn > 1.0 (slow leak). The two-window
# conjunction is what kills alert flapping — a single-window rule
# fires on every blip.
#
# Shape: one corpus pass to daily (errors, total) counts; the
# trailing windows are one bounded days x days gap join with
# conditional sums (never a corpus window). Rates are exact integer
# ratios snapped to the 1e-6 grid BEFORE the threshold compares, per
# the float-boundary discipline.


def _slo_tail(gap: str) -> str:
    """{daily}-parameterized burn-rate algebra (columns d, n, e), the
    _CUSUM_TAIL discipline."""
    r1 = "floor(CAST(e1 AS DOUBLE) / n1 * 1e6 + 0.5) / 1e6"
    r7 = "floor(CAST(e7 AS DOUBLE) / n7 * 1e6 + 0.5) / 1e6"
    r28 = "floor(CAST(e28 AS DOUBLE) / n28 * 1e6 + 0.5) / 1e6"
    return f"""win AS (
    SELECT a.d,
           CAST(sum(CASE WHEN {gap} = 0 THEN b.n ELSE 0 END) AS BIGINT)
               AS n1,
           CAST(sum(CASE WHEN {gap} = 0 THEN b.e ELSE 0 END) AS BIGINT)
               AS e1,
           CAST(sum(CASE WHEN {gap} <= 6 THEN b.n ELSE 0 END) AS BIGINT)
               AS n7,
           CAST(sum(CASE WHEN {gap} <= 6 THEN b.e ELSE 0 END) AS BIGINT)
               AS e7,
           CAST(sum(b.n) AS BIGINT) AS n28,
           CAST(sum(b.e) AS BIGINT) AS e28
    FROM {{daily}} a JOIN {{daily}} b ON {gap} BETWEEN 0 AND 27
    GROUP BY a.d
),
rates AS (
    SELECT CAST(d AS STRING) AS day, n1 AS n_events,
           {r1} AS err_rate_1d, {r7} AS err_rate_7d, {r28} AS err_rate_28d
    FROM win
)
SELECT day, n_events, err_rate_1d, err_rate_7d, err_rate_28d,
       floor(err_rate_1d / 25e-2 * 1e6 + 0.5) / 1e6 AS burn_1d,
       floor(err_rate_7d / 25e-2 * 1e6 + 0.5) / 1e6 AS burn_7d,
       floor(err_rate_28d / 25e-2 * 1e6 + 0.5) / 1e6 AS burn_28d,
       CAST(CASE WHEN floor(err_rate_1d / 25e-2 * 1e6 + 0.5) / 1e6 > 14e-1
                  AND floor(err_rate_7d / 25e-2 * 1e6 + 0.5) / 1e6 > 14e-1
                 THEN 1 ELSE 0 END AS BIGINT) AS page_alert,
       CAST(CASE WHEN floor(err_rate_7d / 25e-2 * 1e6 + 0.5) / 1e6 > 1e0
                  AND floor(err_rate_28d / 25e-2 * 1e6 + 0.5) / 1e6 > 1e0
                 THEN 1 ELSE 0 END AS BIGINT) AS ticket_alert
FROM rates
ORDER BY day
"""


_SLO_DAILY_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS e
    FROM events GROUP BY CAST(ts AS DATE)
),
"""


def _slo_sql(gap: str) -> str:
    return _SLO_DAILY_SQL + _slo_tail(gap).format(daily="daily")


@register(
    "events_slo_burn_rate",
    oracle=_slo_sql("date_diff('day', b.d, a.d)"),
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO error-budget burn rates (1d/7d/28d trailing)
    with the SRE-workbook page/ticket conjunction alerts, off one
    bounded gap join over the daily rollup."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_slo_sql("datediff(a.d, b.d)"))


# ---------------------------------------------------------------------------
# Erlang-C M/M/c staffing table from the peak-hour arrival rate
# ---------------------------------------------------------------------------
# events_peak_concurrency measures load; the capacity question is
# "how many servers keep the wait down AT that load?" — the M/M/c
# queue's Erlang-C formula, the standard staffing model. Offered load
# a = lambda/mu from the PEAK hour (capacity plans against peak, not
# mean) with service rate mu = 0.5/s a stated model parameter; the
# table sweeps c from the smallest stable pool (rho < 1 by integer
# ceil-division, so the unstable rho >= 1 branch never divides by
# zero) through +9.
#
# Numerics: Erlang B via the STABLE RECURSION B(j) = a*B(j-1) /
# (j + a*B(j-1)) folded left-to-right over 1..c, then Erlang C =
# B/(1 - rho*(1 - B)). The naive a^k/k! sum overflows — Spark's
# factorial() NULLs past k = 20 and e^a passes DOUBLE range once the
# peak-hour load is large, exactly the 100 TB design point — while
# the recursion stays in (0, 1] at ANY scale. Both engines fold the
# identical expression in the identical order (Spark aggregate(),
# DuckDB list_reduce with the init element prepended) with each step
# snapped to the 1e-12 grid, so cross-engine float drift cannot
# compound; everything downstream is one float expression per row
# snapped at 1e-6, and the SLO verdict compares the SNAPPED wait.
# All relations after the one corpus pass are <= 10 rows, and the
# fold is O(c) work per row — no k-relation join at all.


def _erlang_sql(ceil_div: str, fold_b: str, explode_c: str) -> str:
    return f"""
WITH hourly AS (
    SELECT CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY date_trunc('hour', ts)
),
peak AS (SELECT CAST(max(n) AS BIGINT) AS n_peak FROM hourly),
p AS (
    SELECT n_peak,
           CAST(n_peak AS DOUBLE) / 18e2 AS a,
           {ceil_div.format(num="n_peak + 1800", den="1800")} AS c_lo
    FROM peak
),
cs AS (
    SELECT p.c_lo + co.i AS c, p.n_peak, p.a,
           CAST(p.a AS DOUBLE) / (p.c_lo + co.i) AS rho
    FROM p CROSS JOIN ({explode_c}) co
),
bfold AS (
    SELECT c, n_peak, a, rho, {fold_b} AS b
    FROM cs
),
erl AS (
    SELECT c, n_peak,
           floor(a * 1e6 + 0.5) / 1e6 AS offered_load_erlangs,
           floor(rho * 1e6 + 0.5) / 1e6 AS utilization,
           floor(b / (1e0 - rho * (1e0 - b)) * 1e6 + 0.5) / 1e6 AS p_wait,
           floor(b / (1e0 - rho * (1e0 - b)) * rho / (1e0 - rho)
                 * 1e6 + 0.5) / 1e6 AS lq,
           floor(b / (1e0 - rho * (1e0 - b)) * rho / (1e0 - rho)
                 / (CAST(n_peak AS DOUBLE) / 36e2) * 1e6 + 0.5) / 1e6
               AS wq_seconds
    FROM bfold
)
SELECT c AS n_servers, n_peak AS peak_hour_arrivals,
       offered_load_erlangs, utilization, p_wait, lq, wq_seconds,
       CAST(CASE WHEN wq_seconds < 1e0 THEN 1 ELSE 0 END AS BIGINT)
           AS meets_wq_1s
FROM erl
ORDER BY n_servers
"""


_ERLANG_STEP = ("floor(a * acc / (j + a * acc) * 1e12 + 0.5)"
                " / 1e12")

_ERLANG_DUCK = _erlang_sql(
    "CAST(({num}) // ({den}) AS BIGINT)",
    ("list_reduce(list_prepend(CAST(1 AS DOUBLE),"
     " list_transform(generate_series(1, CAST(c AS INT)),"
     " j -> CAST(j AS DOUBLE))),"
     f" (acc, j) -> {_ERLANG_STEP})"),
    "SELECT unnest(generate_series(0, 9)) AS i",
)


@register("events_erlang_staffing", oracle=_ERLANG_DUCK)
def events_erlang_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C M/M/c staffing table at the peak-hour arrival rate:
    utilization, wait probability, queue length, and expected wait
    per pool size (stable Erlang-B fold — no factorials), with a
    1-second wait SLO verdict."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_erlang_sql(
        "CAST(({num}) DIV ({den}) AS BIGINT)",
        ("aggregate(transform(sequence(1, CAST(c AS INT)),"
         " j -> CAST(j AS DOUBLE)), CAST(1 AS DOUBLE),"
         f" (acc, j) -> {_ERLANG_STEP})"),
        "SELECT explode(sequence(0, 9)) AS i",
    ))


# ---------------------------------------------------------------------------
# Spectral entropy + flatness of the daily series
# ---------------------------------------------------------------------------
# The periodogram names the dominant period; the REGULARITY summary a
# forecastability gate wants is scalar: spectral entropy (Shannon
# entropy of the normalized power spectrum, 0 = pure tone / perfectly
# seasonal, 1 = white noise) and spectral flatness (Wiener entropy,
# the geometric/arithmetic power-mean ratio). Reuses the periodogram
# head VERBATIM (same snapped DFT projections over the same candidate
# periods), so the two queries can never disagree about the spectrum
# they summarize; the tail runs on the 13-row power relation.

_PGRAM_HEAD = _PGRAM_BODY[: _PGRAM_BODY.index("tot AS")]

_SPECTRAL_TAIL = f"""tot AS (
    SELECT {sql_exact_sum("power", 3)} AS s,
           CAST(count(*) AS BIGINT) AS np
    FROM pw
),
shares AS (
    SELECT {sql_stable_round("pw.power / tot.s", 6)} AS p, tot.np
    FROM pw CROSS JOIN tot
),
ent AS (
    SELECT np,
           {sql_exact_sum("CASE WHEN p > 0e0 THEN -p * ln(p) END", 6)}
               AS h,
           {sql_exact_sum("CASE WHEN p > 0e0 THEN ln(p) END", 6)} AS lsum,
           {sql_exact_sum("p", 6)} AS psum,
           CAST(sum(CASE WHEN p > 0e0 THEN 1 ELSE 0 END) AS BIGINT) AS npos
    FROM shares GROUP BY np
),
dom AS (
    SELECT CAST(k AS BIGINT) AS dominant_period
    FROM pw ORDER BY power DESC, k ASC LIMIT 1
)
SELECT ent.np AS n_periods, dom.dominant_period,
       {sql_stable_round("ent.h", 6)} AS spectral_entropy,
       {sql_stable_round("ent.h / ln(CAST(ent.np AS DOUBLE))", 6)}
           AS spectral_entropy_norm,
       {sql_stable_round(
           "exp(ent.lsum / ent.npos) / (ent.psum / ent.npos)", 6)}
           AS spectral_flatness
FROM ent CROSS JOIN dom
"""


@register(
    "events_spectral_entropy",
    oracle=_PGRAM_HEAD.replace(
        "{periods}", "SELECT unnest(generate_series(2, 14)) AS k"
    ) + _SPECTRAL_TAIL,
)
def events_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy (raw + log-K-normalized) and spectral flatness
    of the daily purchase series over the periodogram's candidate
    periods — the scalar forecastability gate."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _PGRAM_HEAD.replace(
            "{periods}", "SELECT explode(sequence(2, 14)) AS k"
        ) + _SPECTRAL_TAIL
    )


# ---------------------------------------------------------------------------
# Burstiness and memory of inter-event times (Goh & Barabasi 2008)
# ---------------------------------------------------------------------------
# events_interarrival_stats reports gap percentiles; the
# complex-systems summary of a point process is the (B, M) pair:
# burstiness B = (sigma - mu)/(sigma + mu) of the gap distribution
# (-1 periodic, 0 Poisson, -> 1 bursty) and memory M = the Pearson
# correlation of CONSECUTIVE same-user gaps (do long gaps follow long
# gaps?). Together they place each event type on the standard (B, M)
# phase diagram.
#
# Exactness: gaps are exact integer microseconds; all moments —
# including the consecutive-pair cross moments — accumulate in
# DECIMAL(38,0) (micros^2 reaches 7e24; products of sums pass BIGINT
# everywhere at scale), and B/M are single float expressions over
# those integers, snapped at output. Two partitioned lag windows over
# (user, type) orderings — corpus-sized but keyed, never global.


def _burst_sql(micros_diff: str) -> str:
    return f"""
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS prev_ts
    FROM events
),
gaps AS (
    SELECT user_id, event_type, ts, event_id,
           CAST(({micros_diff}) AS BIGINT) AS g
    FROM ordered WHERE prev_ts IS NOT NULL
),
pairs AS (
    SELECT event_type, g,
           lag(g) OVER (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) AS g_prev
    FROM gaps
),
mom AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(g AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
           CAST(sum(CAST(g AS DECIMAL(38,0)) * g) AS DECIMAL(38,0)) AS ss
    FROM gaps GROUP BY event_type
),
pmom AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS np,
           CAST(sum(CAST(g_prev AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
           CAST(sum(CAST(g AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
           CAST(sum(CAST(g_prev AS DECIMAL(38,0)) * g) AS DECIMAL(38,0))
               AS sxy,
           CAST(sum(CAST(g_prev AS DECIMAL(38,0)) * g_prev)
                AS DECIMAL(38,0)) AS sxx,
           CAST(sum(CAST(g AS DECIMAL(38,0)) * g) AS DECIMAL(38,0)) AS syy
    FROM pairs WHERE g_prev IS NOT NULL
    GROUP BY event_type
),
b AS (
    SELECT event_type, n,
           sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                / (CAST(n AS DOUBLE) * (n - 1))) AS sd,
           CAST(s AS DOUBLE) / n AS mu
    FROM mom WHERE n >= 2
)
SELECT b.event_type,
       b.n AS n_gaps, p.np AS n_consecutive_pairs,
       floor(b.mu / 1e6 * 1e6 + 0.5) / 1e6 AS mean_gap_secs,
       floor((b.sd - b.mu) / (b.sd + b.mu) * 1e6 + 0.5) / 1e6
           AS burstiness_b,
       floor((CAST(p.np AS DOUBLE) * CAST(p.sxy AS DOUBLE)
              - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
             / (sqrt(CAST(p.np AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                     - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE))
                * sqrt(CAST(p.np AS DOUBLE) * CAST(p.syy AS DOUBLE)
                       - CAST(p.sy AS DOUBLE) * CAST(p.sy AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS memory_m
FROM b JOIN pmom p ON p.event_type = b.event_type
ORDER BY b.event_type
"""


@register(
    "events_burstiness_memory",
    oracle=_burst_sql(
        "date_diff('microsecond', CAST(prev_ts AS TIMESTAMP),"
        " CAST(ts AS TIMESTAMP))"
    ),
)
def events_burstiness_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness B and memory M of same-user inter-event
    gaps per type — the (B, M) phase-diagram coordinates of each event
    stream, from exact integer-microsecond moments."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _burst_sql("timestampdiff(MICROSECOND, prev_ts, ts)")
    )


# ---------------------------------------------------------------------------
# Forecast baseline ladder: naive vs seasonal-naive, MAE / sMAPE / MASE
# ---------------------------------------------------------------------------
# events_forecast_backtest scores the Holt model; this is the ladder
# UNDER it — the two baselines every forecaster must beat: naive
# (y_hat = y_{t-1}) and seasonal-naive (y_hat = y_{t-7}), scored on
# the same one-step walk-forward protocol with MAE, sMAPE, and MASE
# (Hyndman-Koehler: MAE scaled by the in-sample naive MAE, the
# scale-free statistic that compares across series). A seasonal-naive
# MASE < 1 is the data-driven proof of weekly structure.
#
# Exactness: daily counts are exact integers, so every |error| is an
# exact integer and MAE/MASE are integer ratios; sMAPE terms are
# per-day floats snapped to the grid then exactly summed. The lag
# joins are bounded day-offset self-joins (never a corpus window).


def _mase_sql(day_plus: str) -> str:
    from automated_data_pipeline_python_spark.functions.numeric import (
        sql_exact_sum,
        sql_stable_round,
    )

    smape = ("CASE WHEN a.n + b.n > 0 THEN"
             " 2e0 * abs(a.n - b.n) / (CAST(a.n AS DOUBLE) + b.n)"
             " ELSE 0e0 END")
    return f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
horizons AS (
    SELECT CAST(1 AS BIGINT) AS lag_days, 'naive' AS baseline
    UNION ALL SELECT CAST(7 AS BIGINT), 'seasonal_naive'
),
scored AS (
    SELECT a.event_type, h.baseline, h.lag_days,
           CAST(count(*) AS BIGINT) AS n_forecasts,
           CAST(sum(abs(a.n - b.n)) AS BIGINT) AS sae,
           {sql_exact_sum(smape, 6)} AS smape_sum
    FROM daily a
    JOIN horizons h ON true
    JOIN daily b ON b.event_type = a.event_type
                AND {day_plus.format(d="b.d", k="h.lag_days")} = a.d
    GROUP BY a.event_type, h.baseline, h.lag_days
),
scale AS (
    SELECT event_type, CAST(sum(abs(a_n - b_n)) AS BIGINT) AS naive_sae,
           CAST(count(*) AS BIGINT) AS naive_n
    FROM (
        SELECT a.event_type, a.n AS a_n, b.n AS b_n
        FROM daily a
        JOIN daily b ON b.event_type = a.event_type
                    AND {day_plus.format(d="b.d", k="1")} = a.d
    ) one
    GROUP BY event_type
)
SELECT s.event_type, s.baseline, s.n_forecasts,
       {sql_stable_round("CAST(s.sae AS DOUBLE) / s.n_forecasts", 6)}
           AS mae,
       {sql_stable_round("s.smape_sum / s.n_forecasts", 6)} AS smape,
       {sql_stable_round(
           "(CAST(s.sae AS DOUBLE) / s.n_forecasts)"
           " / (CAST(sc.naive_sae AS DOUBLE) / sc.naive_n)", 6)} AS mase
FROM scored s JOIN scale sc ON sc.event_type = s.event_type
ORDER BY s.event_type, s.baseline
"""


@register(
    "events_forecast_mase_ladder",
    oracle=_mase_sql("{d} + INTERVAL ({k}) DAY"),
)
def events_forecast_mase_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive and seasonal-naive one-step baselines per event type with
    MAE, sMAPE, and Hyndman-Koehler MASE — the ladder any forecaster
    must beat; seasonal-naive MASE < 1 proves the weekly structure."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_mase_sql("date_add({d}, CAST({k} AS INT))"))


# ---------------------------------------------------------------------------
# Seasonal / trend strength (tsfeatures, Hyndman)
# ---------------------------------------------------------------------------
# The scalar verdict on the STL decomposition: F_seasonal = max(0,
# 1 - Var(remainder)/Var(seasonal+remainder)) and F_trend = max(0,
# 1 - Var(remainder)/Var(trend+remainder)) — the forecastability
# features (0 = none, -> 1 = dominant) the R tsfeatures package made
# standard. Wraps the catalog STL query VERBATIM as a subquery, so
# the strengths can never disagree with the decomposition they
# summarize; variances come from snapped-term exact sums over the
# calendar-bounded decomposition rows.


def _strength_tail() -> str:
    def var(x: str) -> str:
        sx = sql_exact_sum(x, 6)
        sxx = sql_exact_sum(f"({x}) * ({x})", 6)
        return (f"(CAST(count(*) AS DOUBLE) * ({sxx}) - ({sx}) * ({sx}))"
                f" / (CAST(count(*) AS DOUBLE) * count(*))")

    v_r = var("remainder")
    v_sr = var("seasonal + remainder")
    v_tr = var("trend + remainder")
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_days,
       floor(greatest(0e0, 1e0 - ({v_r}) / ({v_sr})) * 1e6 + 0.5) / 1e6
           AS seasonal_strength,
       floor(greatest(0e0, 1e0 - ({v_r}) / ({v_tr})) * 1e6 + 0.5) / 1e6
           AS trend_strength,
       floor(sqrt({v_r}) * 1e6 + 0.5) / 1e6 AS remainder_sd
FROM stl_rows WHERE remainder IS NOT NULL
"""


_STRENGTH_DUCK = (
    "WITH stl_rows AS (\nWITH stl_daily AS (" + _STL_DAILY_SQL + "),\n"
    + _stl_sql(
        "CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT)",
        "(dayofweek(d) + 6) % 7",
        "strftime(d, '%Y-%m-%d')",
        "stl_daily",
    ).lstrip()
    + ")\n"
    + _strength_tail()
)


@register("events_seasonal_strength", oracle=_STRENGTH_DUCK)
def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman seasonal/trend strength of the STL decomposition
    (wrapped verbatim): the scalar forecastability features beside
    the periodogram's spectral entropy."""
    register_views(spark, sf_dir, "events")
    materialize(spark.sql(_STL_DAILY_SQL), "stl_daily")
    spark.sql(
        "WITH "
        + _stl_sql(
            "CAST(datediff(d, DATE '1970-01-01') AS BIGINT)",
            "(dayofweek(d) + 5) % 7",
            "date_format(d, 'yyyy-MM-dd')",
            "stl_daily",
        ).lstrip()
    ).createOrReplaceTempView("stl_rows")
    return spark.sql(_strength_tail())


# ---------------------------------------------------------------------------
# Jarque-Bera normality test on daily revenue (round 10)
# ---------------------------------------------------------------------------
# The EVT/VaR queries assume nothing about the daily-revenue law; the
# forecasting family implicitly assumes near-normal residuals. The
# classic moment test (Jarque & Bera 1987) answers "is the daily series
# normal AT ALL?" from skewness and excess kurtosis alone:
# JB = n/6 · (S² + K²/4), chi-square(2) under H0.
#
# Exactness: central moments are shift-invariant, so the series is
# shifted by its exact integer MINIMUM before powering (no integer
# division, no dialect split) and the shifted powers accumulate in
# DECIMAL(38,0) with the factor promoted before each multiply — exact
# while the daily spread stays under ~$5.6e7 (d⁴ ≤ 1e38), far past the
# design point. S and K are single float expressions off the 5-number
# rollup, snapped at output; the verdict compares the snapped JB to
# the chi-square literal, so an ulp cannot flip it.

_JB_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
lo AS (SELECT CAST(min(cents) AS BIGINT) AS mn FROM daily),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents - mn AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS s1,
           CAST(sum(CAST(cents - mn AS DECIMAL(38,0)) * (cents - mn))
                AS DECIMAL(38,0)) AS s2,
           CAST(sum(CAST(cents - mn AS DECIMAL(38,0)) * (cents - mn)
                    * (cents - mn)) AS DECIMAL(38,0)) AS s3,
           CAST(sum((CAST(cents - mn AS DECIMAL(38,0)) * (cents - mn))
                    * (CAST(cents - mn AS DECIMAL(38,0)) * (cents - mn)))
                AS DECIMAL(38,0)) AS s4
    FROM daily CROSS JOIN lo
),
cm AS (
    -- central moments about the true mean via the raw-moment identity
    SELECT n,
           CAST(s1 AS DOUBLE) / n AS d1,
           CAST(s2 AS DOUBLE) / n AS d2,
           CAST(s3 AS DOUBLE) / n AS d3,
           CAST(s4 AS DOUBLE) / n AS d4
    FROM mom
),
sk AS (
    SELECT n,
           (d2 - d1 * d1) AS m2,
           (d3 - 3e0 * d1 * d2 + 2e0 * d1 * d1 * d1) AS m3,
           (d4 - 4e0 * d1 * d3 + 6e0 * d1 * d1 * d2
                - 3e0 * d1 * d1 * d1 * d1) AS m4
    FROM cm
),
stat AS (
    SELECT n,
           floor(m3 / (m2 * sqrt(m2)) * 1e6 + 0.5) / 1e6 AS skewness,
           floor((m4 / (m2 * m2) - 3e0) * 1e6 + 0.5) / 1e6
               AS excess_kurtosis,
           floor(CAST(n AS DOUBLE) / 6e0
                 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                    + (m4 / (m2 * m2) - 3e0) * (m4 / (m2 * m2) - 3e0)
                      / 4e0)
                 * 1e6 + 0.5) / 1e6 AS jb_stat
    FROM sk
)
SELECT n AS n_days, skewness, excess_kurtosis, jb_stat,
       5.991465e0 AS chi2_crit_95,
       CAST(CASE WHEN jb_stat > 5.991465e0 THEN 1 ELSE 0 END AS BIGINT)
           AS reject_normality
FROM stat
"""


@register("events_jarque_bera", oracle=_JB_SQL)
def events_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera moment test of daily-revenue normality: skewness,
    excess kurtosis, and the chi-square(2) verdict — exact shifted
    integer moments, one corpus pass."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_JB_SQL)


# ---------------------------------------------------------------------------
# Anderson-Darling normality test on daily revenue (round 10)
# ---------------------------------------------------------------------------
# Jarque-Bera weighs only two moments; Anderson-Darling (1952) tests
# the WHOLE distribution with tail-heavy weighting — the strictest of
# the classic normality tests and the one practitioners reach for
# before trusting z-based alarms. A² = -n - (1/n)·Σ[(2i-1)·ln Φ(zᵢ) +
# (2(n-i)+1)·ln(1-Φ(zᵢ))] over the sorted standardized series, with
# the Stephens (1974) small-sample factor and the 0.752 five-percent
# critical value for estimated parameters.
#
# Numerics: z is snapped to the 1e-6 grid BEFORE Φ (the shared A&S
# polynomial — both engines evaluate identical text), Φ is snapped to
# the 1e-12 grid and clamped to [1e-12, 1-1e-12] before ln (the ln(0)
# guard), and each summand is snapped before the exact-integer sum, so
# engine libm ulps cannot drift the fold. The rank window runs over
# the calendar-bounded daily relation (allowlisted).

_AD_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS s,
           CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                AS DECIMAL(38,0)) AS ss
    FROM daily
),
z AS (
    SELECT CAST(row_number() OVER (ORDER BY cents, d) AS BIGINT) AS i,
           m.n,
           floor((cents - CAST(m.s AS DOUBLE) / m.n)
                 / sqrt((CAST(m.n AS DOUBLE) * CAST(m.ss AS DOUBLE)
                         - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
                        / (CAST(m.n AS DOUBLE) * (m.n - 1)))
                 * 1e6 + 0.5) / 1e6 AS zi
    FROM daily CROSS JOIN mom m
),
phi AS (
    SELECT i, n,
           LEAST(GREATEST(
               floor(CASE WHEN zi >= 0e0
                          THEN 1e0 - {sql_normal_two_sided_p('zi')} / 2e0
                          ELSE {sql_normal_two_sided_p('(-zi)')} / 2e0
                     END * 1e12 + 0.5) / 1e12,
               1e-12), 1e0 - 1e-12) AS ph
    FROM z
),
terms AS (
    SELECT n,
           CAST(sum(CAST(floor(((2 * i - 1) * ln(ph)
                                + (2 * (n - i) + 1) * ln(1e0 - ph))
                               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS t6
    FROM phi GROUP BY n
)
SELECT n AS n_days,
       floor((-CAST(n AS DOUBLE) - CAST(t6 AS DOUBLE) / 1e6 / n)
             * 1e6 + 0.5) / 1e6 AS a2_stat,
       floor((-CAST(n AS DOUBLE) - CAST(t6 AS DOUBLE) / 1e6 / n)
             * (1e0 + 75e-2 / n + 225e-2 / (CAST(n AS DOUBLE) * n))
             * 1e6 + 0.5) / 1e6 AS a2_star,
       0.752e0 AS crit_95_est_params,
       CAST(CASE WHEN floor((-CAST(n AS DOUBLE)
                             - CAST(t6 AS DOUBLE) / 1e6 / n)
                            * (1e0 + 75e-2 / n
                               + 225e-2 / (CAST(n AS DOUBLE) * n))
                            * 1e6 + 0.5) / 1e6 > 0.752e0
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_normality
FROM terms
"""


@register("events_anderson_darling", oracle=_AD_SQL)
def events_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality test of daily revenue with the
    Stephens small-sample factor — tail-weighted ECDF distance via the
    shared A&S normal polynomial, snap-before-ln discipline."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_AD_SQL)


# ---------------------------------------------------------------------------
# Durbin-Watson autocorrelation of detrended daily counts (round 10)
# ---------------------------------------------------------------------------
# The forecasting ladder fits trends; Durbin-Watson (1950) asks the
# follow-up every regression on a time series owes its reader: are the
# RESIDUALS serially correlated (which silently shrinks every standard
# error downstream)? OLS of daily counts on the day index, then
# DW = Σ(eₜ-eₜ₋₁)²/Σeₜ², with the textbook DW ≈ 2(1-ρ̂) reading.
#
# Exactness: the day index is an exact datediff integer, OLS moments
# accumulate in DECIMAL(38,0) with promoted factors, each residual is
# ONE float expression snapped to the 1e-6 grid before the quadratic
# sums (which then accumulate as exact scaled integers), and the
# verdict compares snapped DW to the 1.5 screening literal. The lag
# window runs over the calendar-bounded daily relation.


def _dw_sql(days_diff: str) -> str:
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY CAST(ts AS DATE)
),
idx AS (
    SELECT d, x,
           CAST({days_diff} AS BIGINT) AS t
    FROM daily CROSS JOIN (SELECT min(d) AS d0 FROM daily)
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t) AS BIGINT) AS st,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(CAST(t AS DECIMAL(38,0)) * t) AS DECIMAL(38,0)) AS stt,
           CAST(sum(CAST(t AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS stx
    FROM idx
),
fit AS (
    SELECT n,
           (CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
            - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
           CAST(sx AS DOUBLE) / n AS xbar,
           CAST(st AS DOUBLE) / n AS tbar
    FROM mom
),
resid AS (
    SELECT i.t, f.n, f.b,
           floor((i.x - (f.xbar + f.b * (i.t - f.tbar))) * 1e6 + 0.5)
               / 1e6 AS e
    FROM idx i CROSS JOIN fit f
),
lagged AS (
    SELECT n, b, e,
           lag(e) OVER (ORDER BY t) AS e_prev
    FROM resid
),
sums AS (
    SELECT n, b,
           CAST(sum(CAST(floor(e * e * 1e6 + 0.5) AS BIGINT))
                AS BIGINT) AS see6,
           CAST(sum(CASE WHEN e_prev IS NOT NULL
                         THEN CAST(floor((e - e_prev) * (e - e_prev)
                                         * 1e6 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS sdd6
    FROM lagged GROUP BY n, b
)
SELECT n AS n_days,
       floor(b * 1e6 + 0.5) / 1e6 AS trend_slope,
       floor(CAST(sdd6 AS DOUBLE) / see6 * 1e6 + 0.5) / 1e6 AS dw_stat,
       floor((1e0 - CAST(sdd6 AS DOUBLE) / see6 / 2e0) * 1e6 + 0.5) / 1e6
           AS rho_hat,
       CAST(CASE WHEN floor(CAST(sdd6 AS DOUBLE) / see6 * 1e6 + 0.5) / 1e6
                      < 15e-1
                 THEN 1 ELSE 0 END AS BIGINT) AS positive_autocorr_flag
FROM sums
"""


@register(
    "events_durbin_watson",
    oracle=_dw_sql("date_diff('day', d0, d)"),
)
def events_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson test on OLS-detrended daily counts: DW statistic,
    the implied lag-1 residual correlation, and the 1.5 screening flag
    — exact integer OLS moments, snapped residuals."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_dw_sql("datediff(d, d0)"))


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled range (round 10)
# ---------------------------------------------------------------------------
# Burstiness/memory give one-lag persistence; the LONG-memory question
# ("do busy days cluster across scales?") is Hurst's R/S (1951,
# Mandelbrot & Wallis 1969): per block of size m, range of cumulative
# mean-deviations over the block sd; H is the log-log slope of mean
# R/S against m. H ≈ 0.5 = memoryless, > 0.5 = persistent.
#
# Exactness: within a block, m·W_k = m·prefix_k − k·sum_block is an
# exact BIGINT (daily counts), and R/S = (max−min of m·W_k) /
# sqrt(m·Σx² − (Σx)²) divides exact integers under one sqrt — one
# float per block, snapped before the exact-integer mean. The log-log
# slope runs on the ≤3-row ladder relation. Prefix sums come from a
# within-block triangular join over the calendar-bounded daily
# relation — never a window, never corpus-sized.


def _hurst_sql(idiv: str) -> str:
    d = lambda a, b: idiv.format(a=a, b=b)  # noqa: E731
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY CAST(ts AS DATE)
),
idx AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, x
    FROM daily
),
n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM idx),
ms AS (
    SELECT CAST(8 AS BIGINT) AS m
    UNION ALL SELECT CAST(16 AS BIGINT)
    UNION ALL SELECT CAST(32 AS BIGINT)
),
blocked AS (
    -- complete blocks only: block b spans rows b*m+1 .. (b+1)*m
    SELECT ms.m, CAST({d('(i.i - 1)', 'ms.m')} AS BIGINT) AS b,
           i.i, i.x
    FROM idx i CROSS JOIN n CROSS JOIN ms
    WHERE {d('(i.i - 1)', 'ms.m')} < {d('n.nd', 'ms.m')}
),
btot AS (
    SELECT m, b,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS ss
    FROM blocked GROUP BY m, b
),
prefix AS (
    SELECT a.m, a.b, a.i,
           CAST(sum(c.x) AS BIGINT) AS pre,
           CAST(a.i - a.b * a.m AS BIGINT) AS k
    FROM blocked a
    JOIN blocked c ON c.m = a.m AND c.b = a.b AND c.i <= a.i
    GROUP BY a.m, a.b, a.i
),
wrange AS (
    SELECT p.m, p.b,
           CAST(max(p.m * p.pre - p.k * t.sx) AS BIGINT) AS wmax,
           CAST(min(p.m * p.pre - p.k * t.sx) AS BIGINT) AS wmin
    FROM prefix p JOIN btot t ON t.m = p.m AND t.b = p.b
    GROUP BY p.m, p.b
),
rs AS (
    SELECT w.m,
           floor(CAST(w.wmax - w.wmin AS DOUBLE)
                 / sqrt(CAST(w.m AS DOUBLE) * CAST(t.ss AS DOUBLE)
                        - CAST(t.sx AS DOUBLE) * CAST(t.sx AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS rs_block
    FROM wrange w JOIN btot t ON t.m = w.m AND t.b = w.b
    WHERE CAST(w.m AS DOUBLE) * CAST(t.ss AS DOUBLE)
          - CAST(t.sx AS DOUBLE) * CAST(t.sx AS DOUBLE) > 0e0
),
ladder AS (
    SELECT m,
           CAST(count(*) AS BIGINT) AS n_blocks,
           floor(CAST(sum(CAST(floor(rs_block * 1e6 + 0.5) AS BIGINT))
                      AS DOUBLE) / 1e6 / count(*) * 1e6 + 0.5) / 1e6
               AS rs_mean
    FROM rs GROUP BY m
),
pts AS (
    SELECT ln(CAST(m AS DOUBLE)) AS lx, ln(rs_mean) AS ly
    FROM ladder WHERE rs_mean > 0e0
),
slope AS (
    SELECT (count(*) * sum(lx * ly) - sum(lx) * sum(ly))
           / (count(*) * sum(lx * lx) - sum(lx) * sum(lx)) AS h
    FROM pts
)
SELECT l.m AS block_size, l.n_blocks, l.rs_mean,
       floor(s.h * 1e6 + 0.5) / 1e6 AS hurst_exponent
FROM ladder l CROSS JOIN slope s
ORDER BY block_size
"""


@register(
    "events_hurst_rescaled_range",
    oracle=_hurst_sql("CAST(({a}) // ({b}) AS BIGINT)"),
)
def events_hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily count series by classic rescaled-
    range analysis over 8/16/32-day blocks — exact within-block integer
    cumulative deviations, log-log slope on the bounded ladder."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_hurst_sql("CAST(({a}) DIV ({b}) AS BIGINT)"))


# ---------------------------------------------------------------------------
# Partial autocorrelation via Durbin-Levinson (round 10)
# ---------------------------------------------------------------------------
# events_daily_acf reports raw correlations, which CONFOUND direct and
# inherited lag structure; the AR-order question ("how many lags does
# a forecaster actually need?") is answered by the PACF. Lags 1-3 via
# the Durbin-Levinson recursion written closed-form over the SAME
# textbook full-mean ACF as the Ljung-Box query (identical moment
# construction, so the two can never disagree about r_k).
#
# Exactness: the moment sums are exact DECIMAL(38,0) integers; each
# r_k is one float expression snapped to 1e-6; the DL algebra runs on
# the 3 snapped r values and each φ_kk snaps at output. The
# significance verdict compares snapped |pacf| to the snapped
# 1.96/sqrt(n) band — ulps cannot flip it.

_PACF_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY CAST(ts AS DATE)
),
idx AS (
    SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, x
    FROM daily
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS ss
    FROM idx
),
lags AS (
    SELECT CAST(1 AS BIGINT) AS k
    UNION ALL SELECT CAST(2 AS BIGINT)
    UNION ALL SELECT CAST(3 AS BIGINT)
),
pairsums AS (
    SELECT lg.k,
           CAST(count(*) AS BIGINT) AS np,
           CAST(sum(CAST(a.x AS DECIMAL(38,0)) * b.x) AS DECIMAL(38,0))
               AS sxy,
           CAST(sum(CAST(a.x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
           CAST(sum(CAST(b.x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy
    FROM idx a
    JOIN lags lg ON true
    JOIN idx b ON b.i = a.i + lg.k
    GROUP BY lg.k
),
acfk AS (
    SELECT p.k, t.n,
           floor((CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                      * CAST(p.sxy AS DOUBLE)
                  - CAST(t.n AS DOUBLE) * CAST(t.s AS DOUBLE)
                      * (CAST(p.sx AS DOUBLE) + CAST(p.sy AS DOUBLE))
                  + CAST(p.np AS DOUBLE) * CAST(t.s AS DOUBLE)
                      * CAST(t.s AS DOUBLE))
                 / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
                        * CAST(t.ss AS DOUBLE)
                    - CAST(t.n AS DOUBLE) * CAST(t.s AS DOUBLE)
                        * CAST(t.s AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS r
    FROM pairsums p CROSS JOIN tot t
),
rwide AS (
    SELECT max(n) AS n,
           min(CASE WHEN k = 1 THEN r END) AS r1,
           min(CASE WHEN k = 2 THEN r END) AS r2,
           min(CASE WHEN k = 3 THEN r END) AS r3
    FROM acfk
),
dl AS (
    -- Durbin-Levinson closed form for orders 1..3
    SELECT n, r1, r2, r3,
           r1 AS p11,
           (r2 - r1 * r1) / (1e0 - r1 * r1) AS p22,
           r1 * (1e0 - (r2 - r1 * r1) / (1e0 - r1 * r1)) AS p21
    FROM rwide
),
pacf AS (
    SELECT n, r1, r2, r3, p11, p22,
           (r3 - p21 * r2 - p22 * r1)
           / (1e0 - p21 * r1 - p22 * r2) AS p33
    FROM dl
)
SELECT lg.k AS lag, p.n AS n_days,
       CASE lg.k WHEN 1 THEN p.r1 WHEN 2 THEN p.r2 ELSE p.r3 END AS acf,
       CASE lg.k
            WHEN 1 THEN floor(p.p11 * 1e6 + 0.5) / 1e6
            WHEN 2 THEN floor(p.p22 * 1e6 + 0.5) / 1e6
            ELSE floor(p.p33 * 1e6 + 0.5) / 1e6 END AS pacf,
       floor(196e-2 / sqrt(CAST(p.n AS DOUBLE)) * 1e6 + 0.5) / 1e6
           AS conf_band,
       CAST(CASE WHEN abs(CASE lg.k
                       WHEN 1 THEN floor(p.p11 * 1e6 + 0.5) / 1e6
                       WHEN 2 THEN floor(p.p22 * 1e6 + 0.5) / 1e6
                       ELSE floor(p.p33 * 1e6 + 0.5) / 1e6 END)
                      > floor(196e-2 / sqrt(CAST(p.n AS DOUBLE))
                              * 1e6 + 0.5) / 1e6
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM pacf p CROSS JOIN lags lg
ORDER BY lag
"""


@register("events_pacf_durbin_levinson", oracle=_PACF_SQL)
def events_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF at lags 1-3 by the Durbin-Levinson recursion over the same
    full-mean ACF as Ljung-Box, with the 1.96/sqrt(n) significance
    band — the AR-order diagnostic raw ACF cannot give."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_PACF_SQL)


# ---------------------------------------------------------------------------
# Poisson dispersion (variance-to-mean) test on daily counts (r10)
# ---------------------------------------------------------------------------
# Every Poisson-assuming model downstream (Erlang staffing, rate
# alarms) owes the reader this one-row diagnostic: is the daily count
# series actually Poisson-dispersed? The classic index-of-dispersion
# test (Fisher 1950): D = (n-1)·s²/x̄ is chi-square(n-1) under H0, and
# the Wilson-Hilferty-free normal approximation z = sqrt(2D) -
# sqrt(2·df - 1) is standard for the df here (days, >> 30). Exact
# integer moments, one final float chain, snapped z into the shared
# A&S polynomial for the p-value. The overdispersed_05 flag gates on
# the UPPER tail (z > 0) as well as the p threshold — significant
# underdispersion (vmr < 1) must not raise an "overdispersed" flag.

_DISPERSION_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY CAST(ts AS DATE)
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS s,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS ss
    FROM daily
),
stat AS (
    SELECT n,
           floor(CAST(s AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean_count,
           floor(((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (n - 1)))
                 / (CAST(s AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS vmr,
           floor((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / CAST(s AS DOUBLE) * 1e6 + 0.5) / 1e6 AS d_stat,
           floor((sqrt(2e0 * ((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                              / CAST(s AS DOUBLE)))
                  - sqrt(2e0 * (n - 1) - 1e0)) * 1e6 + 0.5) / 1e6 AS z
    FROM mom
)
SELECT n AS n_days, mean_count, vmr, d_stat, z,
       floor({sql_normal_two_sided_p('abs(z)')} * 1e6 + 0.5) / 1e6
           AS p_approx,
       CAST(CASE WHEN z > 0e0
                      AND floor({sql_normal_two_sided_p('abs(z)')}
                                * 1e6 + 0.5) / 1e6 < 5e-2
                 THEN 1 ELSE 0 END AS BIGINT) AS overdispersed_05
FROM stat
"""


@register("events_poisson_dispersion", oracle=_DISPERSION_SQL)
def events_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion test of the daily counts: variance-to-mean
    ratio, the chi-square D statistic, and the sqrt-2D normal
    approximation verdict — the Poisson-assumption gate for the
    staffing/alarm family."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_DISPERSION_SQL)


# ---------------------------------------------------------------------------
# Theta-method forecast backtest (round 10)
# ---------------------------------------------------------------------------
# The M3-competition winner (Assimakopoulos & Nikolopoulos 2000) in
# its standard two-line reading: the theta(0,2) forecast is the
# average of a LINEAR TREND extrapolation and SIMPLE EXPONENTIAL
# SMOOTHING of the series. Backtested here the way the MASE-ladder
# query frames it: hold out the final 7 days of daily revenue, fit on
# the rest, and score each horizon against the in-sample naive scale.
#
# Exactness: the trend comes from exact DECIMAL integer moments; the
# SES level folds left-to-right with each step snapped to 1e-6 (the
# Holt/Erlang fold discipline — Spark aggregate() and DuckDB
# list_reduce replay the identical arithmetic on the identically
# ordered array); the MASE scale is an exact integer |diff| mean. One
# corpus pass; everything else is calendar-bounded.

_THETA_STEP = "floor((3e-1 * v + 7e-1 * acc) * 1e6 + 0.5) / 1e6"


def _theta_sql(arr: str, fold: str) -> str:
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
idx AS (
    SELECT d, cents,
           CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
    FROM daily
),
nn AS (SELECT CAST(count(*) - 7 AS BIGINT) AS n_train FROM idx),
train AS (
    SELECT i.i, i.cents FROM idx i CROSS JOIN nn
    WHERE i.i <= nn.n_train
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(i) AS BIGINT) AS st,
           CAST(sum(cents) AS BIGINT) AS sx,
           CAST(sum(CAST(i AS DECIMAL(38,0)) * i) AS DECIMAL(38,0)) AS stt,
           CAST(sum(CAST(i AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0))
               AS stx
    FROM train
),
fit AS (
    SELECT n,
           (CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
            - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
           CAST(sx AS DOUBLE) / n AS xbar,
           CAST(st AS DOUBLE) / n AS tbar
    FROM mom
),
arrs AS (SELECT {arr} AS xs FROM train),
ses AS (SELECT {fold} AS l FROM arrs),
scale AS (
    SELECT CAST(sum(abs(a.cents - b.cents)) AS BIGINT) AS sdiff,
           CAST(count(*) AS BIGINT) AS ndiff
    FROM train a JOIN train b ON b.i = a.i - 1
),
test AS (
    SELECT i.i - nn.n_train AS h, i.d, i.cents
    FROM idx i CROSS JOIN nn WHERE i.i > nn.n_train
)
SELECT t.h AS horizon_days,
       CAST(t.d AS STRING) AS day,
       floor(t.cents / 1e2 * 1e6 + 0.5) / 1e6 AS actual,
       floor((5e-1 * ses.l
              + 5e-1 * (f.xbar + f.b * (f.n + t.h - f.tbar)))
             / 1e2 * 1e6 + 0.5) / 1e6 AS theta_forecast,
       floor(abs(t.cents
                 - (5e-1 * ses.l
                    + 5e-1 * (f.xbar + f.b * (f.n + t.h - f.tbar))))
             / 1e2 * 1e6 + 0.5) / 1e6 AS abs_err,
       floor(abs(t.cents
                 - (5e-1 * ses.l
                    + 5e-1 * (f.xbar + f.b * (f.n + t.h - f.tbar))))
             / (CAST(sc.sdiff AS DOUBLE) / sc.ndiff)
             * 1e6 + 0.5) / 1e6 AS mase_h
FROM test t
CROSS JOIN ses CROSS JOIN fit f CROSS JOIN scale sc
ORDER BY horizon_days
"""


@register(
    "events_theta_forecast",
    oracle=_theta_sql(
        "list(CAST(cents AS DOUBLE) ORDER BY i)",
        f"list_reduce(arrs.xs, (acc, v) -> {_THETA_STEP})",
    ),
)
def events_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta(0,2) forecast of daily revenue — the average of a linear
    trend extrapolation and snapped-fold SES — backtested on a held-out
    final week with per-horizon MASE."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_theta_sql(
        "transform(array_sort(collect_list(named_struct('i', i,"
        " 'c', cents))), s -> CAST(s.c AS DOUBLE))",
        "aggregate(slice(arrs.xs, 2, size(arrs.xs) - 1),"
        f" element_at(arrs.xs, 1), (acc, v) -> {_THETA_STEP})",
    ))
