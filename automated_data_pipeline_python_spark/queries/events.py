"""Event-time windowing over ``events`` (SURVEY §2.7 batch equivalents).

``F.window`` / ``F.session_window`` give the same window semantics in
batch as in Structured Streaming; the queries here are validated
against gaps-and-islands / time_bucket oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.functions.numeric import (
    exact_avg,
    exact_sum,
    snap_scaled,
    sql_exact_avg,
    sql_exact_sum,
    stable_round,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import load, register_views

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
# events.value is 2dp — sums snap to the 1e-2 grid so totals are
# order-independent across engines (see functions/numeric.py).


@register(
    "events_tumbling_10min",
    oracle=f"""
    SELECT
        strftime(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)),
                 '%Y-%m-%d %H:%M:%S')            AS win_start,
        event_type,
        CAST(count(*) AS BIGINT)                 AS cnt,
        floor(({sql_exact_sum("value", 2)}) * 1e2 + 0.5) / 1e2    AS total_value
    FROM events
    GROUP BY win_start, event_type
    """,
)
def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows per event type.

    Scale: window assignment is a pure projection (no shuffle); the
    grouped agg shuffles on (window, type) with map-side partials.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            stable_round(exact_sum("value", 2), 2).alias("total_value"),
        )
        .select(
            F.date_format("win.start", _TS_FMT).alias("win_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


@register(
    "events_sliding_10min_5min",
    oracle=f"""
    WITH starts AS (
        SELECT
            unnest([time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
                    time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                        - INTERVAL '5 minutes']) AS win_start,
            event_type,
            value
        FROM events
    )
    SELECT
        strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
        CAST(count(*) AS BIGINT)                 AS cnt,
        floor(({sql_exact_avg("value", 2)}) * 1e2 + 0.5) / 1e2    AS avg_value
    FROM starts
    GROUP BY win_start
    """,
)
def events_sliding_10min_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide) — each event lands in
    two windows; the oracle materializes both starts via unnest."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            stable_round(exact_avg("value", 2), 2).alias("avg_value"),
        )
        .select(
            F.date_format("win.start", _TS_FMT).alias("win_start"),
            "cnt",
            "avg_value",
        )
    )


@register(
    "events_sessionization",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT
        user_id,
        strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        strftime(CAST(max(ts) AS TIMESTAMP) + INTERVAL '30 minutes',
                 '%Y-%m-%d %H:%M:%S.%f')                             AS session_end,
        CAST(count(*) AS BIGINT)                                     AS n_events,
        floor(({sql_exact_sum("value", 2)}) * 1e2 + 0.5) / 1e2       AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user.

    Spark's ``session_window`` (works in batch and streaming) defines
    session end = last event + gap; the oracle mirrors that with
    gaps-and-islands. Scale: one shuffle on user_id; state is bounded
    per key in streaming mode.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(exact_sum("value", 2), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_hourly_type_matrix",
    oracle="""
    SELECT
        strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
        CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS clicks,
        CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS views,
        CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchases,
        CAST(count(*) FILTER (event_type = 'signup')   AS BIGINT) AS signups,
        CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS errors
    FROM events
    GROUP BY hour
    """,
)
def events_hourly_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly conditional-count matrix (pivot shape without a pivot shuffle)."""
    ev = load(spark, sf_dir, "events")
    cols = {
        "clicks": "click",
        "views": "view",
        "purchases": "purchase",
        "signups": "signup",
        "errors": "error",
    }
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), _TS_FMT).alias("hour")
        )
        .agg(
            *[
                F.count(F.when(F.col("event_type") == v, 1)).alias(k)
                for k, v in cols.items()
            ]
        )
    )


@register(
    "events_hierarchical_rollup",
    oracle=f"""
    SELECT
        strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type,
        CAST(count(*) AS BIGINT)                   AS cnt,
        floor(({sql_exact_sum("value", 2)}) * 1e2 + 0.5) / 1e2 AS total_value,
        min(value)                                 AS min_value,
        max(value)                                 AS max_value
    FROM events
    GROUP BY hour, event_type
    """,
)
def events_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: hour aggregates composed
    from a minute-level rollup instead of raw events.

    The continuous-aggregation pattern: materialize fine-grained
    rollups once, derive every coarser grain by *re-aggregating the
    rollup* (count→sum, sum→sum, min→min, max→max — all decomposable
    aggregates). At 100 TB the hourly pass reads minutes-table rows
    (~1/N of raw); the oracle aggregates raw directly, proving the
    composition is lossless.
    """
    ev = load(spark, sf_dir, "events")
    minutely = (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("minute"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # Keep the partial sum as exact snapped DECIMAL so the
            # rollup→rollup composition stays order-independent.
            F.sum(snap_scaled("value", 2)).alias("total_value_c"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    return (
        minutely.groupBy(
            F.date_format(F.date_trunc("hour", "minute"), _TS_FMT).alias("hour"),
            "event_type",
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            stable_round(
                F.sum("total_value_c").cast("double") / F.lit(100.0), 2
            ).alias("total_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


@register(
    "events_interval_join",
    oracle="""
    SELECT c.user_id,
           c.event_id                                        AS click_id,
           p.event_id                                        AS purchase_id,
           strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           p.value                                           AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
      AND p.event_type = 'purchase'
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within 30 minutes of a click by the same
    user.

    The same DataFrame code runs on streaming inputs, where each side
    would also need a watermark; the range bound on event time is what
    would then let Spark evict buffered join state.

    Scale: equi-key on user_id carries the shuffle; the time-range
    predicate is a post-join filter.
    """
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", _TS_FMT).alias("click_ts"),
        F.date_format("purchase_ts", _TS_FMT).alias("purchase_ts"),
        "purchase_value",
    )


# ---------------------------------------------------------------------------
# Ordered funnel: view → click → purchase conversion per user
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH v AS (
    SELECT user_id, min(ts) AS t1
    FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
    WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 'view' AS stage, CAST(1 AS INT) AS stage_no, CAST(count(*) AS BIGINT) AS users FROM v
UNION ALL
SELECT 'click', CAST(2 AS INT), CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT 'purchase', CAST(3 AS INT), CAST(count(*) AS BIGINT) FROM p
"""


@register("events_funnel_conversion", oracle=_FUNNEL_SQL)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel: users whose first view precedes a later
    click that precedes a later purchase (product-analytics staple).

    Scale: three filtered min-aggregations chained by user_id equi-joins
    — every shuffle keys on user_id, so AQE can reuse the exchange; no
    window sort over full event history is needed.
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(_FUNNEL_SQL)


# ---------------------------------------------------------------------------
# Per-type z-score anomaly histogram (two-pass outlier detection)
# ---------------------------------------------------------------------------
# The monitoring shape: per-group mean/std in one aggregation pass, a
# second pass scoring each event against its group's stats, histogram
# of |z| bands. Cross-engine determinism is engineered by doing ALL
# accumulation in integer cents (value is 2dp): sum(c) and sum(c*c)
# are exact BIGINTs, so mean/variance/z come out bit-identical on both
# engines from identical integer inputs — no float-summation-order
# exposure anywhere; the 1e-6 snap on z guards only the sqrt ulp.
# The SAME SQL string runs on Spark and DuckDB.
#
# Scale: two scans (stats, score), stats table is group-count-sized →
# broadcast onto the scoring pass; output is groups × 4 bands.

_ZSCORE_SQL = """
WITH c AS (
    SELECT event_type, CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS c
    FROM events
),
st AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c) AS BIGINT) AS s1,
           CAST(sum(c * c) AS BIGINT) AS s2
    FROM c GROUP BY event_type
),
z AS (
    SELECT c.event_type,
           floor(((c.c - CAST(s1 AS DOUBLE) / n)
                  / sqrt(greatest(CAST(s2 AS DOUBLE) / n
                                  - (CAST(s1 AS DOUBLE) / n)
                                    * (CAST(s1 AS DOUBLE) / n), 1e-12)))
                 * 1e6 + 0.5) / 1e6 AS z
    FROM c JOIN st ON c.event_type = st.event_type
)
SELECT event_type,
       CASE WHEN abs(z) < 1 THEN '0-1'
            WHEN abs(z) < 2 THEN '1-2'
            WHEN abs(z) < 3 THEN '2-3'
            ELSE '3+' END AS z_band,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(min(z) * 1e6 + 0.5) / 1e6 AS min_z,
       floor(max(z) * 1e6 + 0.5) / 1e6 AS max_z
FROM z
GROUP BY event_type, 2
"""


@register("events_zscore_bands", oracle=_ZSCORE_SQL)
def events_zscore_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-type z-score bands (anomaly monitoring shape)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_ZSCORE_SQL)


# ---------------------------------------------------------------------------
# Path-sequence analytics (clickstream "top paths")
# ---------------------------------------------------------------------------
# The MATCH_RECOGNIZE-shaped question every product-analytics engine
# answers: what do the first N steps of a session look like, and which
# openings are most common? Sessionize by 30-minute inactivity gap
# (gaps-and-islands — the same spine as the sessionization oracle),
# keep each session's first 3 events in (ts, event_id) order, render
# the path as a string, count sessions per path.
#
# One template, two dialect knobs: the timestamp expression (Spark
# reads ts as TIMESTAMP_NTZ via tables.load; DuckDB casts the raw
# parquet value) and the ordered string aggregate (Spark 4 listagg
# WITHIN GROUP vs DuckDB string_agg ORDER BY).
#
# Scale: one shuffle on user_id serves the lag, the session id and the
# per-session rank (same partition spec); the per-path count shuffles
# only distinct paths (bounded by |event_type|^3). Nothing is
# corpus-quadratic; state per user is one row of look-back.


def _paths_sql(ts: str, path_agg: str) -> str:
    w = "PARTITION BY user_id ORDER BY {t}, event_id".format(t=ts)
    return f"""
WITH ordered AS (
    SELECT user_id, {ts} AS t, event_id, event_type,
           CASE WHEN lag({ts}) OVER ({w}) IS NULL
                  OR {ts} > lag({ts}) OVER ({w}) + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
),
sess AS (
    SELECT user_id, t, event_id, event_type,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_id
    FROM ordered
),
ranked AS (
    SELECT user_id, sess_id, event_type, t, event_id,
           row_number() OVER (PARTITION BY user_id, sess_id
                              ORDER BY t, event_id) AS rn
    FROM sess
),
paths AS (
    SELECT user_id, sess_id, {path_agg} AS path
    FROM ranked
    WHERE rn <= 3
    GROUP BY user_id, sess_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


_PATHS_DUCK_SQL = _paths_sql(
    "CAST(ts AS TIMESTAMP)",
    "string_agg(event_type, '>' ORDER BY t, event_id)",
)


@register("events_path_patterns", oracle=_PATHS_DUCK_SQL)
def events_path_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session-opening paths (first 3 events per 30-min session)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _paths_sql(
            "ts",
            "listagg(event_type, '>') WITHIN GROUP (ORDER BY t, event_id)",
        )
    )


# ---------------------------------------------------------------------------
# OHLC downsampling (time-series bar aggregation)
# ---------------------------------------------------------------------------
# The financial/metrics rollup: per (event_type, hour) the opening
# value (earliest row), high, low, and closing value (latest row).
# first/last need a total order — (ts, event_id) breaks timestamp
# ties identically on both engines; row_number is the portable
# arg_min/arg_max (DuckDB's arg_min takes one ordering key; Spark's
# min_by has no tiebreak — both would be nondeterministic on tied ts).
#
# Scale: both window ranks share one (event_type, hour) partition spec
# — one shuffle, one sort each direction — and the final agg reuses
# the same keys (no second exchange under AQE). value doubles pass
# through untouched (data, not arithmetic), so parity is exact.


def _ohlc_sql(ts: str, fmt_hr: str) -> str:
    # hr is computed ONCE in `base` so the window partition spec and the
    # final GROUP BY reference the same attribute — Catalyst then reuses
    # the window exchange for the aggregation (1 shuffle total; with the
    # expression inlined twice the agg re-shuffles on a fresh attribute).
    return f"""
WITH base AS (
    SELECT event_type, date_trunc('hour', {ts}) AS hr,
           value, {ts} AS t, event_id
    FROM events
),
ranked AS (
    SELECT event_type, hr, value,
           row_number() OVER (PARTITION BY event_type, hr
                              ORDER BY t, event_id)            AS rn_a,
           row_number() OVER (PARTITION BY event_type, hr
                              ORDER BY t DESC, event_id DESC)  AS rn_d
    FROM base
)
SELECT event_type,
       {fmt_hr}                                   AS hour,
       max(CASE WHEN rn_a = 1 THEN value END)     AS open,
       max(value)                                 AS high,
       min(value)                                 AS low,
       max(CASE WHEN rn_d = 1 THEN value END)     AS close,
       CAST(count(*) AS BIGINT)                   AS n
FROM ranked
GROUP BY event_type, hr
"""


_OHLC_DUCK_SQL = _ohlc_sql(
    "CAST(ts AS TIMESTAMP)", "strftime(hr, '%Y-%m-%d %H:%M:%S')"
)


@register("events_ohlc_hourly", oracle=_OHLC_DUCK_SQL)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type (open/high/low/close/count)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_ohlc_sql("ts", "date_format(hr, 'yyyy-MM-dd HH:mm:ss')"))


# ---------------------------------------------------------------------------
# Retention cohort matrix
# ---------------------------------------------------------------------------
# The product-analytics staple: cohort users by first-seen day, then
# count distinct users active at each day offset. Two hash
# aggregations (per-user first day; per (cohort, offset) distinct
# users) — both shuffle user-id-sized relations, never raw events,
# which is the shape that survives a 100 TB event log.


def _retention_sql(ts: str, datediff: str) -> str:
    return f"""
WITH activity AS (
    SELECT DISTINCT user_id, CAST({ts} AS DATE) AS day FROM events
),
cohorts AS (
    SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
)
SELECT CAST(c.cohort_day AS STRING)      AS cohort_day,
       CAST({datediff} AS INT)           AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM activity a JOIN cohorts c ON a.user_id = c.user_id
GROUP BY c.cohort_day, {datediff}
"""


_RETENTION_DUCK_SQL = _retention_sql(
    "CAST(ts AS TIMESTAMP)", "date_diff('day', c.cohort_day, a.day)"
).replace("CAST(c.cohort_day AS STRING)", "CAST(c.cohort_day AS VARCHAR)")


@register("events_retention_cohorts", oracle=_RETENTION_DUCK_SQL)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention matrix: first-seen cohort × day offset × users."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_retention_sql("ts", "datediff(a.day, c.cohort_day)"))


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP)
# ---------------------------------------------------------------------------
# The irregular-sampling average: each observation holds until the
# next one (step interpolation), the last one until the hour closes —
# so a value that persisted 50 minutes outweighs a flurry of 1-second
# ticks, which a plain avg() gets wrong. dt is computed in exact
# integer microseconds; value·dt stays on the 2-decimal grid, so both
# weighted sums go through the order-independent exact-sum path.
#
# Scale: one shuffle on (event_type, hour) serves the lead() and the
# aggregation (same partition keys).


def _twap_sql(ts: str, usec_diff: str, fmt_hr: str) -> str:
    return f"""
WITH base AS (
    SELECT event_type, date_trunc('hour', {ts}) AS hr, {ts} AS t,
           event_id, value
    FROM events
),
stepped AS (
    SELECT event_type, hr, value,
           coalesce(
               lead(t) OVER (PARTITION BY event_type, hr
                             ORDER BY t, event_id),
               hr + INTERVAL 1 HOUR) AS next_t,
           t
    FROM base
),
dts AS (
    SELECT event_type, hr, value, {usec_diff} AS dt_us FROM stepped
)
SELECT event_type,
       {fmt_hr} AS hour,
       CAST(count(*) AS BIGINT) AS n,
       floor((({sql_exact_sum("value * dt_us", 2)})
              / ({sql_exact_sum("CAST(dt_us AS DOUBLE)", 0)})) * 1e6 + 0.5) / 1e6
           AS twap,
       floor(({sql_exact_avg("value", 2)}) * 1e6 + 0.5) / 1e6 AS plain_avg
FROM dts
GROUP BY event_type, hr
"""


_TWAP_DUCK_SQL = _twap_sql(
    "CAST(ts AS TIMESTAMP)",
    "date_diff('microsecond', t, next_t)",
    "strftime(hr, '%Y-%m-%d %H:%M:%S')",
)


@register("events_twap_hourly", oracle=_TWAP_DUCK_SQL)
def events_twap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted average value per event type (vs plain avg)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _twap_sql(
            "ts",
            "timestampdiff(MICROSECOND, t, next_t)",
            "date_format(hr, 'yyyy-MM-dd HH:mm:ss')",
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users (rolling WAU)
# ---------------------------------------------------------------------------
# Sliding-window COUNT DISTINCT cannot use a window frame (distinct is
# not frame-decomposable). A day-spine RANGE join would compile to a
# nested-loop over |activity| × |days| predicate evaluations; the
# scalable form is an EXPLODE: each (user, day) activity row emits the
# 7 spine days it contributes to (a fixed 7× map-side fan-out of the
# user-day relation — never of raw events), a semi-join keeps only
# observed days (spine = days present in activity), and one hash
# aggregation counts distinct users per spine day. No nested loop
# anywhere; every join is an equi-join on day.


def _wau_sql(ts: str, day_add: str, unnest7: str, day_str: str) -> str:
    return f"""
WITH activity AS (
    SELECT DISTINCT user_id, CAST({ts} AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day FROM activity),
expanded AS (
    SELECT a.user_id, {day_add} AS spine_day
    FROM activity a{unnest7}
)
SELECT {day_str} AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS rolling_7d_users
FROM expanded
WHERE spine_day IN (SELECT day FROM days)
GROUP BY spine_day
"""


_WAU_DUCK_SQL = _wau_sql(
    "CAST(ts AS TIMESTAMP)",
    "a.day + CAST(off AS INT)",
    ", UNNEST(generate_series(0, 6)) AS t(off)",
    "CAST(spine_day AS VARCHAR)",
)


@register("events_rolling_wau", oracle=_WAU_DUCK_SQL)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day rolling 7-day distinct active users (explode + equi-join)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _wau_sql(
            "ts",
            "date_add(a.day, off)",
            " LATERAL VIEW explode(sequence(0, 6)) t AS off",
            "CAST(spine_day AS STRING)",
        )
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------
# P(next event type | current type), estimated from every adjacent
# pair in each user's time-ordered stream — the first-order behavioral
# model behind next-action prediction and anomaly scoring (an observed
# transition with near-zero probability is the anomaly). Complements
# events_path_patterns: that one mines the most common session
# openings; this one is the full conditional distribution.
#
# Scale: one shuffle on user_id for the lead(); pair counting then
# aggregates a |types|² relation (trivial). Probabilities divide two
# exact integers — snap only at output.


def _markov_sql(ts: str) -> str:
    return f"""
WITH ordered AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY {ts}, event_id) AS next_type
    FROM events
),
counts AS (
    SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
    FROM ordered
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
totals AS (
    SELECT from_type, sum(n) AS tot FROM counts GROUP BY from_type
)
SELECT c.from_type, c.to_type,
       CAST(c.n AS BIGINT) AS n,
       floor((CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE)) * 1e6 + 0.5) / 1e6
           AS p
FROM counts c JOIN totals t ON c.from_type = t.from_type
"""


@register("events_markov_transitions", oracle=_markov_sql("CAST(ts AS TIMESTAMP)"))
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (counts + probabilities)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_markov_sql("ts"))


# ---------------------------------------------------------------------------
# Funnel conversion-timing percentiles
# ---------------------------------------------------------------------------
# events_funnel_conversion counts WHO converts; this measures HOW FAST:
# per converting user, seconds from first view to first purchase (after
# the view), summarized as interpolated percentiles. Time deltas are
# exact integer seconds; the percentile interpolation is the proven
# Spark percentile ≡ DuckDB quantile_cont pairing, snapped at output.
# Scale: one user_id aggregation (chained conditional mins — no joins),
# then a single small summary row.


def _funnel_timing_sql(ts: str, sec_diff: str, q: str) -> str:
    def pc(p: str, alias: str) -> str:
        return (
            f"floor(({q}(secs, {p})) * 1e4 + 0.5) / 1e4 AS {alias}"
        )

    return f"""
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN {ts} END) AS t_view,
           min(CASE WHEN event_type = 'purchase' THEN {ts} END) AS t_buy
    FROM events
    GROUP BY user_id
),
conv AS (
    SELECT {sec_diff} AS secs
    FROM firsts
    WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_view
)
SELECT CAST(count(*) AS BIGINT) AS n_converters,
       {pc("0.50", "p50_secs")},
       {pc("0.90", "p90_secs")},
       {pc("0.99", "p99_secs")},
       CAST(max(secs) AS BIGINT) AS max_secs
FROM conv
"""


# NOTE seconds derive from the exact microsecond delta floored on BOTH
# engines: Spark's timestampdiff(SECOND) floors the true delta while
# DuckDB's date_diff('second') counts boundary CROSSINGS — one second
# apart whenever the endpoints' sub-second parts straddle a boundary.
_FUNNEL_TIMING_DUCK = _funnel_timing_sql(
    "CAST(ts AS TIMESTAMP)",
    "date_diff('microsecond', t_view, t_buy) // 1000000",
    "quantile_cont",
)


@register("events_funnel_timing", oracle=_FUNNEL_TIMING_DUCK)
def events_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view → first-purchase latency percentiles for converters."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _funnel_timing_sql(
            "ts",
            "timestampdiff(MICROSECOND, t_view, t_buy) div 1000000",
            "percentile",
        )
    )


# ---------------------------------------------------------------------------
# DAU / MAU stickiness (the engagement ratio)
# ---------------------------------------------------------------------------
# Stickiness = DAU / rolling-28-day MAU per day — "what fraction of
# the monthly audience shows up today". Same explode-not-range-join
# shape as events_rolling_wau (28× map-side fan-out of the user-day
# relation, equi-joins only, two hash aggregations); the ratio divides
# two exact integers and snaps at output.


def _stickiness_sql(ts: str, day_add: str, unnest28: str, day_str: str) -> str:
    return f"""
WITH activity AS (
    SELECT DISTINCT user_id, CAST({ts} AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day FROM activity),
dau AS (
    SELECT day, count(DISTINCT user_id) AS dau FROM activity GROUP BY day
),
expanded AS (
    SELECT a.user_id, {day_add} AS spine_day
    FROM activity a{unnest28}
),
mau AS (
    SELECT spine_day, count(DISTINCT user_id) AS mau
    FROM expanded
    WHERE spine_day IN (SELECT day FROM days)
    GROUP BY spine_day
)
SELECT {day_str} AS day,
       CAST(d.dau AS BIGINT) AS dau,
       CAST(m.mau AS BIGINT) AS mau,
       floor((CAST(d.dau AS DOUBLE) / m.mau) * 1e6 + 0.5) / 1e6
           AS stickiness
FROM dau d JOIN mau m ON m.spine_day = d.day
ORDER BY day
"""


_STICKINESS_DUCK_SQL = _stickiness_sql(
    "CAST(ts AS TIMESTAMP)",
    "a.day + CAST(off AS INT)",
    ", UNNEST(generate_series(0, 27)) AS t(off)",
    "CAST(d.day AS VARCHAR)",
)


@register("events_dau_mau_stickiness", oracle=_STICKINESS_DUCK_SQL)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU, rolling-28-day MAU, and the stickiness ratio."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _stickiness_sql(
            "ts",
            "date_add(a.day, off)",
            " LATERAL VIEW explode(sequence(0, 27)) t AS off",
            "CAST(d.day AS STRING)",
        )
    )


# ---------------------------------------------------------------------------
# CEP absence pattern: A → B within T with no C between
# ---------------------------------------------------------------------------
# The complex-event-processing staple MATCH_RECOGNIZE exists for —
# "view converts to a purchase within 24 hours, UNLESS an error
# intervenes" — as three filtered scans and two user-keyed temporal
# predicates: an interval join picks each view's NEXT purchase inside
# the window (min-aggregation, not all pairs), and a correlated NOT
# EXISTS (Spark plans it as a user-keyed anti join) vetoes matches
# with an error strictly between. events_path_patterns pins the
# regex-over-sequence form of CEP; this pins the interval-algebra form.

_CEP_SQL = """
WITH v AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
),
p AS (
    SELECT user_id, ts FROM events WHERE event_type = 'purchase'
),
conv AS (
    SELECT v.user_id, v.event_id, v.ts AS v_ts, min(p.ts) AS p_ts
    FROM v JOIN p ON p.user_id = v.user_id
              AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 24 HOUR
    GROUP BY v.user_id, v.event_id, v.ts
),
judged AS (
    SELECT c.event_id,
           CASE WHEN EXISTS (
               SELECT 1 FROM events e
               WHERE e.user_id = c.user_id AND e.event_type = 'error'
                 AND e.ts > c.v_ts AND e.ts < c.p_ts
           ) THEN 0 ELSE 1 END AS is_clean
    FROM conv c
)
SELECT substr(CAST(v.ts AS STRING), 1, 10) AS day,
       CAST(count(*) AS BIGINT) AS n_views,
       CAST(count(j.event_id) AS BIGINT) AS n_converted,
       CAST(sum(CASE WHEN j.is_clean = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clean,
       CAST(sum(CASE WHEN j.is_clean = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_blocked
FROM v LEFT JOIN judged j ON j.event_id = v.event_id
GROUP BY substr(CAST(v.ts AS STRING), 1, 10)
"""


@register("events_cep_absence_pattern", oracle=_CEP_SQL)
def events_cep_absence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day counts of view→purchase-within-24h conversions, split
    by whether an error event intervened (the CEP absence veto).

    Scale: every temporal predicate rides a user_id equi-key (interval
    join state and the NOT-EXISTS anti join are both user-partitioned);
    the next-purchase pick is a min-aggregation, never an all-pairs
    product.
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(_CEP_SQL)


# ---------------------------------------------------------------------------
# Trajectory similarity search (REPOSE-style top-k, edit distance)
# ---------------------------------------------------------------------------
# Distributed top-k trajectory similarity (cf. REPOSE, ICDE 2021): each
# user's behavior is a path string (event-type initials in strict
# (ts, event_id) order); the query user's path broadcasts and every
# other user scores ONE exact Levenshtein DP against it — linear in
# users, never pairwise, finished by a TakeOrdered top-10. Paths are
# capped at 200 symbols (identical substr both engines) so the
# per-row DP cost is bounded; similarity = 1 − d/max(|a|,|b|) is a
# ratio of exact integers, snapped. Cross-engine levenshtein equality
# is already load-bearing for fuzzy_levenshtein_pairs.

_TRAJ_CAP = 200


def _traj_sql(ordered_agg: str) -> str:
    return f"""
WITH paths AS (
    SELECT user_id,
           substr({ordered_agg}, 1, {_TRAJ_CAP}) AS path
    FROM (SELECT user_id, ts, event_id,
                 substr(event_type, 1, 1) AS sym FROM events) e
    GROUP BY user_id
),
q AS (SELECT min(user_id) AS qu FROM paths),
qp AS (SELECT p.path AS qpath FROM paths p JOIN q ON p.user_id = q.qu),
scored AS (
    SELECT p.user_id,
           CAST(length(p.path) AS BIGINT) AS path_len,
           CAST(levenshtein(p.path, qp.qpath) AS BIGINT) AS edit_dist,
           floor((1e0 - CAST(levenshtein(p.path, qp.qpath) AS DOUBLE)
                  / greatest(length(p.path), length(qp.qpath)))
                 * 1e6 + 0.5) / 1e6 AS similarity
    FROM paths p CROSS JOIN qp CROSS JOIN q
    WHERE p.user_id != q.qu
)
SELECT user_id, path_len, edit_dist, similarity
FROM scored
ORDER BY similarity DESC, user_id
LIMIT 10
"""


@register(
    "events_trajectory_similarity",
    oracle=_traj_sql(
        "string_agg(sym, '' ORDER BY ts, event_id)"
    ),
)
def events_trajectory_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users whose event-type trajectory is closest (edit
    distance) to the query user's — broadcast-one-path scoring, no
    pairwise product."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _traj_sql("listagg(sym, '') WITHIN GROUP (ORDER BY ts, event_id)")
    )


# ---------------------------------------------------------------------------
# Multi-way interval join (view → click ≤1h → purchase ≤24h triples)
# ---------------------------------------------------------------------------
# The three-relation temporal join the multi-way stream-join
# literature optimizes (cf. circular pipelines for multi-way stream
# joins, ICDE 2018): unlike the funnel (min-aggregated) and the CEP
# pattern (first-match), this emits EVERY qualifying (view, click,
# purchase) triple — the cardinality-bearing form whose state sizing
# at 100 TB is the hard part. Both joins ride the user_id equi-key
# (one shuffle partitioning serves the whole chain); the interval
# predicates bound state exactly as watermarks would in streaming.
# Latency stats stay integer microseconds until one snapped ratio.

_THREE_WAY_SQL = """
WITH v AS (
    SELECT user_id, event_id AS vid, ts AS vts FROM events
    WHERE event_type = 'view'
),
c AS (
    SELECT user_id, event_id AS cid, ts AS cts FROM events
    WHERE event_type = 'click'
),
p AS (
    SELECT user_id, event_id AS pid, ts AS pts FROM events
    WHERE event_type = 'purchase'
),
triples AS (
    SELECT v.user_id, v.vts, {us_lat} AS lat_us
    FROM v
    JOIN c ON c.user_id = v.user_id
          AND c.cts > v.vts AND c.cts <= v.vts + INTERVAL 1 HOUR
    JOIN p ON p.user_id = c.user_id
          AND p.pts > c.cts AND p.pts <= c.cts + INTERVAL 24 HOUR
)
SELECT substr(CAST(vts AS STRING), 1, 10) AS day,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       floor((CAST(sum(CAST(floor(lat_us / 60000000) AS BIGINT))
                   AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6
           AS avg_latency_min
FROM triples
GROUP BY substr(CAST(vts AS STRING), 1, 10)
"""


@register(
    "events_three_way_interval_join",
    oracle=_THREE_WAY_SQL.replace(
        "{us_lat}", "date_diff('microsecond', v.vts, p.pts)"
    ),
)
def events_three_way_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day counts and view→purchase latency of every qualifying
    (view, click≤1h, purchase≤24h) triple — the multi-way interval
    join, all legs on one user_id partitioning."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        _THREE_WAY_SQL.replace(
            "{us_lat}", "timestampdiff(MICROSECOND, v.vts, p.pts)"
        )
    )


# ---------------------------------------------------------------------------
# Stationary distribution of the event-type Markov chain
# ---------------------------------------------------------------------------
# Where does the behavioral chain above settle? Three synchronous
# power-iteration rounds π_{k+1}(j) = Σ_i π_k(i)·P(i,j) from the
# uniform start — the long-run occupancy forecast next to the one-step
# matrix of events_markov_transitions. Three rounds is enough to show
# convergence on a 5-state ergodic chain (the pi2→pi3 delta column IS
# the convergence gauge).
#
# Determinism (the PageRank discipline): P snaps to the 1e-9 grid
# once; each round's contributions snap at 1e-12 and exact-sum, and π
# re-snaps to 1e-9 — both engines iterate on identical doubles.
#
# Scale: the corpus-sized work is the one lead() pass building the
# |types|² matrix (materialized once — three consumers, Spark inlines
# CTEs); the iterations are joins over ≤25 rows.

_MKV_MAT_SQL = """
WITH ordered AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS next_type
    FROM events
),
counts AS (
    SELECT event_type AS f, next_type AS t2, count(*) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
totals AS (SELECT f, sum(n) AS tot FROM counts GROUP BY f)
SELECT c.f, c.t2,
       floor((CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE)) * 1e9 + 0.5)
           / 1e9 AS p
FROM counts c JOIN totals t ON c.f = t.f
"""


def _mkv_round(mat: str, prev: str, out: str) -> str:
    contrib = sql_exact_sum(f"{prev}.pi * m.p", 12)
    return f"""
{out} AS (
    SELECT m.t2 AS s,
           floor(({contrib}) * 1e9 + 0.5) / 1e9 AS pi
    FROM {mat} m JOIN {prev} ON {prev}.s = m.f
    GROUP BY m.t2
)"""


def _mkv_tail(mat: str) -> str:
    return f"""
states AS (SELECT DISTINCT f AS s FROM {mat}),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM states),
pi0 AS (
    SELECT s, floor(1e9 / ns.n + 0.5) / 1e9 AS pi
    FROM states CROSS JOIN ns
),
{_mkv_round(mat, "pi0", "pi1").lstrip()},
{_mkv_round(mat, "pi1", "pi2").lstrip()},
{_mkv_round(mat, "pi2", "pi3").lstrip()}
SELECT p3.s AS event_type,
       p1.pi AS pi_round1, p2.pi AS pi_round2, p3.pi AS pi_round3,
       floor(abs(p3.pi - p2.pi) * 1e9 + 0.5) / 1e9 AS delta_23
FROM pi3 p3
JOIN pi2 p2 ON p2.s = p3.s
JOIN pi1 p1 ON p1.s = p3.s
ORDER BY event_type
"""


@register(
    "events_markov_stationary",
    oracle="WITH mkv_mat AS (" + _MKV_MAT_SQL + "),\n"
    + _mkv_tail("mkv_mat").lstrip(),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three power-iteration rounds toward the stationary distribution
    of the event-type Markov chain (uniform start, snapped-grid
    iterates, pi2→pi3 delta as the convergence gauge)."""
    register_views(spark, sf_dir, "events")
    materialize(spark.sql(_MKV_MAT_SQL), "mkv_mat")
    return spark.sql("WITH " + _mkv_tail("mkv_mat").lstrip())


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (absorbing-chain conversion model)
# ---------------------------------------------------------------------------
# The model-based attribution that completes the suite (last-touch,
# multi-touch, Shapley): fit a first-order chain over per-user journeys
# truncated at first purchase (start -> channels -> {purchase, null}),
# then re-run conversion with each channel REMOVED (its inbound edges
# redirected to null); removal effect = 1 - conv_removed/conv_base,
# normalized into attribution shares (Anderl et al.). Absorption is 12
# unrolled vector-matrix rounds with absorbing self-loops — every
# quantity lives on the 1e-6 integer grid (p_u, v_u <= 1e6, per-edge
# products <= 1e12 stay exact in DOUBLE before the snap), so both
# engines run identical integer algebra; the 12-round truncation is the
# documented estimator (identical cross-engine).

_MRE_CHANNELS = ("click", "error", "signup", "view")
_MRE_ROUNDS = 12


def _mre_round(prev: str, out: str) -> str:
    return f"""
{out} AS (
    SELECT m.variant, m.to_s AS state,
           CAST(sum(CAST(floor(CAST(v.v_u AS DOUBLE) * m.p_u / 1e6 + 0.5)
                         AS BIGINT)) AS BIGINT) AS v_u
    FROM {prev} v
    JOIN mat_v m ON m.variant = v.variant AND m.from_s = v.state
    GROUP BY m.variant, m.to_s
)"""


_MRE_VARIANTS = "variants AS ({})".format(" UNION ALL ".join(
    f"SELECT '{v}' AS variant" for v in ("base",) + _MRE_CHANNELS
))


def _mre_mat_v_ctes(ts: str, mat: str = "") -> str:
    """The WITH list up to ``mat_v``: the snapped transition matrix of
    the truncated journeys, one copy per variant with the removed
    channel's inbound edges redirected to null. The only corpus pass.

    ``mat`` goes between ``mat_v AS`` and its body: the oracle passes
    ``"MATERIALIZED "``, because DuckDB otherwise inlines ``mat_v`` into
    all 12 absorption rounds (35-41 s at sf0.01 against 0.4-0.5 s on
    a 4-core host)."""
    return f"""
WITH ordered AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY {ts}, event_id) AS rn
    FROM events
),
fp AS (
    SELECT user_id, min(rn) AS prn FROM ordered
    WHERE event_type = 'purchase' GROUP BY user_id
),
kept AS (
    SELECT o.user_id, o.event_type, o.rn
    FROM ordered o LEFT JOIN fp ON fp.user_id = o.user_id
    WHERE fp.user_id IS NULL OR o.rn <= fp.prn
),
seq AS (
    SELECT user_id, event_type, rn,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY rn)
               AS nxt
    FROM kept
),
trans AS (
    SELECT 'start' AS from_s, event_type AS to_s FROM seq WHERE rn = 1
    UNION ALL
    SELECT event_type, nxt FROM seq WHERE nxt IS NOT NULL
    UNION ALL
    SELECT event_type, 'null' FROM seq
    WHERE nxt IS NULL AND event_type <> 'purchase'
),
cnt AS (
    SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS n
    FROM trans GROUP BY from_s, to_s
),
tot AS (SELECT from_s, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY from_s),
mat AS (
    SELECT c.from_s, c.to_s,
           CAST(floor(CAST(c.n AS DOUBLE) / t.t * 1e6 + 0.5) AS BIGINT)
               AS p_u
    FROM cnt c JOIN tot t ON t.from_s = c.from_s
    UNION ALL SELECT 'purchase', 'purchase', CAST(1000000 AS BIGINT)
    UNION ALL SELECT 'null', 'null', CAST(1000000 AS BIGINT)
),
{_MRE_VARIANTS},
mat_v AS {mat}(
    SELECT v.variant, m.from_s,
           CASE WHEN m.to_s = v.variant THEN 'null' ELSE m.to_s END
               AS to_s,
           CAST(sum(m.p_u) AS BIGINT) AS p_u
    FROM mat m CROSS JOIN variants v
    GROUP BY v.variant, m.from_s,
             CASE WHEN m.to_s = v.variant THEN 'null' ELSE m.to_s END
)"""


def _mre_tail() -> str:
    """The CTEs after ``mat_v`` and the final SELECT: the absorption
    rounds over ``mat_v`` and the removal effects."""
    rounds = ",\n".join(
        _mre_round(f"v{r - 1}", f"v{r}").lstrip()
        for r in range(1, _MRE_ROUNDS + 1)
    )
    return f""",
v0 AS (
    SELECT variant, 'start' AS state, CAST(1000000 AS BIGINT) AS v_u
    FROM variants
),
{rounds},
conv AS (
    SELECT variant, v_u FROM v{_MRE_ROUNDS} WHERE state = 'purchase'
),
base AS (SELECT v_u AS base_u FROM conv WHERE variant = 'base'),
eff AS (
    SELECT c.variant AS channel,
           CAST(b.base_u AS DOUBLE) / 1e6 AS conv_base,
           CAST(c.v_u AS DOUBLE) / 1e6 AS conv_removed,
           floor((1e0 - CAST(c.v_u AS DOUBLE) / b.base_u) * 1e6 + 0.5)
               / 1e6 AS removal_effect
    FROM conv c CROSS JOIN base b WHERE c.variant <> 'base'
),
tot_eff AS (
    SELECT CAST(sum(CAST(floor(removal_effect * 1e6 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e6 AS te
    FROM eff
)
SELECT e.channel, e.conv_base, e.conv_removed, e.removal_effect,
       floor((e.removal_effect / t.te) * 1e6 + 0.5) / 1e6
           AS attribution_share
FROM eff e CROSS JOIN tot_eff t
ORDER BY e.channel
"""


@register(
    "events_markov_removal_attribution",
    oracle=_mre_mat_v_ctes("CAST(ts AS TIMESTAMP)", "MATERIALIZED ") + _mre_tail(),
)
def events_markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov removal-effect channel attribution: absorbing-chain
    conversion probability with each channel knocked out (inbound edges
    to null), removal effects normalized to attribution shares.

    Scale: the corpus passes are the per-user journey window and one
    transition count; all 5 x 12 absorption rounds run on the bounded
    states² matrix relation, materialized once: every round joins it,
    and Spark would inline the corpus pipeline into each.
    """
    register_views(spark, sf_dir, "events")
    materialize(spark.sql(_mre_mat_v_ctes("ts") + "\nSELECT * FROM mat_v"), "mat_v")
    return spark.sql(f"WITH {_MRE_VARIANTS}" + _mre_tail())


# ---------------------------------------------------------------------------
# Entropy rate of the event-type Markov chain
# ---------------------------------------------------------------------------
# The predictability number on top of the chain the two queries above
# build: H = -sum_i pi_i sum_j P(i,j) ln P(i,j) nats/step — how many
# nats the NEXT action carries once you know the current one. Falling
# entropy rate between corpus snapshots = user journeys becoming more
# scripted (or a tracking bug collapsing variety); it is the
# single-number drift gauge for behavioral logs. Reuses the snapped
# transition matrix (_MKV_MAT_SQL) and the three stationary
# power-iteration rounds verbatim; per-row entropies exact-sum snapped
# p*ln(p) terms on the 1e-12 grid, and pi weights come from round 3.
# Everything after the one lead() pass is <=25-row algebra.


def _entropy_rate_tail(mat: str) -> str:
    rowsum = sql_exact_sum("p * ln(p)", 12)
    # p > 0 filter: a transition whose probability snaps to 0 on the
    # 1e-9 grid (count/total < 5e-10 — plausible at the 100 TB design
    # point) would make Spark ln(0) return NULL (term silently dropped)
    # while DuckDB returns -inf and the exact-sum's floor/CAST errors.
    # 0·ln(0) = 0 by convention, so excluding the row is the entropy
    # identity, not an approximation (same zero-sd exclusion discipline
    # as text_burrows_delta). Every observed state keeps >=1 positive p
    # (its row sums to ~1), so no state drops from rowh.
    return f"""
rowh AS (
    SELECT f,
           floor((-1e0 * ({rowsum})) * 1e6 + 0.5) / 1e6 AS h_row
    FROM {mat} WHERE p > 0e0 GROUP BY f
)
SELECT p3.s AS event_type,
       p3.pi AS pi_stationary,
       r.h_row AS row_entropy_nats,
       floor((p3.pi * r.h_row) * 1e6 + 0.5) / 1e6 AS contribution_nats
FROM pi3 p3 JOIN rowh r ON r.f = p3.s
ORDER BY event_type
"""


def _entropy_rate_sql(mat: str) -> str:
    pis = _mkv_tail(mat)
    pis = pis[: pis.index("\nSELECT")]  # keep states/ns/pi0..pi3 CTEs
    return pis + "," + _entropy_rate_tail(mat)


@register(
    "events_markov_entropy_rate",
    oracle="WITH mkv_mat AS (" + _MKV_MAT_SQL + "),\n"
    + _entropy_rate_sql("mkv_mat").lstrip(),
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type chain: per-state conditional
    entropy (nats) and its stationary-weighted contribution — the
    journey-predictability drift gauge."""
    register_views(spark, sf_dir, "events")
    materialize(spark.sql(_MKV_MAT_SQL), "mkv_mat")
    return spark.sql("WITH " + _entropy_rate_sql("mkv_mat").lstrip())
