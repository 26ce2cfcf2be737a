"""Time-series family: behaviors the sf0.01 oracle replay can't cover.

The recursion-depth test matters at scale: Spark's default
cteRecursionLevelLimit (100) silently bounds the EWMA/CUSUM series
length at ~3 months of days; the operators raise the limit themselves
(vanilla driver session — no pre-configured conf to lean on), and this
test proves a year-plus series works end-to-end and still matches the
DuckDB oracle on the same long corpus.
"""

from __future__ import annotations

import datetime

import duckdb
import pandas as pd
import pytest

from automated_data_pipeline_python_spark.queries import QUERIES
from tests.oracle import assert_matches_oracle


@pytest.fixture(scope="module")
def long_events_dir(tmp_path_factory):
    """150 daily events per type — deterministic, no randomness. 150 >
    the default 100-level recursion limit, which is the failure this
    test pins (each recursion level is its own Spark job, so the day
    count is also the test-runtime knob)."""
    base = tmp_path_factory.mktemp("long_events")
    rows = []
    eid = 0
    t0 = datetime.datetime(2020, 1, 1)
    for day in range(150):
        for j, etype in enumerate(["view", "click", "purchase"]):
            # varying per-day count: 1 + ((day*7 + j) % 5) events
            for k in range(1 + (day * 7 + j) % 5):
                rows.append(
                    {
                        "event_id": eid,
                        "ts": t0
                        + datetime.timedelta(days=day, minutes=10 * k + j),
                        "user_id": (eid * 13) % 50,
                        "event_type": etype,
                        "value": float(k),
                        "props": "{}",
                    }
                )
                eid += 1
    df = pd.DataFrame(rows)
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    df.to_parquet(base / "events.parquet", index=False)
    return str(base)


@pytest.mark.parametrize(
    "name", ["events_ewma_daily", "events_cusum_changepoints"]
)
def test_recursive_series_survives_400_days(name, spark, long_events_dir):
    q = QUERIES[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{long_events_dir}/events.parquet'"
    )
    df = q.fn(spark, long_events_dir)
    rows = assert_matches_oracle(df, con, q.oracle, name=name)
    assert len(rows) == 150 * 3


def test_bitmap_retention_invariants(spark):
    """retained ⊆ active per week; rates inside [0, 1]."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["events_bitmap_retention"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.retained_next <= r.active_users, r
        assert 0.0 <= r.retention_rate <= 1.0, r


def test_pareto_lorenz_invariants(spark):
    """Lorenz curve is monotone, ends at 1, and Gini lands in [0, 1]."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = sorted(
        QUERIES["orders_pareto_concentration"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.bucket,
    )
    assert rows
    prev_pop = prev_rev = 0.0
    for r in rows:
        assert r.cum_pop_share >= prev_pop - 1e-9, r
        assert r.cum_rev_share >= prev_rev - 1e-9, r
        prev_pop, prev_rev = r.cum_pop_share, r.cum_rev_share
    assert abs(rows[-1].cum_pop_share - 1.0) < 1e-6
    assert abs(rows[-1].cum_rev_share - 1.0) < 1e-6
    assert 0.0 <= rows[0].gini <= 1.0


def test_forecast_backtest_invariants(spark):
    """Errors are non-negative and finite for every type."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["events_forecast_backtest"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.mae >= 0 and r.mape >= 0, r
        assert r.n_forecasts > 0, r


def test_multi_touch_attribution_conserves_value(spark):
    """Attributed value (linear and decay) must each sum to the total
    purchase value of journeys that HAVE at least one prior touch —
    attribution redistributes, it never mints or burns revenue."""
    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.tables import load
    from tests.conftest import SF_SMOKE

    rows = QUERIES["events_multi_touch_attribution"].fn(spark, SF_SMOKE).collect()
    linear_total = sum(r.linear_value for r in rows)
    decay_total = sum(r.decay_value for r in rows)
    n_pairs = sum(r.n_touches for r in rows)

    # Independent expected total: purchase value of every purchase with
    # >= 1 prior touch in ITS journey (same gap-free journey rule).
    load(spark, SF_SMOKE, "events").createOrReplaceTempView("mta_check_events")
    expected = spark.sql("""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type, value,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS j
            FROM mta_check_events
        )
        SELECT sum(p.value) AS total
        FROM (SELECT user_id, coalesce(j, 0) AS j, ts, value
              FROM seq WHERE event_type = 'purchase') p
        WHERE EXISTS (
            SELECT 1 FROM (SELECT user_id, coalesce(j, 0) AS j, ts
                           FROM seq WHERE event_type != 'purchase') t
            WHERE t.user_id = p.user_id AND t.j = p.j AND t.ts <= p.ts
        )
    """).collect()[0].total
    spark.catalog.dropTempView("mta_check_events")

    # per-pair contributions snap at 1e-6 → totals match the exact
    # value to pair-count × snap resolution
    tol = max(1e-3, n_pairs * 1e-6)
    assert abs(linear_total - expected) < tol, (linear_total, expected)
    assert abs(decay_total - expected) < tol, (decay_total, expected)
