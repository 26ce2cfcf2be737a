"""Property-based tests (hypothesis) for parity-critical helpers.

These pin the *cross-engine determinism* properties the oracle gate
depends on — checked against DuckDB directly, over generated inputs
rather than the fixed corpus.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from automated_data_pipeline_python_spark.functions.numeric import sql_stable_round


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


class TestStableRound:
    @given(
        x=st.floats(
            min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
        ),
        d=st.integers(min_value=0, max_value=6),
    )
    @settings(max_examples=200, deadline=None)
    def test_python_floor_model_matches_duckdb(self, x, d, duck):
        # The SQL fragment must compute exactly floor(x*10^d + 0.5)/10^d
        # under IEEE doubles — the same model Python implements. Bind x
        # as a parameter: the fragment's contract is over DOUBLE
        # expressions (columns), and a bare decimal literal would parse
        # as DECIMAL in DuckDB, whose DECIMAL->DOUBLE cast double-rounds
        # once the unscaled integer exceeds 2^53.
        expected = math.floor(x * float(10**d) + 0.5) / float(10**d)
        got = duck.execute(
            f"SELECT {sql_stable_round('?::DOUBLE', d)}", [x]
        ).fetchone()[0]
        assert got == expected

    @given(n=st.integers(min_value=-1000, max_value=1000))
    @settings(max_examples=50, deadline=None)
    def test_exact_half_rounds_up(self, n, duck):
        # n + 0.5 is exactly representable, so at d=0 the half must round
        # toward +inf (never banker's rounding) — in both engines' model.
        x = n + 0.5
        got = duck.execute(f"SELECT {sql_stable_round(str(x), 0)}").fetchone()[0]
        assert got == n + 1


class TestPortableHash:
    @given(s=st.text(min_size=0, max_size=40))
    @settings(max_examples=100, deadline=None)
    def test_hash60_parity_python_vs_duckdb(self, s, duck):
        # Python reference model of the shared hash primitive; Spark-side
        # parity is exercised by every oracle query in the suite.
        import hashlib

        expected = int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:15], 16)
        got = duck.execute(
            "SELECT CAST('0x' || substr(sha256(?), 1, 15) AS BIGINT)", [s]
        ).fetchone()[0]
        assert got == expected
        assert 0 <= got < 2**60


# ---------------------------------------------------------------------------
# Closed-form OLS: exact recovery on noise-free data
# ---------------------------------------------------------------------------
# Construct revenue = 1 + 2*qty + 4*disc EXACTLY in doubles: discounts
# in {0, 0.5} make (1 - d) a power of two, so extendedprice = y/(1-d)
# is exact, and every grid snap inside sql_exact_sum is lossless. The
# normal-equation solve must then return the true coefficients to the
# output grid, with R^2 == 1.


def test_ols_two_factor_recovers_exact_coefficients(spark):
    from automated_data_pipeline_python_spark.queries.relational4 import _ols2_sql

    rows = []
    for q in range(1, 13):
        for d in (0.0, 0.5):
            y = 1.0 + 2.0 * q + 4.0 * d
            rows.append((float(q), d, y / (1.0 - d) if d else y))
    spark.createDataFrame(
        rows, "l_quantity double, l_discount double, l_extendedprice double"
    ).createOrReplaceTempView("ols_synth")
    got = spark.sql(_ols2_sql("ols_synth")).collect()[0]
    assert got["n_rows"] == 24
    assert got["beta_intercept"] == pytest.approx(1.0, abs=1e-4)
    assert got["beta_quantity"] == pytest.approx(2.0, abs=1e-4)
    assert got["beta_discount"] == pytest.approx(4.0, abs=1e-4)
    assert got["r2"] == pytest.approx(1.0, abs=1e-6)
