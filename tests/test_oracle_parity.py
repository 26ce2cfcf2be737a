"""Every catalog query with an oracle matches DuckDB at sf0.01.

This mirrors the driver's t2 correctness gate. The Spark side is the
session's one catalog sweep (`catalog_plans` in tests/conftest.py),
which built and collected every query once; these tests build nothing.
"""

from __future__ import annotations

import pytest

from automated_data_pipeline_python_spark.queries import QUERIES
from tests.conftest import SF_CORRECT
from tools.verify_driver import duckdb_conn, oracle_mismatch

WITH_ORACLE = sorted(name for name, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY = sorted(name for name, q in QUERIES.items() if q.oracle is None)


@pytest.fixture(scope="module")
def oracle():
    con = duckdb_conn(SF_CORRECT)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_matches_duckdb(name, catalog_plans, oracle):
    run = catalog_plans[name]
    diff = oracle_mismatch(run.columns, run.rows, oracle, QUERIES[name].oracle)
    assert diff is None, f"{name}: {diff}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(name, catalog_plans):
    # columns is set only once the collect succeeded; reading it raises
    # what the sweep's build or collect raised.
    assert len(catalog_plans[name].columns) > 0


def test_no_engine_dependent_round_in_any_oracle():
    """CLAUDE.md invariant, enforced mechanically: no oracle may call
    SQL round() — engines disagree near .xx5 boundaries; the portable
    form is floor(x*1eD + 0.5)/1eD. (VARCHAR casts are NOT checked:
    oracles are DuckDB-only text, where VARCHAR is legal.)"""
    import re

    offenders = [
        name
        for name, q in QUERIES.items()
        if q.oracle and re.search(r"(?<![a-z_])round\s*\(", q.oracle, re.I)
    ]
    assert offenders == []
