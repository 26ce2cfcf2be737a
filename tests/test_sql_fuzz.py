"""Cross-engine SQL fuzz: generated common-subset queries must agree.

SQLancer-style differential testing scoped to the dialect subset both
engines define identically (comparisons, boolean logic, CASE,
least/greatest, abs, +/-/*, BIGINT-snapped SUM, min/max, count):
hypothesis composes a random filter + aggregate over ``lineitem`` and
the SAME SQL text runs on Spark and DuckDB. Any disagreement is an
engine-semantics divergence the oracle queries could silently trip on.

Determinism rules baked into the grammar (the repo invariants):
- SUM only over ``CAST(floor(x * 100 + 0.5) AS BIGINT)`` (integer sums
  are order-independent; raw double sums are NOT comparable),
- the outer CAST(sum(...) AS BIGINT) neutralizes DuckDB's HUGEINT,
- no division (0-divisor semantics differ), no round() (tie-breaking
  differs), no string functions beyond LIKE on ASCII data.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tools.verify_driver import rows_canon

SF = "/root/testdata/sf0.001"

NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
INT_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
STR_COLS = ["l_returnflag", "l_linestatus"]
KEYS = ["l_returnflag", "l_linestatus"]

num_col = st.sampled_from(NUM_COLS)
int_col = st.sampled_from(INT_COLS)


@st.composite
def numeric_expr(draw, depth: int = 0):
    if depth >= 2 or draw(st.booleans()):
        return draw(num_col)
    op = draw(st.sampled_from(["+", "-", "*"]))
    a = draw(numeric_expr(depth=depth + 1))
    b = draw(numeric_expr(depth=depth + 1))
    fn = draw(st.sampled_from(["", "abs", "least", "greatest"]))
    if fn == "abs":
        return f"abs(({a} {op} {b}))"
    if fn in ("least", "greatest"):
        return f"{fn}({a}, {b})"
    return f"({a} {op} {b})"


@st.composite
def predicate(draw, depth: int = 0):
    kind = draw(
        st.sampled_from(["cmp", "between", "in", "like", "bool", "case"])
    )
    if kind == "bool" and depth < 2:
        op = draw(st.sampled_from(["AND", "OR"]))
        a = draw(predicate(depth=depth + 1))
        b = draw(predicate(depth=depth + 1))
        neg = "NOT " if draw(st.booleans()) else ""
        return f"{neg}(({a}) {op} ({b}))"
    if kind == "between":
        c = draw(int_col)
        lo = draw(st.integers(0, 3000))
        return f"{c} BETWEEN {lo} AND {lo + draw(st.integers(0, 3000))}"
    if kind == "in":
        c = draw(st.sampled_from(STR_COLS))
        vals = draw(
            st.lists(st.sampled_from("AFNOR"), min_size=1, max_size=3)
        )
        lit = ", ".join(f"'{v}'" for v in vals)
        return f"{c} IN ({lit})"
    if kind == "like":
        c = draw(st.sampled_from(STR_COLS))
        pat = draw(st.sampled_from(["%A%", "N%", "%F", "_"]))
        return f"{c} LIKE '{pat}'"
    if kind == "case":
        e = draw(numeric_expr())
        thr = draw(st.integers(0, 100))
        return (
            f"CASE WHEN {e} > {thr} THEN 1 ELSE 0 END"
            f" = {draw(st.sampled_from([0, 1]))}"
        )
    e = draw(numeric_expr())
    op = draw(st.sampled_from(["<", "<=", ">", ">=", "=", "!="]))
    thr = draw(st.integers(-10, 5000))
    return f"{e} {op} {thr}"


@st.composite
def aggregate(draw):
    kind = draw(st.sampled_from(["count", "sumsnap", "minmax_num", "minmax_str"]))
    if kind == "count":
        return "CAST(count(*) AS BIGINT) AS agg"
    if kind == "sumsnap":
        e = draw(numeric_expr())
        return (
            f"CAST(sum(CAST(floor(({e}) * 100 + 0.5) AS BIGINT))"
            " AS BIGINT) AS agg"
        )
    if kind == "minmax_num":
        fn = draw(st.sampled_from(["min", "max"]))
        return f"{fn}({draw(numeric_expr())}) AS agg"
    fn = draw(st.sampled_from(["min", "max"]))
    return f"{fn}({draw(st.sampled_from(STR_COLS))}) AS agg"


@st.composite
def query(draw):
    pred = draw(predicate())
    agg = draw(aggregate())
    key = draw(st.sampled_from(KEYS + [None]))
    if key is None:
        return f"SELECT {agg} FROM lineitem WHERE {pred}"
    return (
        f"SELECT {key}, {agg} FROM lineitem WHERE {pred} GROUP BY {key}"
    )


@pytest.fixture(scope="module")
def engines(spark):
    from automated_data_pipeline_python_spark.tables import load

    li = load(spark, SF, "lineitem")
    li.cache().createOrReplaceTempView("lineitem")
    li.count()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF}/lineitem.parquet'"
    )
    yield spark, con
    con.close()
    li.unpersist()


@settings(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(sql=query())
def test_generated_sql_agrees_across_engines(engines, sql):
    spark, con = engines
    sdf = spark.sql(sql)
    got = rows_canon(sdf.columns, sdf.collect())
    cur = con.execute(sql)
    want = rows_canon([d[0] for d in cur.description], cur.fetchall())
    assert got == want, sql
