"""No forced-broadcast hints on scale-growing tables.

customer/supplier/part grow linearly with scale factor. An explicit
``F.broadcast`` hint on them overrides autoBroadcastJoinThreshold, so a
plan that is fast at sf0.1 becomes a multi-GB broadcast (driver OOM /
timeout) at 100 TB, where plain AQE would have picked the identical
broadcast plan at small scale and a shuffle join at large scale.

Detection: with ``autoBroadcastJoinThreshold=-1`` the ONLY broadcasts
left in a plan are hint-driven.  We then assert no BroadcastExchange
subtree contains a raw (un-aggregated) scan of customer/supplier/part,
in the returned plan or in any stage the builder localCheckpointed.
Hints on nation (25 rows) and region (5 rows), the only tables whose
size is fixed at every scale factor, and on derived aggregates
(provably shrunk) remain allowed.
"""

from __future__ import annotations

import pytest

from automated_data_pipeline_python_spark.plans import executed_plan, subtrees
from automated_data_pipeline_python_spark.queries import QUERIES
from tests.conftest import SF_SMOKE, checkpointed_plans

SCALING_TABLES = (
    "customer.parquet",
    "supplier.parquet",
    "part.parquet",
    "orders.parquet",
    "lineitem.parquet",
    "events.parquet",
)

# The relational/TPC-H families are where the star joins live. A few of
# their builders localCheckpoint at build time (at threshold -1:
# dq_key_skew_report, dq_t_closeness, profile_orders_columns,
# q15_top_supplier), so the checkpointed stages are checked too.
FAMILIES = (
    "queries.relational",
    "queries.relational2",
    "queries.relational3",
    "queries.relational4",
    "queries.tpch2",
    "queries.modern_sql",
    "queries.dq",
)


# Spark plans NOT IN (null-aware anti join) ONLY as a broadcast — the
# BroadcastExchange there is a planner necessity, not a hint (verified:
# it survives threshold=-1 even with no hint in the code). q16's
# docstring documents the NOT EXISTS rewrite as the at-scale fallback.
NAAJ_BROADCAST_ONLY = {"q16_part_supplier_relation"}


def _family_queries():
    return sorted(
        name
        for name, q in QUERIES.items()
        if any(q.fn.__module__.endswith(f) for f in FAMILIES)
        and name not in NAAJ_BROADCAST_ONLY
    )


@pytest.mark.parametrize("name", _family_queries())
def test_no_hinted_broadcast_of_scaling_tables(spark, name):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with checkpointed_plans() as staged:
            final = executed_plan(QUERIES[name].fn(spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    for plan in (final, *staged):
        for sub in subtrees(plan, "BroadcastExchange"):
            for table in SCALING_TABLES:
                if table in sub and "Aggregate" not in sub:
                    pytest.fail(
                        f"{name}: hinted broadcast of scale-growing {table} "
                        f"(survives autoBroadcastJoinThreshold=-1):\n{sub}"
                    )
