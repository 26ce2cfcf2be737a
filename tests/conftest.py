"""Shared pytest fixtures: one SparkSession per test session, and one
plan sweep over the whole query catalog."""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager
from dataclasses import dataclass

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from automated_data_pipeline_python_spark.plans import (  # noqa: E402
    PlanReport,
    executed_plan,
    plan_report,
)
from automated_data_pipeline_python_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        app_name="pytest",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("TEST_SF_DIR", SF_CORRECT)


@contextmanager
def checkpointed_plans():
    """Yield a list that collects the executed-plan text of every
    DataFrame localCheckpointed inside the block.

    Builders that checkpoint eagerly hide the materialized stage from
    the plan they return (it shows as a bare ``LogicalRDD`` scan); this
    is how the plan guardrails see inside those stages.
    """
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    captured: list[str] = []
    orig = ClassicDF.localCheckpoint

    def spy(self, *args, **kwargs):
        captured.append(executed_plan(self))
        return orig(self, *args, **kwargs)

    ClassicDF.localCheckpoint = spy
    try:
        yield captured
    finally:
        ClassicDF.localCheckpoint = orig


@dataclass(frozen=True)
class CatalogPlan:
    final: str  # executed-plan text of the DataFrame the builder returns
    checkpoints: tuple[str, ...]  # plan text of each stage it checkpointed
    report: PlanReport  # plan_report of the returned DataFrame


@pytest.fixture(scope="session")
def catalog_plans(spark) -> dict[str, CatalogPlan]:
    """Every registered query built once at sf0.01, as plan text only.

    No DataFrame is kept: a live frame keeps its checkpoint blocks
    reachable for the rest of the session.
    """
    from automated_data_pipeline_python_spark.queries import QUERIES

    plans = {}
    for name, q in QUERIES.items():
        with checkpointed_plans() as staged:
            rep = plan_report(q.fn(spark, SF_CORRECT))
        plans[name] = CatalogPlan(rep.text, tuple(staged), rep)
    return plans
