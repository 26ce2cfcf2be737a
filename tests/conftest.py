"""Shared pytest fixtures: one SparkSession per test session, and one
sweep over the whole query catalog that builds and runs each query once."""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from automated_data_pipeline_python_spark.plans import executed_plan, plan_report  # noqa: E402
from automated_data_pipeline_python_spark.session import get_spark  # noqa: E402
from tools.verify_driver import rows_canon  # noqa: E402

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


class CatalogRun:
    """One registered query as the catalog sweep saw it.

    - ``final``: executed-plan text of the DataFrame the builder returns;
    - ``checkpoints``: plan text of each stage the build checkpointed;
    - ``report``: ``plan_report`` of the returned DataFrame;
    - ``columns``, ``rows``: the collected result's column names and its
      ``tools/verify_driver.rows_canon`` rows.

    A field the sweep could not fill, because the build or the collect
    raised, raises on read, naming the query and chaining the exception.
    """

    def __init__(self, name: str) -> None:
        self.name = name
        self.error: Exception | None = None

    def __getattr__(self, attr: str):
        # Reached only for fields that were never set.
        if vars(self).get("error") is None:
            raise AttributeError(attr)
        raise RuntimeError(f"{self.name}: the catalog sweep raised {self.error!r}") from self.error


def _sweep_one(spark, name: str, fn) -> CatalogRun:
    run = CatalogRun(name)
    try:
        with checkpointed_plans() as staged:
            df = fn(spark, SF_CORRECT)
            rep = plan_report(df)
        run.final, run.checkpoints, run.report = rep.text, tuple(staged), rep
        run.rows = rows_canon(df.columns, df.collect())
        run.columns = tuple(df.columns)
    except Exception as exc:  # noqa: BLE001 - kept, raised when read
        run.error = exc
    return run


@pytest.fixture(scope="session")
def catalog_plans(spark) -> dict[str, CatalogRun]:
    """Every registered query built once at sf0.01, its plan recorded
    before any action runs, then its result collected once.

    The plan guardrails and the oracle parity tests all read this. Only
    strings are kept, no DataFrame: a live frame keeps its checkpoint
    blocks reachable for the rest of the session. A query whose build
    or collect raises does not stop the sweep (see ``CatalogRun``).
    """
    from automated_data_pipeline_python_spark.queries import QUERIES

    return {name: _sweep_one(spark, name, q.fn) for name, q in QUERIES.items()}
