"""Structural pin for the drift/changepoint shared-SQL discipline.

Each monitor-style catalog query is its count grid followed by a
{placeholder}-parameterized report template. These tests pin that the
catalog SQL IS the template applied to its grid, so a future edit
cannot quietly fork the algebra into hand-edited copies (the failure
mode the round-7 string-surgery refactor removed). Pure string checks —
no Spark session needed.
"""

from __future__ import annotations


def test_ks_catalog_sql_is_the_template():
    from automated_data_pipeline_python_spark.queries.drift import (
        _KS_SQL,
        _KS_TAIL,
    )

    assert "{grid}" in _KS_TAIL
    assert _KS_SQL.endswith(_KS_TAIL.format(grid="grid"))


def test_w1_catalog_sql_is_the_template():
    from automated_data_pipeline_python_spark.queries.drift import (
        _W1_TAIL,
        _WASSERSTEIN_SQL,
    )

    assert "{grid}" in _W1_TAIL
    assert _WASSERSTEIN_SQL.endswith(_W1_TAIL.format(grid="grid"))


def test_cusum_catalog_sql_is_the_template():
    from automated_data_pipeline_python_spark.queries.timeseries import (
        _CUSUM_SQL,
        _CUSUM_TAIL,
    )

    assert "{daily}" in _CUSUM_TAIL
    assert _CUSUM_SQL.endswith(_CUSUM_TAIL.format(daily="daily"))


def test_page_hinkley_catalog_sql_is_the_template():
    from automated_data_pipeline_python_spark.queries.timeseries import (
        _ph_sql,
        _ph_tail,
    )

    fmt = "date_format(d, 'yyyy-MM-dd')"
    assert "{daily}" in _ph_tail(fmt)
    assert _ph_sql(fmt).endswith(_ph_tail(fmt).format(daily="daily"))


def test_doremi_catalog_sql_embeds_the_report_template():
    from automated_data_pipeline_python_spark.queries.curation3 import (
        _DOREMI_REPORT_TAIL,
        _DOREMI_TAIL,
    )

    assert "{per_source}" in _DOREMI_REPORT_TAIL
    assert _DOREMI_REPORT_TAIL.format(per_source="per_source") in _DOREMI_TAIL


def test_psi_monitor_reuses_catalog_tail():
    from automated_data_pipeline_python_spark.queries.drift import _PSI_TAIL

    assert "{spine}" in _PSI_TAIL and "{cells}" in _PSI_TAIL


def test_centroid_drift_catalog_sql_is_the_template():
    from automated_data_pipeline_python_spark.queries.similarity import (
        _CENTROID_DRIFT_SPARK_SQL,
        _CENTROID_DRIFT_DUCK_SQL,
        _centroid_tail,
    )

    tail = _centroid_tail()
    assert "{sums}" in tail
    assert _CENTROID_DRIFT_SPARK_SQL.endswith(tail.format(sums="sums"))
    assert _CENTROID_DRIFT_DUCK_SQL.endswith(tail.format(sums="sums"))


def test_slo_burn_catalog_sql_is_the_template():
    from automated_data_pipeline_python_spark.queries.timeseries import (
        _slo_sql,
        _slo_tail,
    )

    gap = "datediff(a.d, b.d)"
    assert "{daily}" in _slo_tail(gap)
    assert _slo_sql(gap).endswith(_slo_tail(gap).format(daily="daily"))
