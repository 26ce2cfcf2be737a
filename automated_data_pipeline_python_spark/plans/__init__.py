"""Physical-plan introspection (the engine's performance guardrails)."""

from automated_data_pipeline_python_spark.plans.inspect import (  # noqa: F401
    PlanReport,
    executed_plan,
    has_single_partition_window,
    plan_report,
    subtrees,
)
