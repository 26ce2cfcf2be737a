"""Generate PLANS.md: executed-plan facts for the FULL catalog.

Run: ``python tools/gen_plans.py`` (rewrites PLANS.md). This is the
"explain and iterate" artifact — reviewers see the physical shape each
query actually executes with, and tests/test_plans.py pins the
load-bearing properties so they can't regress silently.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from automated_data_pipeline_python_spark.plans import plan_report  # noqa: E402
from automated_data_pipeline_python_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# Every registered query gets a plan row — enumerated from the live
# registry (priority-window order first, then registration order) so a
# new registration can never silently miss PLANS.md. Exclusion rule:
# none; rows-only queries plan like any other.
def query_set():
    from automated_data_pipeline_python_spark.queries import QUERIES

    return list(QUERIES)


def main() -> None:
    spark = get_spark(app_name="gen-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    from automated_data_pipeline_python_spark.queries import QUERIES

    lines = [
        "# PLANS — executed physical-plan facts (generated)",
        "",
        f"Generated by `tools/gen_plans.py` at sf0.01 on local[4]; the",
        "load-bearing properties are pinned by `tests/test_plans.py`.",
        "",
        "| query | scans | pushed-filter scans | exchanges | broadcast joins | sort-merge joins | python stages | codegen spans |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in query_set():
        df = QUERIES[name].fn(spark, SF)
        df.collect()  # materialize the final AQE plan (incl. codegen markers)
        r = plan_report(df)
        lines.append(
            f"| {name} | {r.scans} | {r.scans_with_pushed_filters} | "
            f"{r.exchanges} | {r.broadcast_joins} | {r.sort_merge_joins} | "
            f"{r.python_evals} | {r.codegen_spans} |"
        )
    lines += [
        "",
        "Reading guide:",
        "- *pushed-filter scans*: predicates reached the parquet reader",
        "  (`PushedFilters`) — no full-scan-then-filter.",
        "- *scans = 0 is not \"no read\"*: queries that eagerly",
        "  materialize a shared subtree via `localCheckpoint` (the",
        "  dedup/ANN/LM families) carry their parquet scans inside the",
        "  checkpointed stage, which the returned plan no longer shows —",
        "  those stages are recorded by the localCheckpoint spy of the",
        "  `catalog_plans` sweep (tests/conftest.py).",
        "- *exchanges*: shuffles in the executed plan (post-AQE; reused",
        "  exchanges excluded). Star joins show low counts because every",
        "  dimension broadcasts.",
        "- *not reproducible*: each row is read after its query runs, so",
        "  it records AQE's run-time choices. Exchange, join and codegen",
        "  counts can differ between two generation runs of one tree (two",
        "  sf0.01 runs differed in 6 rows; one query planned 3 broadcast +",
        "  0 sort-merge joins in some runs and 2 + 1 in others). Read it as",
        "  one run's census, not a pin: tests/test_plans.py asserts most",
        "  shapes on the plans as built, before they execute.",
        "- *python stages*: Arrow-batched Python boundaries. Only the",
        "  as-of join carries one — everything else is JVM/codegen.",
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
