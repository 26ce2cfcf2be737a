"""Physical-plan report: the facts that matter at 100 TB, as data.

``plan_report(df)`` parses ``df.explain``'s formatted output into
counts a test can assert on: shuffles (Exchange), broadcast joins,
sort-merge joins, scans with pushed filters, Python UDF boundaries,
whole-stage-codegen coverage. tests/test_plans.py uses this to pin the
intended execution shape of headline queries — a regression here means
a silent 100×-at-scale slowdown even when results stay correct.

The tree helpers below (``subtrees``, ``has_single_partition_window``)
walk the same printed plan text by indentation; they are the only plan
walkers in the repository.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class PlanReport:
    exchanges: int = 0
    broadcast_joins: int = 0
    sort_merge_joins: int = 0
    scans: int = 0
    scans_with_pushed_filters: int = 0
    python_evals: int = 0  # BatchEvalPython / ArrowEval / FlatMap*Pandas
    codegen_spans: int = 0
    text: str = field(default="", repr=False)

    @property
    def python_free(self) -> bool:
        return self.python_evals == 0


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan of ``df`` as printed tree text."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_report(df: DataFrame) -> PlanReport:
    text = executed_plan(df)
    # After execution AQE prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — count only the final one.
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    rep = PlanReport(text=text)
    for line in text.splitlines():
        if re.search(r"\bExchange\b", line) and "Reused" not in line:
            rep.exchanges += 1
        if "BroadcastHashJoin" in line or "BroadcastNestedLoopJoin" in line:
            rep.broadcast_joins += 1
        if "SortMergeJoin" in line:
            rep.sort_merge_joins += 1
        if "Scan parquet" in line or "FileScan parquet" in line:
            rep.scans += 1
            m = re.search(r"DataFilters: \[([^\]]*)\]", line)
            if m and m.group(1).strip():
                rep.scans_with_pushed_filters += 1
        if re.search(r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInPandas", line):
            rep.python_evals += 1
        # codegen shows as "WholeStageCodegen (n)" in formatted explain
        # and as "*(n) Operator" markers in the executed plan tree
        if "WholeStageCodegen" in line or re.search(r"\*\(\d+\)", line):
            rep.codegen_spans += 1
    return rep


def _indent(line: str) -> int:
    """Tree depth proxy: column where the node name starts."""
    m = re.match(r"[\s:+\-*()0-9]*", line)
    return m.end() if m else 0


def subtrees(plan_text: str, node: str) -> list[str]:
    """The text below each line of ``plan_text`` that contains ``node``
    (its children, up to the next line at the same or lower depth)."""
    lines = plan_text.splitlines()
    out = []
    for i, line in enumerate(lines):
        if node not in line:
            continue
        depth = _indent(line)
        sub = []
        for nxt in lines[i + 1 :]:
            if nxt.strip() and _indent(nxt) <= depth:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


_UNARY = re.compile(
    r"^(\*\(\d+\)\s*)?(Sort|WindowGroupLimit|InputAdapter|"
    r"WholeStageCodegen|Project|Filter|ColumnarToRow)\b"
)


def has_single_partition_window(plan_text: str) -> bool:
    """True if a Window node's own input spine is single-partitioned.

    A Window fed by ``Exchange SinglePartition`` moves its whole input
    through one task. The window's required distribution is installed
    by the FIRST Exchange on its unary input chain (through Sort/
    WindowGroupLimit/codegen wrappers). A SinglePartition exchange
    elsewhere in the subtree (e.g. a scalar aggregate cross-joined
    below) is some other operator's requirement, not the window's —
    walking the whole subtree false-positives on those.
    """
    lines = plan_text.splitlines()
    for i, line in enumerate(lines):
        s = line.strip()
        if not (s.startswith("Window") or " Window " in line):
            continue
        depth = _indent(line)
        spine_ok = True
        for nxt in lines[i + 1 :]:
            if nxt.strip() and _indent(nxt) <= depth:
                break
            body = nxt.strip().lstrip(":+- ")
            if not body:
                continue
            if "Exchange" in body:
                if spine_ok and "Exchange SinglePartition" in body:
                    return True
                break
            if not _UNARY.match(body):
                spine_ok = False
    return False
