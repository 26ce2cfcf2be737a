"""No driver-side collection in any query module.

An operator that iterates `.collect()` results is not distributed; a
`.toPandas()` in a query path drags the corpus through the driver. The
catalog's contract is that every query returns a lazy DataFrame, so
the gate is zero-exemption.

AST-based, not grep: SQL strings like `collect_list(...)` and comments
must not trip it, and `F.count`/`GroupedData.count` aggregations make
attribute-name grepping for actions hopelessly noisy — so the gate
sticks to the three unambiguous action names.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "automated_data_pipeline_python_spark"
)
WALKED = ("queries",)
ACTIONS = {"collect", "toPandas", "toLocalIterator"}


def test_no_collect_in_query_or_streaming_modules():
    offenders = []
    for sub in WALKED:
        for mod in sorted((PKG / sub).rglob("*.py")):
            tree = ast.parse(mod.read_text())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ACTIONS
                ):
                    offenders.append(
                        f"{mod.relative_to(PKG.parent)}:{node.lineno}"
                        f" .{node.func.attr}()"
                    )
    assert offenders == []
