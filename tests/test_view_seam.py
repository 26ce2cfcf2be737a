"""Query modules register views only through the two shared seams.

A table is exposed to spark.sql(...) with ``tables.register_views`` and
a computed-once intermediate with ``catalog.materialize``; each seam is
the one owner of its decision (which loader reads a table, how an
intermediate is materialized). Chaining ``createOrReplaceTempView``
straight onto a ``load(...)``, ``load_scaled(...)`` or
``.localCheckpoint(...)`` call bypasses the seam, so the gate is
zero-exemption.

AST-based, not grep: SQL strings and comments must not trip it.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "automated_data_pipeline_python_spark"
)
SEAM_USERS = ("queries",)
LOADERS = {"load", "load_scaled"}


def _hand_written_view(node: ast.AST) -> str | None:
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createOrReplaceTempView"
        and isinstance(node.func.value, ast.Call)
    ):
        return None
    inner = node.func.value.func
    if isinstance(inner, ast.Name) and inner.id in LOADERS:
        return f"{inner.id}(...)"
    if isinstance(inner, ast.Attribute) and inner.attr == "localCheckpoint":
        return ".localCheckpoint(...)"
    return None


def test_no_hand_written_table_or_checkpoint_views():
    offenders = []
    mods = sorted(m for d in SEAM_USERS for m in (PACKAGE / d).rglob("*.py"))
    assert mods
    for mod in mods:
        for node in ast.walk(ast.parse(mod.read_text())):
            what = _hand_written_view(node)
            if what is not None:
                offenders.append(
                    f"{mod.relative_to(PACKAGE)}:{node.lineno}"
                    f" {what}.createOrReplaceTempView"
                )
    assert offenders == [], (
        "use tables.register_views / catalog.materialize:\n"
        + "\n".join(offenders)
    )

