"""Every public package definition has a caller outside the tests.

A definition that only its own tests run is untested in the sense that
matters: no workload measures it and no example shows it, so it drifts
from the path the pipeline actually takes. Each public top-level
``def``/``class`` in a package module must therefore be named, apart
from its own definition, somewhere in the package, ``examples/``,
``perfbench/``, ``tools/`` or ``bench.py``. ``queries/`` is not scanned:
the registry already pins what it exports. Zero exemptions.

AST-based, not grep: a name in a comment or docstring is not a caller.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "automated_data_pipeline_python_spark"
CALLER_ROOTS = ("automated_data_pipeline_python_spark", "examples", "perfbench", "tools")


def _public_definitions(tree: ast.Module) -> list[ast.stmt]:
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    return [n for n in tree.body if isinstance(n, kinds) and not n.name.startswith("_")]


def _names_used(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Identifiers a module refers to (names, attributes, imports),
    leaving out everything inside ``skip``."""
    skipped = {id(n) for n in ast.walk(skip)} if skip is not None else set()
    used: set[str] = set()
    for node in ast.walk(tree):
        if id(node) in skipped:
            continue
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
    return used


def test_every_public_package_definition_has_a_caller():
    modules = [p for root in CALLER_ROOTS for p in sorted((ROOT / root).rglob("*.py"))]
    trees = {p: ast.parse(p.read_text()) for p in [*modules, ROOT / "bench.py"]}
    names = {p: _names_used(t) for p, t in trees.items()}

    uncalled = []
    for mod in sorted(PACKAGE.rglob("*.py")):
        if "queries" in mod.relative_to(PACKAGE).parts:
            continue
        elsewhere = set().union(*(n for p, n in names.items() if p != mod))
        for node in _public_definitions(trees[mod]):
            if node.name not in elsewhere | _names_used(trees[mod], skip=node):
                uncalled.append(f"{mod.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert uncalled == [], "no caller outside tests/ (delete it or give it one):\n" + "\n".join(uncalled)
