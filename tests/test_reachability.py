"""Static reachability of the operator surface: every public
top-level function or class in ``operators/``, ``sources/`` and
``streaming/`` must be reachable by name from a test file, a
registered catalog query, or another reachable definition. Code only
a deleted query used fails here instead of lingering untested.

The walk is by bare name over the AST, so it over-approximates (two
definitions sharing a name keep each other alive) but never reports
live code as dead."""

from __future__ import annotations

import ast
from pathlib import Path

TESTS = Path(__file__).resolve().parent
PKG = TESTS.parent / "openaq_data_pipeline_spark"
CHECKED = ("operators", "sources", "streaming")


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined(node: ast.stmt) -> set[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {node.name}
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
    return set()


def _is_registered_query(node: ast.stmt) -> bool:
    return isinstance(node, ast.FunctionDef) and any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "register"
        for d in node.decorator_list
    )


def unreachable() -> list[str]:
    """Public operator/source/streaming definitions no root reaches,
    as ``module.name``."""
    roots: set[str] = set()
    for path in TESTS.glob("*.py"):
        roots |= _refs(ast.parse(path.read_text()))
    bodies: dict[str, set[str]] = {}  # definition name -> names it uses
    checked: list[tuple[str, str]] = []
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            names = _defined(node)
            if _is_registered_query(node) or not names:
                # registered queries and import-time statements are roots
                roots |= _refs(node)
                continue
            for name in names:
                bodies.setdefault(name, set()).update(_refs(node))
            if (
                rel.parts[0] in CHECKED
                and isinstance(node, (ast.FunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
            ):
                checked.append((".".join(rel.with_suffix("").parts), node.name))
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo.extend(bodies.get(name, ()))
    return sorted(f"{mod}.{name}" for mod, name in checked if name not in reached)


def test_every_public_operator_is_reachable():
    dead = unreachable()
    assert not dead, f"unreachable public definitions: {dead}"
