"""Every top-level definition in the package is reachable from a root.

A definition (module-level ``def`` or ``class``) is live when a root names
it: a ``Name``, an ``Attribute`` or an ``ImportFrom`` alias in its AST. The
roots are

- ``__spark_entry__.py`` and the CLI (``__main__.py``),
- every query registered with ``@_register`` (the 378-query registry),
- module-level code other than imports and ``__all__`` (an import only
  binds a name; the code that uses it is what reaches it),
- ``perfbench/`` and ``tools/``.

Anything a live definition names is live too. Matching by bare name
over-states liveness (two functions with one name keep each other alive),
so every definition this test flags has no reference at all outside
``tests/``. Starts no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "neotree_data_pipeline_kedro_spark"

# Unreachable definitions that stay, each with its reason. This list may
# only shrink: a new entry needs a product use, not a line here.
ALLOWED_UNREACHABLE = {
    # the pure-Python twin tests/test_zorder.py checks morton2 against
    "functions/zorder.py:morton2_py": "test reference twin",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "_register"
        for d in node.decorator_list
    )


def _is_all(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def unreachable_definitions() -> set[str]:
    defs: dict[str, ast.AST] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, _DEFS):
                key = f"{rel}:{stmt.name}"
                defs[key] = stmt
                if _registered(stmt) or rel == "__main__.py":
                    roots |= _names(stmt) | {stmt.name}
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)) and not _is_all(
                stmt
            ):
                roots |= _names(stmt)
    for path in [
        REPO / "__spark_entry__.py",
        *sorted((REPO / "perfbench").rglob("*.py")),
        *sorted((REPO / "tools").rglob("*.py")),
    ]:
        roots |= _names(ast.parse(path.read_text()))

    live: set[str] = set()
    frontier = roots
    seen = set(roots)
    while frontier:
        found: set[str] = set()
        for key, node in defs.items():
            if key not in live and node.name in frontier:
                live.add(key)
                found |= _names(node)
        frontier = found - seen
        seen |= frontier
    return set(defs) - live


def test_every_package_definition_is_reachable():
    assert unreachable_definitions() == set(ALLOWED_UNREACHABLE)


def test_the_scan_sees_the_package():
    # a scan that parsed nothing would pass the test above vacuously
    defs = [
        s
        for p in PKG.rglob("*.py")
        for s in ast.parse(p.read_text()).body
        if isinstance(s, _DEFS)
    ]
    assert len(defs) > 500
    assert sum(map(_registered, defs)) > 300
    assert {"Engine", "q1_pricing_summary"} <= {s.name for s in defs}
