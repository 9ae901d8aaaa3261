"""Every top-level function and class in the package is reachable.

A static walk, no Spark: the roots are the registered `@query`
functions, every module's top-level statements, `bench.py`,
`__spark_entry__.py` and `perfbench/`. A definition is reached when a
reached body names it (as `name` or `obj.name`); reaching a class
reaches its whole body. Names are matched across modules, so a
definition shadowed by a reached one of the same name counts as
reached: the walk errs toward keeping code.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "bitcoin_olap_spark"

#: public API that only tests call, each with the reason it stays
ALLOWED = {
    "operators/acidtable.py:vacuum": (
        "ACID maintenance: reclaims files no kept version references"
    ),
    "operators/acidtable.py:optimize_zorder": (
        "ACID maintenance: clusters on several keys; optimize takes one"
    ),
    "ml/ensemble.py:adaboost_cells": (
        "the reference adaboost_cells_fused is compared against"
    ),
    "ml/ensemble.py:gbt_cells": (
        "the reference gbt_cells_fused is compared against"
    ),
}


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(nodes) -> set[str]:
    """Identifiers the given statements refer to."""
    out = set()
    for stmt in nodes:
        for n in ast.walk(stmt):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _is_query(fn: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "query"
        for d in fn.decorator_list
    )


def unreached(allowed=ALLOWED) -> list[str]:
    """`module:name` of every top-level package definition that no
    root reaches. The `allowed` definitions are roots too."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if (
                isinstance(node, _DEFS)
                and not _is_query(node)
                and f"{rel}:{node.name}" not in allowed
            ):
                defs.setdefault(node.name, []).append((rel, node))
            else:
                roots.append(node)
    for path in [
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
    ]:
        roots.extend(ast.parse(path.read_text(), filename=str(path)).body)

    seen: set[str] = set()
    todo = _names(roots)
    while todo:
        name = todo.pop()
        if name in seen or name not in defs:
            continue
        seen.add(name)
        for _, node in defs[name]:
            todo |= _names([node]) - seen
    return sorted(
        f"{rel}:{name}"
        for name, sites in defs.items()
        if name not in seen
        for rel, _ in sites
    )


def test_every_package_definition_is_reachable():
    dead = unreached()
    assert not dead, (
        "top-level definitions no registered query, benchmark or "
        "package path reaches (delete them, or add public API to "
        "ALLOWED with its reason):\n" + "\n".join(dead)
    )


def test_allowlist_names_unreached_definitions():
    """An ALLOWED entry that is gone, or that a root reaches, is
    stale."""
    stale = sorted(set(ALLOWED) - set(unreached(allowed=())))
    assert not stale, "stale ALLOWED entries:\n" + "\n".join(stale)
