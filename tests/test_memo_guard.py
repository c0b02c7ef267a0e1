"""Tooling guard: every artifact the engine memoizes lives in the one
session-scoped store in tables.py (tables.memo). A module-level dict bound
to a *_CACHE name anywhere else is an ad-hoc store with its own key shape
and its own eviction loop — the shape two earlier eviction bugs grew in."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "flink_adcom_spark"
)


def _is_dict_store(value: ast.expr | None) -> bool:
    if isinstance(value, (ast.Dict, ast.DictComp)):
        return True
    if isinstance(value, ast.Call):
        f = value.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name in ("dict", "WeakKeyDictionary", "WeakValueDictionary")
    return False


def _module_caches(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    found = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        for t in targets:
            if (
                isinstance(t, ast.Name)
                and t.id.endswith("_CACHE")
                and _is_dict_store(value)
            ):
                found.append(f"{os.path.relpath(path, PKG)}:{node.lineno} {t.id}")
    return found


def test_no_module_level_cache_outside_tables():
    tables = os.path.join(PKG, "tables.py")
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            path = os.path.join(root, name)
            if name.endswith(".py") and path != tables:
                offenders += _module_caches(path)
    assert not offenders, (
        "module-level caches outside tables.py — memoize through "
        f"tables.memo instead: {offenders}"
    )
    # the one store itself is still found by the same walk
    assert [c.split()[-1] for c in _module_caches(tables)] == ["_MEMO_CACHE"]
