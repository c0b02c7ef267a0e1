"""Tooling guards, read from the source with `ast`.

- Every artifact the engine memoizes lives in the one session-scoped store
  in tables.py (tables.memo). A module-level dict bound to a *_CACHE name
  anywhere else is an ad-hoc store with its own key shape and its own
  eviction loop — the shape two earlier eviction bugs grew in.
- The streaming jobs state their run/checkpoint/epoch law once: inside
  streaming/jobs.py, `processAllAvailable`, `.option("checkpointLocation",
  ...)` and `upsert_partitions(..., ["batch_id"])` appear only in their
  helpers, so a copied writer scaffold cannot come back."""

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


# law -> the one jobs.py helper allowed to spell it
WRITER_LAW_HELPERS = {
    "processAllAvailable": "drain",
    "checkpointLocation": "_foreach_writer",
    "batch_id upsert": "_epoch_sink",
}


def _writer_law(call: ast.Call) -> str | None:
    """The law a call spells, if any."""
    f = call.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    args = [ast.unparse(a) for a in call.args]
    if name == "processAllAvailable":
        return name
    if name == "option" and args[:1] == ["'checkpointLocation'"]:
        return "checkpointLocation"
    if name == "upsert_partitions" and "['batch_id']" in args:
        return "batch_id upsert"
    return None


def test_streaming_writer_law_lives_in_its_helpers():
    path = os.path.join(PKG, "streaming", "jobs.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    sites: dict[str, list[tuple[str, int]]] = {law: [] for law in WRITER_LAW_HELPERS}
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call) and (law := _writer_law(node)):
                sites[law].append((getattr(top, "name", "<module>"), node.lineno))
    for law, helper in WRITER_LAW_HELPERS.items():
        assert [name for name, _ in sites[law]] == [helper], (
            f"{law} must be spelled once, in jobs.{helper}; found at {sites[law]}"
        )
