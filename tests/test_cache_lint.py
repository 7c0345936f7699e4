"""Every DataFrame cache in the package goes through ``pipeline/cache.py``:
an AST scan fails on any ``.cache(``, ``.persist(`` or ``.unpersist(``
call elsewhere. ``localCheckpoint`` is allowed: its blocks live with the
RDD, not in the session's cache manager."""

from __future__ import annotations

import ast
from pathlib import Path

import scylla_cdc_java_spark

PKG = Path(scylla_cdc_java_spark.__file__).parent
HELPER = PKG / "pipeline" / "cache.py"
RAW_CALLS = {"cache", "persist", "unpersist"}


def _raw_cache_calls(path: Path) -> list[str]:
    return [
        f"{path.relative_to(PKG)}:{node.lineno} .{node.func.attr}("
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in RAW_CALLS
    ]


def test_no_raw_cache_calls_outside_helper():
    assert _raw_cache_calls(HELPER), "the scan must see the helper's own calls"
    hits = [
        hit
        for path in sorted(PKG.rglob("*.py"))
        if path != HELPER
        for hit in _raw_cache_calls(path)
    ]
    assert hits == []
