"""Package surface: the lazy top-level exports resolve, and every engine
module is reachable from a job or the benchmark."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import google_spark

ROOT = Path(__file__).resolve().parent.parent

# modules that only build test inputs: the synthetic corpus, the doc-id
# hash and the testdata readers
FIXTURE_MODULES = {"google_spark.corpus", "google_spark.ids", "google_spark.sources.tables"}
# unreached engine modules still awaiting deletion (ROADMAP, "Delete what
# the search engine does not use"); this set only shrinks
UNREACHED_PENDING_DELETION = {"google_spark.operators.ltr"}


def test_lazy_exports_resolve():
    for name, (mod, attr) in google_spark._LAZY.items():
        assert getattr(google_spark, name) is not None, (name, mod, attr)
    with pytest.raises(AttributeError, match="no_such_export"):
        google_spark.no_such_export  # noqa: B018


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path) -> set[str]:
    """Every dotted name an ``import``/``from ... import`` statement of
    ``path`` names, function-local ones included (``from a import b``
    gives ``a`` and ``a.b``: ``b`` may be a submodule)."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out


def test_every_engine_module_is_reached_from_jobs_or_perfbench():
    """The import closure of ``jobs/`` and ``perfbench/`` covers every
    ``google_spark`` module but the test-fixture ones: a module that only
    tests import is code the engine does not use. Lazy exports do not
    count as use. The modules named for deletion are the one other
    exception."""
    modules = {
        _module_name(p): p for p in (ROOT / "google_spark").rglob("*.py")
    }
    todo = [
        name
        for d in ("jobs", "perfbench")
        for p in (ROOT / d).rglob("*.py")
        for name in _imported(p)
    ]
    reached = set()
    while todo:
        parts = todo.pop().split(".")
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            if name in modules and name not in reached:
                reached.add(name)
                todo.extend(_imported(modules[name]))
    assert set(modules) - reached == FIXTURE_MODULES | UNREACHED_PENDING_DELETION
