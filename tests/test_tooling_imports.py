"""Spark-free guard: every kept script still imports only modules that exist.

The tools are not run by the suite, so a tool importing a deleted module
(a retired harness, a renamed engine module) would only fail when someone
next runs it.  This walks each script's AST — without executing it — and
resolves every imported module with ``importlib.util.find_spec`` with the
repository root on ``sys.path``, as the scripts themselves arrange.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.relpath(p, ROOT) for p in glob.glob(os.path.join(ROOT, "tools", "*.py"))
) + ["__spark_entry__.py"]


def _imported_modules(path: str) -> set[str]:
    """Absolute module names imported anywhere in the file (function-level
    imports included: a tool's ``main`` importing a retired module is the
    case this guards)."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module != "__future__":
                names.add(node.module)
    return names


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports_resolve(script, monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    missing = sorted(
        m for m in _imported_modules(os.path.join(ROOT, script))
        if importlib.util.find_spec(m) is None
    )
    assert not missing, f"{script} imports modules that do not exist: {missing}"
