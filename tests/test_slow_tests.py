"""Spark-free guard: every ``SLOW_TESTS`` entry in conftest names a real test.

The skip hook matches node ids by string, so an entry whose test was
deleted or renamed skips nothing and says nothing.  This resolves each
entry against the test functions defined in its file — from the AST,
without collecting or importing the test modules — and checks that a
``test_oracle_parity.py`` parameter id is a registry query.
"""

from __future__ import annotations

import ast
import os

from conftest import SLOW_TESTS

from procurement_system_bigdata_spark.queries.registry import REGISTRY

TESTS = os.path.dirname(os.path.abspath(__file__))


def _test_functions(path: str) -> set[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    return {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test_")
    }


def test_slow_tests_name_real_tests():
    unresolved = []
    for entry in sorted(SLOW_TESTS):
        fname, _, rest = entry.partition("::")
        func, _, param = rest.partition("[")
        path = os.path.join(TESTS, fname)
        if not os.path.isfile(path) or func not in _test_functions(path):
            unresolved.append(entry)
        elif param and not (
            fname == "test_oracle_parity.py" and param.removesuffix("]") in REGISTRY
        ):
            unresolved.append(entry)
    assert not unresolved, f"SLOW_TESTS entries that name no test: {unresolved}"
