"""The suite runs every stream through one path: ``suite.common.drain``
is the only function in ``suite/`` that waits for a query
(``awaitTermination``) or sizes its state partitions
(``_stream_state_partitions``). An entry that writes its own run block
again fails here. Every call counts, including the ones inside nested
functions and lambdas."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import marketing_etl_analytics_spark.suite as suite

SUITE_DIR = Path(suite.__file__).parent


class _Calls(ast.NodeVisitor):
    """``file:function`` for every call of ``name`` in one module."""

    def __init__(self, path: Path, name: str) -> None:
        self.path, self.name, self.scope, self.sites = path, name, [], []

    def visit_FunctionDef(self, node: ast.FunctionDef) -> None:
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_Call(self, node: ast.Call) -> None:
        f = node.func
        called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if called == self.name:
            where = ".".join(self.scope) or "<module>"
            self.sites.append(f"{self.path.name}:{where}")
        self.generic_visit(node)


def _call_sites(name: str) -> list[str]:
    sites = []
    for path in sorted(SUITE_DIR.glob("*.py")):
        calls = _Calls(path, name)
        calls.visit(ast.parse(path.read_text(), str(path)))
        sites += calls.sites
    return sites


@pytest.mark.parametrize("name", ["awaitTermination", "_stream_state_partitions"])
def test_only_drain_runs_a_stream(name):
    assert _call_sites(name) == ["common.py:drain"]
