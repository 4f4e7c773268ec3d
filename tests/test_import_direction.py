"""The library packages ``ext``, ``streaming``, ``sources`` and
``functions`` import nothing from ``suite``: the suite's entries are
adapters over the library, never the other way round. ``streaming``
also imports neither ``pandas`` nor the Python ``GroupState`` API: its
state lives in Spark's own operators, so no stream starts a Python
worker. Every import statement counts, including the ones inside
functions."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import marketing_etl_analytics_spark as pkg

PKG_DIR = Path(pkg.__file__).parent
SUITE = "marketing_etl_analytics_spark.suite"


def _imported_modules(path: Path) -> list[tuple[int, str]]:
    """(line, absolute module name) for every import in ``path``."""
    module = ".".join(path.relative_to(PKG_DIR.parent).with_suffix("").parts)
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = package.rsplit(".", node.level - 1)[0]
                base = f"{parent}.{base}" if base else parent
            out += [(node.lineno, f"{base}.{a.name}") for a in node.names]
    return out


def _imports_of(subpackage: str, modules: tuple[str, ...]) -> list[str]:
    """``file:line imports name`` for every import in ``subpackage`` of
    one of ``modules`` or a module below it."""
    files = sorted((PKG_DIR / subpackage).rglob("*.py"))
    assert files
    return [
        f"{path.relative_to(PKG_DIR)}:{line} imports {name}"
        for path in files
        for line, name in _imported_modules(path)
        if any(name == m or name.startswith(m + ".") for m in modules)
    ]


@pytest.mark.parametrize("subpackage", ["ext", "streaming", "sources", "functions"])
def test_library_does_not_import_suite(subpackage):
    bad = _imports_of(subpackage, (SUITE,))
    assert not bad, bad


def test_streaming_imports_no_python_worker_api():
    bad = _imports_of("streaming", ("pandas", "pyspark.sql.streaming.state"))
    assert not bad, bad
