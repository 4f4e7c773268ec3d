"""The library packages ``ext``, ``streaming``, ``sources`` and
``functions`` import nothing from ``suite``: the suite's entries are
adapters over the library, never the other way round. Every import
statement counts, including the ones inside functions."""

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


@pytest.mark.parametrize("subpackage", ["ext", "streaming", "sources", "functions"])
def test_library_does_not_import_suite(subpackage):
    files = sorted((PKG_DIR / subpackage).rglob("*.py"))
    assert files
    bad = [
        f"{path.relative_to(PKG_DIR)}:{line} imports {name}"
        for path in files
        for line, name in _imported_modules(path)
        if name == SUITE or name.startswith(SUITE + ".")
    ]
    assert not bad, bad
