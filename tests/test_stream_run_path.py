"""The suite runs every stream through one path: ``suite.common.drain``
is the only function in ``suite/`` that waits for a query
(``awaitTermination``) or sizes its state partitions
(``_stream_state_partitions``). An entry that writes its own run block
again fails here. Every call counts, including the ones inside nested
functions and lambdas. ``drain`` sizes the partitions from the table
the stream reads."""

from __future__ import annotations

import ast
from pathlib import Path
from types import SimpleNamespace

import pytest

import marketing_etl_analytics_spark.suite as suite
from marketing_etl_analytics_spark.suite import udf

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


class _Started(Exception):
    """Raised by the stub stream reader once the query is being built."""


@pytest.mark.parametrize("entry", ["stream_dedup_ingest", "ext_dedup_ingest_capped"])
def test_ingest_streams_size_from_documents(entry, tmp_path, monkeypatch):
    """The ingest entries stream ``documents``: a 2 MB documents
    parquet sizes 8 state partitions (one per 256 KB), where the 1 KB
    events parquet would size the floor of 4. A stub session records
    the setting when the query is built; no JVM starts."""
    (tmp_path / "documents.parquet").write_bytes(bytes(2 << 20))
    (tmp_path / "events.parquet").write_bytes(bytes(1 << 10))
    conf = {"spark.sql.shuffle.partitions": "200"}
    spark = SimpleNamespace(
        conf=SimpleNamespace(get=conf.get, set=conf.__setitem__),
        sparkContext=SimpleNamespace(defaultParallelism=64),
    )
    seen = []

    def read_table_stream(spark, sf_dir, table):
        seen.append((table, conf["spark.sql.shuffle.partitions"]))
        raise _Started

    monkeypatch.setattr(udf, "read_table_stream", read_table_stream)
    with pytest.raises(_Started):
        suite.SUITE[entry].fn(spark, str(tmp_path))
    assert seen == [("documents", "8")]
    assert conf["spark.sql.shuffle.partitions"] == "200"
