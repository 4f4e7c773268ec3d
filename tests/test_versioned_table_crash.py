"""Crash safety of the versioned table: a writer killed between writing
its data files and committing its manifest leaves no visible version,
and ``vacuum`` reclaims its files once the table has moved past it."""

from __future__ import annotations

import os

import pytest

from marketing_etl_analytics_spark.sources import acid


class WriterKilled(Exception):
    """Stands in for the process dying inside ``_commit``."""


def _die(*args, **kwargs):
    raise WriterKilled


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string")


def _rows(spark, path):
    return sorted(map(tuple, acid.read(spark, path).collect()))


def _unlisted(path):
    """Parquet files under ``data/`` that no manifest lists."""
    listed = {
        os.path.realpath(f)
        for v in acid.history(path)
        for f in acid.read_manifest(path, v).files
    }
    return {
        os.path.realpath(os.path.join(root, f))
        for root, _, files in os.walk(os.path.join(path, "data"))
        for f in files
        if f.endswith(".parquet")
    } - listed


def _killed_merge(spark, path, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(acid, "_commit", _die)
        with pytest.raises(WriterKilled):
            acid.merge(spark, path, _df(spark, [(k, "dead") for k in range(100)]), ["k"])


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    acid.create(spark, path, _df(spark, [(k, f"a{k}") for k in range(100)]))
    return path


def test_killed_writer_leaves_no_visible_version(spark, table, monkeypatch):
    before = _rows(spark, table)
    _killed_merge(spark, table, monkeypatch)
    assert acid.current_version(table) == 1
    assert acid.history(table) == [1]
    assert _rows(spark, table) == before
    orphans = _unlisted(table)
    assert orphans, "the killed writer got as far as its data files"
    # its directory is above the current version, so it may still be a
    # writer in flight: vacuum leaves it alone
    acid.vacuum(table, keep_last=1)
    assert _unlisted(table) == orphans


def test_vacuum_reclaims_killed_writer_files(spark, table, monkeypatch):
    acid.merge(spark, table, _df(spark, [(k, "b") for k in range(50)]), ["k"])
    _killed_merge(spark, table, monkeypatch)  # died writing version 3
    orphans = _unlisted(table)
    assert orphans
    # another writer commits versions 3 and 4 past it
    acid.merge(spark, table, _df(spark, [(k, "c") for k in range(50, 100)]), ["k"])
    acid.merge(spark, table, _df(spark, [(0, "d")]), ["k"])
    want = _rows(spark, table)
    removed = acid.vacuum(table, keep_last=1)
    assert orphans <= {os.path.realpath(f) for f in removed}
    assert not any(os.path.exists(f) for f in orphans)
    assert _unlisted(table) == set()
    assert _rows(spark, table) == want
    assert all(v != "dead" for _, v in want)
