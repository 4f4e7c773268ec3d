"""``get_spark`` sizes a local session from the CPUs it may run on when
``SPARK_GRAFT_CPUS`` is unset, and from the variable when it is set; the
suite's spread width follows the same default. The driver heap follows
the host's physical memory unless ``SPARK_DRIVER_MEM`` sets it."""

from __future__ import annotations

import importlib.util
import os
import types

import pytest

import marketing_etl_analytics_spark.session as session


class _Builder:
    """Records what get_spark asks of ``SparkSession.builder``."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
        )


def _fresh_copy(module):
    """A private copy of ``module``, so its import-time defaults are
    computed under the current environment."""
    spec = importlib.util.spec_from_file_location("_fresh_copy", module.__file__)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("env, want", [(None, len(os.sched_getaffinity(0))), ("3", 3)])
def test_cpu_default_sets_threads_and_shuffle_partitions(monkeypatch, env, want):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    mod = _fresh_copy(session)
    assert mod.default_cpus() == want
    assert mod.DEFAULT_SHUFFLE_PARTITIONS == want

    builder = _Builder()
    monkeypatch.setattr(mod, "SparkSession", types.SimpleNamespace(builder=builder))
    mod.get_spark()
    assert builder.conf["master"] == f"local[{want}]"
    assert builder.conf["spark.sql.shuffle.partitions"] == str(want)


def test_spread_partitions_follow_the_session_cpu_default(monkeypatch):
    """The suite's spread width reads the CPU count the way the session
    does: an empty ``SPARK_GRAFT_CPUS`` means the affinity mask."""
    from marketing_etl_analytics_spark.suite import harness

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert _fresh_copy(harness)._SPREAD_PARTITIONS == len(os.sched_getaffinity(0))


def test_driver_memory_is_half_the_host_up_to_8g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    for gib, want in ((6, "3072m"), (64, "8g")):
        sysconf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
        session.get_spark()
        assert builder.conf["spark.driver.memory"] == want, gib
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    session.get_spark()
    assert builder.conf["spark.driver.memory"] == "2g"
