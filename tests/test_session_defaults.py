"""``get_spark`` sizes a local session from the CPUs it may run on when
``SPARK_GRAFT_CPUS`` is unset, and from the variable when it is set."""

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


def _fresh_session_module():
    """A private copy of the module, so its import-time defaults are
    computed under the current environment."""
    spec = importlib.util.spec_from_file_location("_session_copy", session.__file__)
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
    mod = _fresh_session_module()
    assert mod.default_cpus() == want
    assert mod.DEFAULT_SHUFFLE_PARTITIONS == want

    builder = _Builder()
    monkeypatch.setattr(mod, "SparkSession", types.SimpleNamespace(builder=builder))
    monkeypatch.setattr(mod, "ensure_disk_headroom", lambda: 0)
    mod.get_spark()
    assert builder.conf["master"] == f"local[{want}]"
    assert builder.conf["spark.sql.shuffle.partitions"] == str(want)
