"""SPARK_GRAFT_CACHE_TABLES memoization is value-neutral.

bench.py persists the shared table reads once per session; results must
be identical to the cold path (and the cache must be OFF by default so
plan audits see real parquet scans).
"""

from __future__ import annotations

import os

from marketing_etl_analytics_spark.suite import SUITE
from marketing_etl_analytics_spark.suite import common

SF = "/root/testdata/sf0.001"
NAMES = ["q1_best_sellers", "mv_channel_daily", "ext_dedup_exact"]


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: tuple(str(x) for x in t)
    )


def test_cache_off_by_default(spark):
    assert not common._cache_on()
    df = common.t(spark, SF, "orders")
    assert not df.is_cached


def test_cached_results_identical(spark):
    cold = {n: _rows(SUITE[n].fn(spark, SF)) for n in NAMES}
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    try:
        warm = {n: _rows(SUITE[n].fn(spark, SF)) for n in NAMES}
        assert common._TABLE_CACHE, "cache should populate when enabled"
    finally:
        del os.environ["SPARK_GRAFT_CACHE_TABLES"]
        for df in common._TABLE_CACHE.values():
            df.unpersist()
        common._TABLE_CACHE.clear()
    assert warm == cold
