"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from marketing_etl_analytics_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Seed and size of the generated warehouse: the reference's shape
# (10,000 transactions, 1,460 spend rows, 48 campaigns, 3 spend-only dates).
GEN_SEED, GEN_TX = 7, 10_000


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", shuffle_partitions=8)
    yield s


def _build(spark, raw_dir: str) -> dict:
    from marketing_etl_analytics_spark.etl import run_etl
    from marketing_etl_analytics_spark.views import build_views

    wh = run_etl(spark, raw_dir)
    wh.update(build_views(wh))
    return wh


@pytest.fixture(scope="session")
def warehouse(spark, tmp_path_factory):
    """Warehouse + views built from seeded ``perfbench/gen.py`` CSVs,
    including spend rows on dates with no sale (NULL ``date_id``)."""
    from perfbench import gen

    truth = gen.marketing(str(tmp_path_factory.mktemp("gen")), GEN_SEED, GEN_TX, 0, 0)
    return _build(spark, truth["raw_dir"])


@pytest.fixture(scope="session")
def reference_warehouse(spark):
    """Warehouse + views built from the reference CSVs, for tests that
    assert the reference's published numbers; skipped without them."""
    from marketing_etl_analytics_spark.etl import REFERENCE_RAW_DIR

    if not os.path.isdir(REFERENCE_RAW_DIR):
        pytest.skip(f"reference CSVs absent: {REFERENCE_RAW_DIR}")
    return _build(spark, REFERENCE_RAW_DIR)
