"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``marketing_etl_analytics_spark.suite``; this
module just adapts the registry to the driver's three-function shape.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from marketing_etl_analytics_spark.suite import SUITE  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "q1_best_sellers"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return SUITE[FLAGSHIP].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: entry.fn for name, entry in SUITE.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin for every SQL-expressible suite entry."""
    return {
        name: entry.oracle
        for name, entry in SUITE.items()
        if entry.oracle is not None
    }
