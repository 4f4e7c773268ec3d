"""Correctness suite.

Each entry maps one operator/query shape from SURVEY.md §2 onto the
synthetic TPC-H-ish testdata (TESTDATA.md), as:

- a PySpark implementation ``(spark, sf_dir) -> DataFrame``, and
- (where SQL-expressible) a DuckDB oracle SQL twin run on the same
  parquet files.

Column names are aliased identically on both sides; numeric discipline
(see ``suite.common``) keeps value-hashes engine-independent.

Entries appear in ``SUITE`` in module import order (below), then in
each module's ``register()`` order. No consumer depends on that order.
"""

from marketing_etl_analytics_spark.suite.registry import SUITE, SuiteEntry, register

# Importing the modules populates SUITE via their register() calls.
from marketing_etl_analytics_spark.suite import core  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import etl_builds  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import views  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import relational  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import ext  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import ext_scale  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import ext_pipeline  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import ext_select  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import udf  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import timeseries  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import funnels  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import graphs  # noqa: E402,F401

__all__ = ["SUITE", "SuiteEntry", "register"]
