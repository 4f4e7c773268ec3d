"""Correctness suite.

Each entry is a PySpark implementation ``(spark, sf_dir) -> DataFrame``
over the synthetic TPC-H-ish testdata (TESTDATA.md) and a DuckDB oracle
SQL twin run on the same parquet files; every entry has an oracle.

The marketing entries (``suite.warehouse``) are adapters over the
library: the 12 queries, the three views, the incremental view refresh
and the six dim/fact builds run through ``queries``, ``views`` and
``etl`` over the testdata rendered as the reference's raw staging, and
their oracles run the reference SQL over the same mapping. The other
modules map one operator shape from SURVEY.md §2 each onto the
testdata tables. Column names are aliased identically on both sides;
numeric discipline (see ``suite.common``) keeps value-hashes
engine-independent.

Entries appear in ``SUITE`` in module import order (below), then in
each module's ``register()`` order. No consumer depends on that order.
"""

from marketing_etl_analytics_spark.suite.registry import SUITE, SuiteEntry, register

# Importing the modules populates SUITE via their register() calls.
from marketing_etl_analytics_spark.suite import warehouse  # noqa: E402,F401
from marketing_etl_analytics_spark.suite import etl_builds  # noqa: E402,F401
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
