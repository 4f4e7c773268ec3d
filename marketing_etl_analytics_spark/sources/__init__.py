"""Sources & sinks: CSV reader, ACID table format, JDBC source/sink."""

from marketing_etl_analytics_spark.sources.csv import read_csv  # noqa: F401
