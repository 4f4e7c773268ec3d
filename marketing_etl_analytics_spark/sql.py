"""SQL entry point: the reference's users talk to a SQL engine
(`analytics_queries.sql` via psql — SURVEY.md §3.2); this module gives
them the same surface on Spark.

``register_warehouse`` exposes the star schema (4 dims + 2 facts) as
temp views; ``register_kpi_views`` exposes ``mv_channel_daily`` /
``mv_kpi_channel`` / ``mv_kpi_campaign``. Spark temp views over
DataFrames are lazy lineage — exactly the reference's
``CREATE OR REPLACE VIEW`` semantics (`etl_script/04_views.sql:16,70,
153`): each query re-expands the view, and Catalyst optimizes through
the whole composition (view inlining ≈ lazy composition, SURVEY.md
§3.2).

Dialect note: queries are written in Spark SQL. PostgreSQL-specific
spellings from the reference translate as `x::numeric` →
`CAST(x AS DECIMAL(...))`, `EXTRACT(EPOCH FROM d)` →
`unix_timestamp(d)`; aggregate `FILTER (WHERE ...)` works unchanged
(Spark ≥ 3.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from marketing_etl_analytics_spark.views import build_views

WAREHOUSE_TABLES = (
    "dim_date",
    "dim_customers",
    "dim_products",
    "dim_campaigns",
    "fact_sales",
    "fact_spend",
)


def register_warehouse(spark: SparkSession, wh: dict[str, DataFrame]) -> None:
    """Expose the warehouse dict (from etl.run_etl) as temp views."""
    for name in WAREHOUSE_TABLES:
        if name in wh:
            wh[name].createOrReplaceTempView(name)


def register_kpi_views(spark: SparkSession, wh: dict[str, DataFrame]) -> None:
    """Expose the three KPI views as lazy temp views, matching the
    reference's non-materialized `mv_*`: nothing is persisted, and a
    query reads the current rows of ``wh``. The view DataFrames are
    built once per warehouse snapshot (``views.build_views``)."""
    for name, df in build_views(wh).items():
        df.createOrReplaceTempView(name)

