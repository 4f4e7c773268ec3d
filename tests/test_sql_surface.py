"""SQL surface: reference-shaped SQL text over registered temp views
must match the DataFrame query library row-for-row.

Proves a reference user can keep writing SQL (analytics_queries.sql
style, lightly transcribed to Spark SQL dialect) instead of adopting
the Python API.
"""

from __future__ import annotations

import pytest

from marketing_etl_analytics_spark import queries as Q
from marketing_etl_analytics_spark.sql import register_kpi_views, register_warehouse

# Spark-SQL transcriptions of reference queries
# (analytics_queries.sql:26-35, :12-18, :68-89)
SQL_Q1 = """
SELECT p.item_name, p.category,
  SUM(f.quantity) AS total_units_sold,
  COUNT(*) AS order_cnt,
  ROUND(SUM(CAST(f.revenue AS DECIMAL(18,2))), 2) AS total_revenue
FROM fact_sales f
JOIN dim_products p ON f.product_id = p.product_id
GROUP BY p.item_name, p.category
ORDER BY total_units_sold DESC, p.item_name
LIMIT 5
"""

SQL_Q0 = """
SELECT
  ROUND(SUM(CAST(revenue AS DECIMAL(18,2))), 2) AS total_revenue,
  ROUND(SUM(CAST(cost AS DECIMAL(18,2))), 2) AS total_cost,
  ROUND(SUM(CAST(revenue AS DECIMAL(18,2)) - CAST(cost AS DECIMAL(18,2))), 2)
    AS gross_profit
FROM fact_sales
"""

SQL_FILTER_AGG = """
SELECT customer_id,
  COUNT(*) AS orders,
  COUNT(*) FILTER (WHERE quantity >= 2) AS multi_unit_orders
FROM fact_sales
GROUP BY customer_id
HAVING COUNT(*) FILTER (WHERE quantity >= 2) > 0
"""


def _register(spark, wh):
    register_warehouse(spark, wh)
    register_kpi_views(spark, wh)
    return spark


# Function-scoped: both fixtures register the same view names, so each
# test registers the warehouse it reads.
@pytest.fixture
def sql_session(spark, warehouse):
    return _register(spark, warehouse)


@pytest.fixture
def reference_sql_session(spark, reference_warehouse):
    return _register(spark, reference_warehouse)


def test_sql_q1_matches_dataframe_library(sql_session, warehouse):
    got = sql_session.sql(SQL_Q1).collect()
    lib = Q.q1_best_sellers(warehouse).limit(5).collect()
    assert [r.item_name for r in got] == [r.item_name for r in lib]
    assert [r.total_units_sold for r in got] == [r.total_units_sold for r in lib]


def test_sql_q0_totals(reference_sql_session):
    row = reference_sql_session.sql(SQL_Q0).collect()[0]
    # reference golden totals (BASELINE.md): revenue / cost over raw CSV
    assert float(row.total_revenue) == 21261600.0
    assert float(row.total_cost) == 8486920.0


def test_sql_filter_aggregate_clause(sql_session):
    rows = sql_session.sql(SQL_FILTER_AGG).collect()
    assert rows and all(r.multi_unit_orders > 0 for r in rows)
    assert all(r.multi_unit_orders <= r.orders for r in rows)


def test_kpi_view_recomputes_lazily(sql_session):
    kpis = sql_session.sql(
        "SELECT channel, roas FROM mv_kpi_channel ORDER BY roas DESC"
    ).collect()
    assert len(kpis) == 4  # Email, Affiliates, Social Media, Paid Search


def test_kpi_view_email_leads_roas(reference_sql_session):
    kpis = reference_sql_session.sql(
        "SELECT channel, roas FROM mv_kpi_channel ORDER BY roas DESC"
    ).collect()
    # reference golden outcome (README.md:699): Email is the ROAS leader
    assert kpis[0].channel.strip() == "Email"
