"""The marketing library on the testdata: the 12 queries, the three
views, the incremental ``mv_channel_daily`` refresh and the six dim and
fact builds, each run through ``etl``, ``views`` and ``queries``.

``staging`` renders the testdata as the reference's two raw staging
frames (``schemas.RAW_TRANSACTIONS`` and ``RAW_SPEND``; FIXTURES.md §4
tabulates the mapping). ``SQL_WAREHOUSE`` is the same mapping in DuckDB
SQL, followed by ``03_transform.sql``'s six tables. Every oracle is
that CTE prefix and the reference SQL of the entry's table, view or
query; the reference SQL (``MERGED_CTE``, ``VIEW_SQL``, ``QUERY_SQL``)
is also what ``tests/test_views_duckdb_differential.py`` runs against
the library's own warehouse.

An entry drops the surrogate ``sale_id``/``spend_id`` (their values
depend on the partitioning) and casts the library's DECIMAL columns to
DOUBLE; its oracle casts the reference SQL's DECIMAL columns to DOUBLE
and its integer sums, which DuckDB types HUGEINT, to BIGINT.
"""

from __future__ import annotations

import os
import tempfile
from operator import itemgetter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, StructType

from marketing_etl_analytics_spark import etl, schemas, views
from marketing_etl_analytics_spark.queries import ALL_QUERIES
from marketing_etl_analytics_spark.sources import acid
from marketing_etl_analytics_spark.suite.common import memo_df, t
from marketing_etl_analytics_spark.suite.registry import register

# --- testdata -> raw staging --------------------------------------------------
#
# One SQL expression per raw column, over lineitem⋈orders⋈customer⋈
# nation⋈part (transactions) and events (spend). Both engines evaluate
# the same expression; only the date formatting is spelled per dialect.
# Quirks the queries need at every scale factor: an item has one
# category (the item-name join does not fan out), Affiliates campaigns
# sell little (q8 finds wasted spend), spend dates run past the last
# order date (NULL date_id and campaign_id in fact_spend), and
# floor(price / 1000) is 0 for some lines (zero revenue, NULL margin).

_DIALECTS = {
    "spark": {
        "mdy": "date_format({}, 'M/d/yyyy')",
        "ym": "date_format({}, 'yyyy-MM')",
        "day": "date_add(DATE '1995-01-01', CAST(event_id * 7 % 2435 AS INT))",
    },
    "duckdb": {
        "mdy": "strftime({}, '%-m/%-d/%Y')",
        "ym": "strftime({}, '%Y-%m')",
        "day": "DATE '1995-01-01' + CAST(event_id * 7 % 2435 AS INTEGER)",
    },
}

_SQL_TYPES = {"string": "VARCHAR", "int": "INTEGER", "bigint": "BIGINT", "double": "DOUBLE"}

_TX_FROM = (
    "lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " JOIN part ON l_partkey = p_partkey"
)


def _mapping(dialect: str) -> dict[str, dict[str, str]]:
    """Raw column -> SQL expression, per staging table."""
    d = _DIALECTS[dialect]
    mdy, ym, day = d["mdy"].format, d["ym"].format, d["day"]
    return {
        "transactions": {
            "Transaction Date": mdy("o_orderdate"),
            "Customer ID": "concat('C', CAST(o_custkey AS STRING))",
            "Age": "16 + c_custkey % 35",
            "Gender": "CASE WHEN c_custkey % 50 = 0 THEN 'Other'"
            " WHEN c_custkey % 3 = 0 THEN 'Female' ELSE 'Male' END",
            "Item Purchased": "p_name",
            "Category": "split_part(p_name, ' ', 2)",
            "Quantity": "l_quantity",
            "Purchase Amount (THB)": "floor(l_extendedprice / 1000)",
            "Cost Price (THB)": "floor(l_extendedprice * (0.5 + l_discount) / 1000)",
            "Location": "n_name",
            "Subscription Status": "CASE WHEN c_custkey % 7 < 4 THEN 'Active'"
            " ELSE 'Inactive' END",
            "Shipping Type": "CASE WHEN l_orderkey % 20 = 0 THEN 'Same-Day'"
            " WHEN l_orderkey % 4 = 1 THEN 'Express' ELSE 'Standard' END",
            "Payment Method": "CASE l_suppkey % 5 WHEN 0 THEN 'Credit Card'"
            " WHEN 1 THEN 'PromptPay' WHEN 2 THEN 'Cash on Delivery'"
            " WHEN 3 THEN 'Bank Transfer' ELSE 'E-Wallet' END",
            "Previous Purchases": "(l_orderkey + l_linenumber) % 10",
            "Campaign Name": "concat(CASE WHEN o_orderkey % 50 = 0 THEN 'Affiliates'"
            " WHEN o_orderkey % 3 = 0 THEN 'Paid Search'"
            " WHEN o_orderkey % 3 = 1 THEN 'Social' ELSE 'Email' END,"
            f" ' ', {ym('o_orderdate')})",
        },
        "spend": {
            "Date": mdy(day),
            "Campaign Name": "concat(CASE user_id % 4 WHEN 0 THEN 'Paid Search'"
            " WHEN 1 THEN 'Social' WHEN 2 THEN 'Email' ELSE 'Affiliates' END,"
            f" ' ', {ym(day)})",
            "Spending": "value * 20",
            "Impressions": "100 + user_id % 900",
            "Clicks": "CASE WHEN event_id % 20 = 0 THEN 1 ELSE 0 END",
            "Observed CTR": "CASE WHEN event_id % 20 = 0 THEN 0.01 ELSE 0.0 END",
        },
    }


_STAGING_SCHEMAS = {"transactions": schemas.RAW_TRANSACTIONS, "spend": schemas.RAW_SPEND}


def staging(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The testdata as the raw staging frames ``etl.load_staging``
    returns for the reference CSVs (transactions and spend)."""
    tbl = {n: t(spark, sf_dir, n) for n in
           ("lineitem", "orders", "customer", "nation", "part", "events")}
    tx = (
        tbl["lineitem"]
        .join(tbl["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(tbl["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(tbl["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .join(tbl["part"], F.col("l_partkey") == F.col("p_partkey"))
    )
    sources = {"transactions": tx, "spend": tbl["events"]}
    return {
        name: sources[name].select(*[
            F.expr(expr).cast(_STAGING_SCHEMAS[name][col].dataType).alias(col)
            for col, expr in cols.items()
        ])
        for name, cols in _mapping("spark").items()
    }


def _sql_select(cols: dict[str, str], schema: StructType) -> str:
    return ", ".join(
        f'CAST({expr} AS {_SQL_TYPES[schema[col].dataType.simpleString()]}) AS "{col}"'
        for col, expr in cols.items()
    )


_SQL_MAPPING = _mapping("duckdb")
_SQL_MDY = "CAST(strptime({}, '%m/%d/%Y') AS DATE)"

# the staging mapping, then 03_transform.sql's six tables. ROUND(SUM /
# SUM) in dim_products is PostgreSQL integer division of the BIGINT
# staging sums; SERIAL ids follow the documented ORDER BY; sale_id and
# spend_id are any unique id.
SQL_WAREHOUSE = f"""
WITH stg_transactions AS (
  SELECT {_sql_select(_SQL_MAPPING["transactions"], schemas.RAW_TRANSACTIONS)}
  FROM {_TX_FROM}
),
stg_spend AS (
  SELECT {_sql_select(_SQL_MAPPING["spend"], schemas.RAW_SPEND)}
  FROM events
),
dim_date AS (
  SELECT DISTINCT CAST(epoch(d) AS BIGINT) AS date_id, d AS date,
         CAST(day(d) AS INTEGER) AS day, CAST(weekofyear(d) AS INTEGER) AS week,
         CAST(month(d) AS INTEGER) AS month, CAST(year(d) AS INTEGER) AS year,
         CAST(NULL AS VARCHAR) AS season
  FROM (SELECT {_SQL_MDY.format('"Transaction Date"')} AS d FROM stg_transactions)
),
dim_customers AS (
  SELECT DISTINCT "Customer ID" AS customer_id, "Age" AS age, "Gender" AS gender,
         "Location" AS location, "Subscription Status" AS subscription_status,
         CAST(NULL AS VARCHAR) AS frequency_band
  FROM stg_transactions
),
dim_products AS (
  SELECT CAST(row_number() OVER (ORDER BY item_name, category) AS INTEGER) AS product_id,
         item_name, category,
         CAST(base_price AS DOUBLE) AS base_price, CAST(cost_price AS DOUBLE) AS cost_price
  FROM (
    SELECT "Item Purchased" AS item_name, "Category" AS category,
           ROUND(SUM("Purchase Amount (THB)") // SUM("Quantity"), 0) AS base_price,
           ROUND(SUM("Cost Price (THB)") // SUM("Quantity"), 0) AS cost_price
    FROM stg_transactions GROUP BY "Item Purchased", "Category"
  )
),
dim_campaigns AS (
  SELECT CAST(row_number() OVER (ORDER BY campaign_name) AS INTEGER) AS campaign_id,
         campaign_name, regexp_extract(campaign_name, '^([^0-9]+)', 1) AS channel
  FROM (SELECT DISTINCT "Campaign Name" AS campaign_name FROM stg_transactions)
),
fact_sales AS (
  SELECT row_number() OVER () AS sale_id, d.date_id,
         s."Customer ID" AS customer_id, p.product_id, c.campaign_id,
         s."Quantity" AS quantity,
         CAST(s."Purchase Amount (THB)" AS DECIMAL(18,2)) AS revenue,
         CAST(s."Cost Price (THB)" AS DECIMAL(18,2)) AS cost,
         s."Shipping Type" AS shipping_type, s."Payment Method" AS payment_method,
         s."Previous Purchases" AS prev_purchases
  FROM stg_transactions s
  LEFT JOIN dim_date d ON {_SQL_MDY.format('s."Transaction Date"')} = d.date
  LEFT JOIN dim_products p ON s."Item Purchased" = p.item_name
  LEFT JOIN dim_campaigns c ON s."Campaign Name" = c.campaign_name
),
fact_spend AS (
  SELECT row_number() OVER () AS spend_id, d.date_id, c.campaign_id,
         CAST(s."Spending" AS DECIMAL(18,2)) AS spend,
         s."Impressions" AS impressions, s."Clicks" AS clicks,
         s."Observed CTR" AS observed_ctr
  FROM stg_spend s
  LEFT JOIN dim_date d ON {_SQL_MDY.format('s."Date"')} = d.date
  LEFT JOIN dim_campaigns c ON s."Campaign Name" = c.campaign_name
)
"""

# --- reference SQL: 04_views.sql and analytics_queries.sql ------------------
#
# Over the six warehouse tables by name. mv_channel_daily.ctr is true
# division (the reference's bigint division always yields 0).

MERGED_CTE = """
WITH fs_agg AS (
  SELECT date_id, campaign_id, SUM(revenue) AS revenue, SUM(cost) AS cost,
         COUNT(DISTINCT sale_id) AS orders
  FROM fact_sales GROUP BY date_id, campaign_id
),
sp_agg AS (
  SELECT date_id, campaign_id, SUM(spend) AS spend, SUM(clicks) AS clicks,
         SUM(impressions) AS impressions
  FROM fact_spend GROUP BY date_id, campaign_id
),
merged AS (
  SELECT COALESCE(fs.date_id, sp.date_id) AS date_id,
         COALESCE(fs.campaign_id, sp.campaign_id) AS campaign_id,
         COALESCE(fs.revenue,0) AS revenue, COALESCE(fs.cost,0) AS cost,
         COALESCE(fs.orders,0) AS orders, COALESCE(sp.spend,0) AS spend,
         COALESCE(sp.clicks,0) AS clicks, COALESCE(sp.impressions,0) AS impressions
  FROM fs_agg fs FULL OUTER JOIN sp_agg sp
    ON fs.date_id = sp.date_id AND fs.campaign_id = sp.campaign_id
)
"""

CHANNEL_DAILY_CTE = MERGED_CTE + """
, mv_channel_daily AS (
  SELECT d.date, c.channel, SUM(revenue) AS revenue, SUM(cost) AS cost,
         ROUND(SUM(spend), 2) AS spend, SUM(clicks) AS clicks,
         SUM(impressions) AS impressions, SUM(orders) AS orders
  FROM merged m
  LEFT JOIN dim_campaigns c ON m.campaign_id = c.campaign_id
  JOIN dim_date d ON m.date_id = d.date_id
  GROUP BY d.date, c.channel
)
"""


def _div(num: str, den: str, digits: int) -> str:
    return (f"ROUND(CAST({num} AS DOUBLE) / NULLIF(CAST({den} AS DOUBLE), 0), "
            f"{digits})")


def _kpi_view(grain: list[str]) -> str:
    keys = ", ".join(f"c.{k}" for k in grain)
    return MERGED_CTE + f"""
SELECT {keys}, SUM(revenue) AS revenue, SUM(cost) AS cost,
       ROUND(SUM(spend), 2) AS spend, SUM(revenue - cost) AS gross_profit,
       SUM(clicks) AS clicks, SUM(impressions) AS impressions, SUM(orders) AS orders,
       {_div("SUM(revenue)", "SUM(orders)", 4)} AS aov,
       {_div("SUM(clicks)", "SUM(impressions)", 6)} AS ctr,
       {_div("SUM(revenue)", "SUM(spend)", 4)} AS roas,
       {_div("SUM(revenue) - SUM(cost)", "SUM(spend)", 4)} AS profit_roas,
       {_div("SUM(revenue) - SUM(spend)", "SUM(spend)", 4)} AS roi,
       {_div("SUM(revenue) - SUM(cost) - SUM(spend)", "SUM(spend)", 4)} AS profit_roi
FROM merged m LEFT JOIN dim_campaigns c ON m.campaign_id = c.campaign_id
GROUP BY {keys}"""


VIEW_SQL = {
    "mv_channel_daily": MERGED_CTE + f"""
SELECT d.date, c.channel, SUM(revenue) AS revenue, SUM(cost) AS cost,
       ROUND(SUM(spend), 2) AS spend, SUM(clicks) AS clicks,
       SUM(impressions) AS impressions,
       {_div("SUM(clicks)", "SUM(impressions)", 6)} AS ctr,
       SUM(orders) AS orders
FROM merged m
LEFT JOIN dim_campaigns c ON m.campaign_id = c.campaign_id
JOIN dim_date d ON m.date_id = d.date_id
GROUP BY d.date, c.channel""",
    "mv_kpi_channel": _kpi_view(views.KPI_CHANNEL_GRAIN),
    "mv_kpi_campaign": _kpi_view(views.KPI_CAMPAIGN_GRAIN),
}

QUERY_SQL = {
    "q0_pnl_summary": CHANNEL_DAILY_CTE + """
        SELECT SUM(revenue) AS revenue, SUM(cost) AS cogs,
               SUM(spend) AS ad_spending, SUM(revenue - cost) AS gross_profit,
               ROUND(SUM(revenue - cost - spend), 2) AS net_profit
        FROM mv_channel_daily""",
    "q1_best_sellers": """
        SELECT p.product_id, p.item_name, p.category,
               SUM(f.quantity) AS total_units_sold
        FROM fact_sales f JOIN dim_products p ON f.product_id = p.product_id
        GROUP BY p.product_id, p.item_name, p.category
        ORDER BY total_units_sold DESC, p.product_id LIMIT 5""",
    "q2_profit_products": """
        SELECT p.item_name, p.category, SUM(f.revenue - f.cost) AS total_profit
        FROM fact_sales f JOIN dim_products p ON f.product_id = p.product_id
        GROUP BY p.product_id, p.item_name, p.category
        ORDER BY total_profit DESC, p.item_name LIMIT 5""",
    "q3_margin_products": """
        SELECT p.product_id, p.item_name, p.category,
               SUM(f.revenue) AS total_revenue, SUM(f.cost) AS total_cost,
               ROUND((SUM(f.revenue) - SUM(f.cost)) / SUM(f.revenue) * 100, 2)
                 AS profit_margin_pct
        FROM fact_sales f JOIN dim_products p ON f.product_id = p.product_id
        GROUP BY p.product_id, p.item_name, p.category
        HAVING SUM(f.revenue) > 0
        ORDER BY profit_margin_pct DESC, p.product_id LIMIT 5""",
    "q4_channel_performance": CHANNEL_DAILY_CTE + f"""
        SELECT channel, SUM(revenue) AS revenue, SUM(cost) AS cost,
               SUM(revenue - cost) AS gross_profit, SUM(spend) AS spend,
               ROUND(SUM(revenue - cost - spend), 2) AS net_profit,
               {_div("SUM(revenue)", "SUM(orders)", 2)} AS aov,
               {_div("SUM(clicks)", "SUM(impressions)", 4)} AS ctr,
               {_div("SUM(revenue)", "SUM(spend)", 2)} AS roas,
               {_div("SUM(revenue) - SUM(cost)", "SUM(spend)", 2)} AS profit_roas,
               {_div("SUM(revenue) - SUM(spend)", "SUM(spend)", 2)} AS roi,
               {_div("SUM(revenue) - SUM(cost) - SUM(spend)", "SUM(spend)", 2)} AS profit_roi
        FROM mv_channel_daily GROUP BY channel
        ORDER BY net_profit DESC""",
    "q5_repeat_drivers": f"""
        WITH first_product AS (
          SELECT customer_id, product_id, MIN(date_id) AS first_date
          FROM fact_sales GROUP BY customer_id, product_id
        ),
        flagged AS (
          SELECT s.product_id,
                 CASE WHEN s.date_id > fp.first_date THEN 1 ELSE 0 END AS is_repeat
          FROM fact_sales s JOIN first_product fp
            ON s.customer_id = fp.customer_id AND s.product_id = fp.product_id
        )
        SELECT p.item_name, SUM(f.is_repeat) AS repeat_buyers,
               COUNT(*) AS total_buyers,
               {_div("SUM(f.is_repeat)", "COUNT(*)", 3)} AS repeat_rate
        FROM flagged f JOIN dim_products p ON f.product_id = p.product_id
        GROUP BY p.item_name
        ORDER BY repeat_rate DESC, p.item_name LIMIT 10""",
    "q6_category_performance": f"""
        WITH enriched AS (
          SELECT f.customer_id, p.category, f.revenue, f.cost
          FROM fact_sales f JOIN dim_products p ON f.product_id = p.product_id
        ),
        loyalty AS (
          SELECT customer_id, COUNT(*) AS purchase_count
          FROM enriched GROUP BY customer_id
        ),
        cat_loyalty AS (
          SELECT e.category,
                 COUNT(*) FILTER (WHERE l.purchase_count > 1) AS repeat_customers,
                 COUNT(*) AS total_customers
          FROM enriched e JOIN loyalty l ON e.customer_id = l.customer_id
          GROUP BY e.category
        )
        SELECT e.category, SUM(e.revenue) AS revenue,
               SUM(e.revenue - e.cost) AS profit,
               ROUND(AVG((e.revenue - e.cost) / NULLIF(e.revenue, 0)), 3) AS avg_margin,
               cl.repeat_customers, cl.total_customers,
               {_div("cl.repeat_customers", "cl.total_customers", 3)} AS loyalty_rate
        FROM enriched e JOIN cat_loyalty cl ON e.category = cl.category
        GROUP BY e.category, cl.repeat_customers, cl.total_customers
        ORDER BY revenue DESC""",
    "q7_product_quadrant": """
        WITH product_profit AS (
          SELECT p.product_id, p.item_name, SUM(f.quantity) AS units_sold,
                 SUM(f.revenue) AS revenue, SUM(f.revenue - f.cost) AS profit,
                 ROUND(AVG((f.revenue - f.cost) / NULLIF(f.revenue, 0)), 3) AS margin
          FROM fact_sales f JOIN dim_products p ON f.product_id = p.product_id
          GROUP BY p.product_id, p.item_name
        ),
        stats AS (
          SELECT AVG(units_sold) AS avg_units, AVG(margin) AS avg_margin
          FROM product_profit
        )
        SELECT pp.product_id, pp.item_name, pp.units_sold, pp.revenue, pp.profit,
               pp.margin,
               CASE
                 WHEN pp.units_sold > s.avg_units AND pp.margin > s.avg_margin
                   THEN 'HERO PRODUCT 🔥'
                 WHEN pp.units_sold < s.avg_units AND pp.margin > s.avg_margin
                   THEN 'High Potential'
                 WHEN pp.units_sold > s.avg_units AND pp.margin < s.avg_margin
                   THEN 'Volume Driver'
                 ELSE 'Free Rider'
               END AS product_type
        FROM product_profit pp CROSS JOIN stats s
        ORDER BY pp.revenue DESC""",
    "q8_spend_waste": """
        SELECT c.campaign_name, c.channel, SUM(sp.spend) AS spend,
               SUM(sp.clicks) AS clicks, SUM(fs.revenue) AS revenue
        FROM fact_spend sp
        LEFT JOIN fact_sales fs
          ON sp.date_id = fs.date_id AND sp.campaign_id = fs.campaign_id
        JOIN dim_campaigns c ON c.campaign_id = sp.campaign_id
        GROUP BY c.campaign_name, c.channel
        HAVING SUM(sp.spend) > 5000 AND SUM(sp.clicks) < 100
           AND SUM(fs.revenue) < 3000
        ORDER BY spend DESC""",
    "q9_retention": f"""
        WITH first_purchase AS (
          SELECT customer_id, MIN(date_id) AS first_purchase_date
          FROM fact_sales GROUP BY customer_id
        )
        SELECT COUNT(*) FILTER (WHERE f.date_id > fp.first_purchase_date)
                 AS returning_customers,
               COUNT(*) AS total_customers,
               {_div("COUNT(*) FILTER (WHERE f.date_id > fp.first_purchase_date)",
                     "COUNT(*)", 3)} AS retention_rate
        FROM fact_sales f JOIN first_purchase fp ON f.customer_id = fp.customer_id
        """,
    "q10_demographics": """
        WITH segments AS (
          SELECT customer_id,
                 CASE WHEN age < 20 THEN 'Under 20'
                      WHEN age BETWEEN 20 AND 29 THEN '20–29'
                      WHEN age BETWEEN 30 AND 39 THEN '30–39'
                      WHEN age BETWEEN 40 AND 49 THEN '40–49'
                      ELSE '50+' END AS age_group,
                 gender
          FROM dim_customers
        ),
        segment_sales AS (
          SELECT s.age_group, s.gender,
                 COUNT(DISTINCT f.customer_id) AS customers,
                 SUM(f.revenue) AS total_revenue, SUM(f.quantity) AS total_units
          FROM fact_sales f JOIN segments s ON f.customer_id = s.customer_id
          GROUP BY s.age_group, s.gender
        ),
        totals AS (
          SELECT SUM(customers) AS all_customers, SUM(total_revenue) AS all_revenue
          FROM segment_sales
        )
        SELECT age_group, gender, customers, total_revenue, total_units,
               ROUND(CAST(customers AS DOUBLE) / all_customers * 100, 2) AS pct_customers,
               ROUND(total_revenue / all_revenue * 100, 2) AS pct_revenue
        FROM segment_sales CROSS JOIN totals
        ORDER BY pct_revenue DESC""",
    "q11_frequency_segments": """
        WITH freq AS (
          SELECT customer_id, COUNT(*) AS purchase_count
          FROM fact_sales GROUP BY customer_id
        ),
        seg AS (
          SELECT customer_id,
                 CASE WHEN purchase_count >= 10 THEN 'Whales (10+ orders)'
                      WHEN purchase_count >= 5 THEN 'Heavy Buyers (5–9)'
                      WHEN purchase_count >= 2 THEN 'Repeat Buyers (2–4)'
                      ELSE 'One-Time Buyers' END AS segment
          FROM freq
        ),
        segment_sales AS (
          SELECT s.segment, COUNT(*) AS customers,
                 SUM(f.revenue) AS total_revenue, SUM(f.quantity) AS total_units
          FROM fact_sales f JOIN seg s ON f.customer_id = s.customer_id
          GROUP BY s.segment
        ),
        totals AS (
          SELECT SUM(customers) AS all_customers, SUM(total_revenue) AS all_revenue,
                 SUM(total_units) AS all_units
          FROM segment_sales
        )
        SELECT segment, customers, total_revenue, total_units,
               ROUND(CAST(customers AS DOUBLE) / all_customers * 100, 2) AS pct_customers,
               ROUND(total_revenue / all_revenue * 100, 2) AS pct_revenue,
               ROUND(CAST(total_units AS DOUBLE) / all_units * 100, 2) AS pct_units
        FROM segment_sales CROSS JOIN totals
        ORDER BY pct_revenue DESC""",
}

# --- suite entries ------------------------------------------------------------

TABLES = ["dim_date", "dim_customers", "dim_products", "dim_campaigns",
          "fact_sales", "fact_spend"]

# per entry: the reference SQL's DECIMAL columns (-> DOUBLE) and its
# integer sums typed HUGEINT (-> BIGINT)
_MONEY = "revenue cost spend gross_profit"
_CASTS = {
    "etl_fact_sales": ("revenue cost", ""),
    "etl_fact_spend": ("spend", ""),
    "mv_channel_daily": ("revenue cost spend", "clicks impressions orders"),
    "mv_kpi_channel": (_MONEY, "clicks impressions orders"),
    "mv_kpi_campaign": (_MONEY, "clicks impressions orders"),
    "q0_pnl_summary": ("revenue cogs ad_spending gross_profit net_profit", ""),
    "q1_best_sellers": ("", "total_units_sold"),
    "q2_profit_products": ("total_profit", ""),
    "q3_margin_products": ("total_revenue total_cost", ""),
    "q4_channel_performance": (_MONEY + " net_profit", ""),
    "q5_repeat_drivers": ("", "repeat_buyers"),
    "q6_category_performance": ("revenue profit", ""),
    "q7_product_quadrant": ("revenue profit", "units_sold"),
    "q8_spend_waste": ("spend revenue", "clicks"),
    "q10_demographics": ("total_revenue", "total_units"),
    "q11_frequency_segments": ("total_revenue", "total_units"),
}
_CASTS["mv_channel_daily_incremental"] = _CASTS["mv_channel_daily"]


def _oracle(name: str, sql: str) -> str:
    doubles, bigints = (s.split() for s in _CASTS.get(name, ("", "")))
    casts = [f"CAST({c} AS DOUBLE) AS {c}" for c in doubles]
    casts += [f"CAST({c} AS BIGINT) AS {c}" for c in bigints]
    drop = {"etl_fact_sales": "EXCLUDE (sale_id)",
            "etl_fact_spend": "EXCLUDE (spend_id)"}.get(name, "")
    replace = f"REPLACE ({', '.join(casts)})" if casts else ""
    return f"{SQL_WAREHOUSE}SELECT * {drop} {replace} FROM ({sql})"


def warehouse(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The library's warehouse and views over ``staging``, as
    ``etl.run_etl`` + ``views.build_views`` build them from the CSVs
    (lazy; the dims are not cached)."""
    stg = staging(spark, sf_dir)
    tx = stg["transactions"]
    wh = {
        "dim_date": etl.build_dim_date(tx),
        "dim_customers": etl.build_dim_customers(tx),
        "dim_products": etl.build_dim_products(tx),
        "dim_campaigns": etl.build_dim_campaigns(tx),
    }
    wh["fact_sales"] = etl.build_fact_sales(
        tx, wh["dim_date"], wh["dim_products"], wh["dim_campaigns"])
    wh["fact_spend"] = etl.build_fact_spend(stg["spend"], wh["dim_date"], wh["dim_campaigns"])
    wh.update(views.build_views(wh))
    return wh


def _comparable(df: DataFrame) -> DataFrame:
    """``df`` without the surrogate ids, its decimals as doubles."""
    df = df.drop("sale_id", "spend_id")
    return df.withColumns({
        f.name: F.col(f.name).cast("double")
        for f in df.schema.fields if isinstance(f.dataType, DecimalType)
    })


def mv_channel_daily_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mv_channel_daily`` written by ``acid.create`` over the facts
    before the last 5 dates, then refreshed for those dates by
    ``views.incremental_refresh_channel_daily``."""

    def build() -> DataFrame:
        wh = warehouse(spark, sf_dir)
        fs, sp, camp, dd = (wh[n] for n in
                            ("fact_sales", "fact_spend", "dim_campaigns", "dim_date"))
        last = dd.select("date_id").orderBy(F.desc("date_id")).limit(5)
        new = F.broadcast(last)
        with tempfile.TemporaryDirectory(prefix="mv_channel_daily_") as tmp:
            path = os.path.join(tmp, "mv_channel_daily")
            acid.create(spark, path, views.channel_daily(
                fs.join(new, "date_id", "left_anti"),
                sp.join(new, "date_id", "left_anti"), camp, dd))
            views.incremental_refresh_channel_daily(spark, path, wh, last)
            return acid.read(spark, path).localCheckpoint(eager=True)

    return _comparable(memo_df(spark, sf_dir, "mv_channel_daily_incremental", build))


def _entry(name: str, pick):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _comparable(pick(warehouse(spark, sf_dir)))

    fn.__name__ = fn.__qualname__ = name
    return fn


for _name, _query in ALL_QUERIES.items():
    register(_name, _oracle(_name, QUERY_SQL[_name]),
             doc=f"queries.{_name} over the testdata warehouse")(_entry(_name, _query))
for _name in VIEW_SQL:
    register(_name, _oracle(_name, VIEW_SQL[_name]),
             doc=f"views.build_views()['{_name}'] over the testdata warehouse")(
        _entry(_name, itemgetter(_name)))
register(
    "mv_channel_daily_incremental",
    _oracle("mv_channel_daily_incremental", VIEW_SQL["mv_channel_daily"]),
    doc="views.incremental_refresh_channel_daily of the last 5 dates into an "
    "acid mv_channel_daily built without them; the oracle is the full view",
)(mv_channel_daily_incremental)
for _name in TABLES:
    register(f"etl_{_name}", _oracle(f"etl_{_name}", f"SELECT * FROM {_name}"),
             doc=f"etl.build_{_name} over the testdata staging")(
        _entry(f"etl_{_name}", itemgetter(_name)))
