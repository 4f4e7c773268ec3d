"""Differential test: Spark views and queries vs the reference SQL.

We materialize the Spark-built warehouse (10k rows — trivially small)
into DuckDB and run SQL transcribed from ``etl_script/04_views.sql``
and ``analytics_queries.sql`` over the *same* tables. Any divergence
in join/agg/NULL semantics between our DataFrame code and the
reference SQL shows up as a value mismatch.

The 12 queries and the three views also run on a second warehouse
that appends fact rows with NULL or unmatched keys (NULL customer,
NULL or unknown product, NULL campaign, NULL date) and spend rows
that share a NULL campaign with sales rows. SQL joins never match a
NULL key, so this checks every NULL-key filter and the grain alignment
of ``views.merged`` against the reference semantics.

(Single documented deviation: mv_channel_daily.ctr uses true division;
the reference hits PG bigint integer-division and yields 0 —
SURVEY.md §7.5.)
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import pytest

from marketing_etl_analytics_spark import queries as Q
from marketing_etl_analytics_spark import views

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


TABLES = ("fact_sales", "fact_spend", "dim_campaigns", "dim_date",
          "dim_products", "dim_customers")


def _connect(wh):
    con = duckdb.connect()
    # Arrow interchange keeps decimal types exact (pandas objects make
    # DuckDB re-infer decimal width from a sample and fail on overflow).
    for name in TABLES:
        con.register(name, wh[name].toArrow())
    return con


@pytest.fixture(scope="module")
def duck(warehouse):
    con = _connect(warehouse)
    yield con
    con.close()


def _by_key(rows, *keys):
    return {tuple(r[k] for k in keys): r for r in rows}


def test_mv_channel_daily_matches(warehouse, duck):
    spark_rows = [r.asDict() for r in warehouse["mv_channel_daily"].collect()]
    duck_rows = duck.execute(
        MERGED_CTE
        + """
        SELECT d.date, c.channel, SUM(revenue) AS revenue, SUM(cost) AS cost,
               ROUND(SUM(spend), 2) AS spend, SUM(clicks) AS clicks,
               SUM(impressions) AS impressions,
               ROUND(CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions),0), 6) AS ctr,
               SUM(orders) AS orders
        FROM merged m
        LEFT JOIN dim_campaigns c ON m.campaign_id = c.campaign_id
        JOIN dim_date d ON m.date_id = d.date_id
        GROUP BY d.date, c.channel
        """
    ).fetch_arrow_table().to_pylist()
    assert len(spark_rows) == len(duck_rows)
    s, d = _by_key(spark_rows, "date", "channel"), _by_key(duck_rows, "date", "channel")
    assert s.keys() == d.keys()
    for k in s:
        for col in ("revenue", "cost", "spend", "clicks", "impressions", "orders"):
            assert float(s[k][col]) == pytest.approx(float(d[k][col]), abs=1e-6), (k, col)
        assert float(s[k]["ctr"]) == pytest.approx(float(d[k]["ctr"]), abs=1e-6), k


def test_mv_kpi_channel_matches(warehouse, duck):
    spark_rows = _by_key([r.asDict() for r in warehouse["mv_kpi_channel"].collect()], "channel")
    duck_rows = _by_key(
        duck.execute(
            MERGED_CTE
            + """
            SELECT c.channel, SUM(revenue) AS revenue, SUM(cost) AS cost,
                   ROUND(SUM(spend), 2) AS spend,
                   SUM(revenue - cost) AS gross_profit,
                   SUM(clicks) AS clicks, SUM(impressions) AS impressions,
                   SUM(orders) AS orders,
                   ROUND(CAST(SUM(revenue) AS DOUBLE) / NULLIF(SUM(orders),0), 4) AS aov,
                   ROUND(CAST(SUM(clicks) AS DOUBLE) / NULLIF(SUM(impressions),0), 6) AS ctr,
                   ROUND(CAST(SUM(revenue) AS DOUBLE) / NULLIF(CAST(SUM(spend) AS DOUBLE),0), 4) AS roas,
                   ROUND(CAST(SUM(revenue) - SUM(cost) AS DOUBLE) / NULLIF(CAST(SUM(spend) AS DOUBLE),0), 4) AS profit_roas,
                   ROUND(CAST(SUM(revenue) - SUM(spend) AS DOUBLE) / NULLIF(CAST(SUM(spend) AS DOUBLE),0), 4) AS roi,
                   ROUND(CAST(SUM(revenue) - SUM(cost) - SUM(spend) AS DOUBLE) / NULLIF(CAST(SUM(spend) AS DOUBLE),0), 4) AS profit_roi
            FROM merged m
            LEFT JOIN dim_campaigns c ON m.campaign_id = c.campaign_id
            GROUP BY c.channel
            """
        ).fetch_arrow_table().to_pylist(),
        "channel",
    )
    assert spark_rows.keys() == duck_rows.keys()
    for k in spark_rows:
        for col in ("revenue", "cost", "spend", "gross_profit", "clicks",
                    "impressions", "orders", "aov", "ctr", "roas",
                    "profit_roas", "roi", "profit_roi"):
            assert float(spark_rows[k][col]) == pytest.approx(
                float(duck_rows[k][col]), rel=1e-9, abs=1e-9
            ), (k, col)


def test_mv_kpi_campaign_matches(warehouse, duck):
    spark_rows = _by_key(
        [r.asDict() for r in warehouse["mv_kpi_campaign"].collect()], "campaign_id"
    )
    duck_rows = _by_key(
        duck.execute(
            MERGED_CTE
            + """
            SELECT c.campaign_id, SUM(revenue) AS revenue,
                   ROUND(SUM(spend), 2) AS spend, SUM(orders) AS orders,
                   ROUND(CAST(SUM(revenue) AS DOUBLE) / NULLIF(CAST(SUM(spend) AS DOUBLE),0), 4) AS roas
            FROM merged m
            LEFT JOIN dim_campaigns c ON m.campaign_id = c.campaign_id
            GROUP BY c.campaign_id
            """
        ).fetch_arrow_table().to_pylist(),
        "campaign_id",
    )
    assert spark_rows.keys() == duck_rows.keys()
    for k in spark_rows:
        for col in ("revenue", "spend", "orders", "roas"):
            assert float(spark_rows[k][col]) == pytest.approx(
                float(duck_rows[k][col]), rel=1e-9, abs=1e-9
            ), (k, col)


# --- the 12 queries -----------------------------------------------------------

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


def _div(num, den, digits):
    return (f"ROUND(CAST({num} AS DOUBLE) / NULLIF(CAST({den} AS DOUBLE), 0), "
            f"{digits})")


# name -> (reference SQL, group key columns, ORDER BY column or None).
# Ordered results are checked in order of that column; rows that tie on
# it may come in either order.
QUERY_SQL = {
    "q0_pnl_summary": (CHANNEL_DAILY_CTE + """
        SELECT SUM(revenue) AS revenue, SUM(cost) AS cogs,
               SUM(spend) AS ad_spending, SUM(revenue - cost) AS gross_profit,
               ROUND(SUM(revenue - cost - spend), 2) AS net_profit
        FROM mv_channel_daily""", (), None),
    "q1_best_sellers": ("""
        SELECT p.product_id, p.item_name, p.category,
               SUM(f.quantity) AS total_units_sold
        FROM fact_sales f JOIN dim_products p ON f.product_id = p.product_id
        GROUP BY p.product_id, p.item_name, p.category
        ORDER BY total_units_sold DESC, p.product_id LIMIT 5""",
        ("product_id",), "total_units_sold"),
    "q2_profit_products": ("""
        SELECT p.item_name, p.category, SUM(f.revenue - f.cost) AS total_profit
        FROM fact_sales f JOIN dim_products p ON f.product_id = p.product_id
        GROUP BY p.product_id, p.item_name, p.category
        ORDER BY total_profit DESC, p.item_name LIMIT 5""",
        ("item_name", "category"), "total_profit"),
    "q3_margin_products": ("""
        SELECT p.product_id, p.item_name, p.category,
               SUM(f.revenue) AS total_revenue, SUM(f.cost) AS total_cost,
               ROUND((SUM(f.revenue) - SUM(f.cost)) / SUM(f.revenue) * 100, 2)
                 AS profit_margin_pct
        FROM fact_sales f JOIN dim_products p ON f.product_id = p.product_id
        GROUP BY p.product_id, p.item_name, p.category
        HAVING SUM(f.revenue) > 0
        ORDER BY profit_margin_pct DESC, p.product_id LIMIT 5""",
        ("product_id",), "profit_margin_pct"),
    "q4_channel_performance": (CHANNEL_DAILY_CTE + f"""
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
        ORDER BY net_profit DESC""", ("channel",), "net_profit"),
    "q5_repeat_drivers": (f"""
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
        ("item_name",), "repeat_rate"),
    "q6_category_performance": (f"""
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
        ORDER BY revenue DESC""", ("category",), "revenue"),
    "q7_product_quadrant": ("""
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
        ORDER BY pp.revenue DESC""", ("product_id",), "revenue"),
    "q8_spend_waste": ("""
        SELECT c.campaign_name, c.channel, SUM(sp.spend) AS spend,
               SUM(sp.clicks) AS clicks, SUM(fs.revenue) AS revenue
        FROM fact_spend sp
        LEFT JOIN fact_sales fs
          ON sp.date_id = fs.date_id AND sp.campaign_id = fs.campaign_id
        JOIN dim_campaigns c ON c.campaign_id = sp.campaign_id
        GROUP BY c.campaign_name, c.channel
        HAVING SUM(sp.spend) > 5000 AND SUM(sp.clicks) < 100
           AND SUM(fs.revenue) < 3000
        ORDER BY spend DESC""", ("campaign_name", "channel"), "spend"),
    "q9_retention": (f"""
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
        """, (), None),
    "q10_demographics": ("""
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
        ORDER BY pct_revenue DESC""", ("age_group", "gender"), "pct_revenue"),
    "q11_frequency_segments": ("""
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
        ORDER BY pct_revenue DESC""", ("segment",), "pct_revenue"),
}


def _same(a, b) -> bool:
    number = (int, float, Decimal)
    if not (isinstance(a, number) and isinstance(b, number)):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)


def _assert_matches(df, con, sql, key, order):
    got = [r.asDict() for r in df.collect()]
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    want = [dict(zip(cols, r)) for r in rel.fetchall()]
    assert df.columns == cols
    assert len(got) == len(want)
    g, w = _by_key(got, *key), _by_key(want, *key)
    assert len(g) == len(got) and g.keys() == w.keys()
    for k in g:
        for c in cols:
            assert _same(g[k][c], w[k][c]), (k, c, g[k][c], w[k][c])
    if order:
        assert all(_same(a[order], b[order]) for a, b in zip(got, want)), order


def _variant(spark, wh) -> dict:
    """``wh`` plus fact rows whose keys are NULL or match no dimension
    row, and one campaign whose spend the sales fan-out double-counts
    past q8's HAVING thresholds."""
    fs, sp = wh["fact_sales"], wh["fact_spend"]
    base = [r.asDict() for r in fs.orderBy("sale_id").limit(50).collect()]
    next_sale = fs.agg({"sale_id": "max"}).first()[0] + 1
    next_spend = sp.agg({"spend_id": "max"}).first()[0] + 1
    waste_date = base[0]["date_id"]
    edits = (
        [{"customer_id": None}] * 10
        + [{"product_id": None}] * 8
        + [{"product_id": 10_000}] * 6
        + [{"campaign_id": None}] * 10
        + [{"date_id": None}] * 6
        + [{"customer_id": None, "date_id": None, "campaign_id": None}] * 4
        + [{"campaign_id": 999, "date_id": waste_date, "revenue": Decimal("100.00"),
            "cost": Decimal("40.00")}] * 2
    )
    sales = [{**r, **e, "sale_id": next_sale + i}
             for i, (r, e) in enumerate(zip(base, edits))]
    null_camp_dates = sorted({r["date_id"] for r in sales
                              if r["campaign_id"] is None and r["date_id"] is not None})
    spend = [
        (d, None, Decimal("75.50"), 400, 12) for d in null_camp_dates
    ] + [(waste_date, 999, Decimal("3000.00"), 50, 5)]
    out = dict(wh)
    out["fact_sales"] = fs.unionByName(spark.createDataFrame(sales, fs.schema))
    out["fact_spend"] = sp.unionByName(spark.createDataFrame(
        [{"spend_id": next_spend + i, "date_id": d, "campaign_id": c, "spend": s,
          "impressions": imp, "clicks": clk, "observed_ctr": None}
         for i, (d, c, s, imp, clk) in enumerate(spend)],
        sp.schema,
    ))
    out["dim_campaigns"] = wh["dim_campaigns"].unionByName(spark.createDataFrame(
        [(999, "Waste Test", "Email")], wh["dim_campaigns"].schema))
    out.update(views.build_views(out))
    return out


@pytest.fixture(scope="module")
def null_key_warehouse(spark, warehouse):
    return _variant(spark, warehouse)


@pytest.fixture(scope="module")
def null_key_duck(null_key_warehouse):
    con = _connect(null_key_warehouse)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERY_SQL))
def test_query_matches_reference_sql(name, warehouse, duck):
    _assert_matches(Q.ALL_QUERIES[name](warehouse), duck, *QUERY_SQL[name])


@pytest.mark.parametrize("name", list(QUERY_SQL))
def test_query_matches_reference_sql_with_null_keys(name, null_key_warehouse, null_key_duck):
    _assert_matches(Q.ALL_QUERIES[name](null_key_warehouse), null_key_duck, *QUERY_SQL[name])


def test_variant_exercises_null_keys_and_q8(null_key_warehouse):
    fs = null_key_warehouse["fact_sales"]
    for col in ("customer_id", "product_id", "campaign_id", "date_id"):
        assert fs.filter(fs[col].isNull()).count() > 0, col
    assert Q.q8_spend_waste(null_key_warehouse).count() == 1


KPI_SUMS = ("revenue", "cost", "spend", "clicks", "impressions", "orders")


def test_views_match_reference_sql_with_null_keys(null_key_warehouse, null_key_duck):
    wh, con = null_key_warehouse, null_key_duck
    _assert_matches(
        wh["mv_channel_daily"].drop("ctr"), con,
        CHANNEL_DAILY_CTE + """
        SELECT date, channel, revenue, cost, spend, clicks, impressions, orders
        FROM mv_channel_daily""", ("date", "channel"), None,
    )
    for view, key in (("mv_kpi_channel", ("channel",)),
                      ("mv_kpi_campaign", ("campaign_id", "campaign_name", "channel"))):
        _assert_matches(
            wh[view].select(*key, *KPI_SUMS), con,
            MERGED_CTE + f"""
            SELECT {", ".join("c." + k for k in key)},
                   {", ".join(f"SUM({s}) AS {s}" for s in KPI_SUMS)}
            FROM merged m LEFT JOIN dim_campaigns c ON m.campaign_id = c.campaign_id
            GROUP BY {", ".join("c." + k for k in key)}""", key, None,
        )


def test_merged_keeps_full_outer_semantics_on_null_keys(null_key_warehouse, null_key_duck):
    """A NULL key component never matches in the SQL ``ON`` clause, so a
    sales group and a spend group sharing a NULL-containing key stay
    two rows."""
    wh = null_key_warehouse
    got = sorted(map(tuple, views.merged(wh["fact_sales"], wh["fact_spend"]).collect()),
                 key=repr)
    want = sorted(null_key_duck.execute(MERGED_CTE + "SELECT * FROM merged").fetchall(),
                  key=repr)
    assert len(got) == len(want)
    assert any(r[1] is None and r[4] > 0 for r in got)  # a NULL-campaign sales row
    assert any(r[1] is None and r[4] == 0 and r[5] > 0 for r in got)  # and its spend
    for a, b in zip(got, want):
        assert all(_same(x, y) for x, y in zip(a, b)), (a, b)
