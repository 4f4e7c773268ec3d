"""The 12-query analytics library over the marketing star schema.

1:1 re-expression of ``analytics_queries.sql`` (reference query surface,
SURVEY.md §2.K). Every function takes the warehouse dict from
``etl.run_etl`` (+ ``views.build_views``) and returns a lazy DataFrame;
building one starts no Spark job.

Reference quirks preserved on purpose (they are the semantics):
- Q5/Q9 count fact *rows*, not distinct customers.
- Q6/Q7 use AVG of per-row margin (≠ ratio of sums).
- Q8's spend⋈sales join fans out many-to-many and double-counts both
  sides before HAVING (``analytics_queries.sql:202-205``).
- Q9-frequency's ``customers`` counts fact rows per segment.

Plan shapes: a Spark job costs tens of milliseconds however little it
reads, so each exchange a query needs is planned once. Where the SQL
joins the fact to its own aggregate on a key (Q5, Q6, Q9, Q11), the
aggregate is a window over that key: one exchange, the same rows. As
the SQL join never matches a NULL key, Q5, Q9 and Q11 drop NULL-key
rows first; Q6's money sums keep them, as its SQL does. A totals row
cross joined to a result a dimension bounds (Q7, Q10, Q11) is a window
over the whole result, which leaves it in one partition, so the sort
after it plans no exchange; other bounded results use ``_sort_small``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.functions.bands import age_band, frequency_band
from marketing_etl_analytics_spark.functions.kpis import safe_div


def _sort_small(df: DataFrame, *cols: Column | str) -> DataFrame:
    """``df.orderBy(*cols)`` in one task, for a result bounded by a
    dimension (channels, categories, campaigns). A plain ``orderBy``
    range-partitions its input: one job to sample the bounds and one
    more shuffle. One partition is already sorted globally."""
    return df.coalesce(1).orderBy(*cols)


def _margin() -> Column:
    """Per-row margin, NULL for zero revenue (``analytics_queries.sql``
    averages it per row)."""
    return (F.col("revenue") - F.col("cost")) / F.nullif(F.col("revenue"), F.lit(0))


# --- 0) P&L summary (analytics_queries.sql:12-18) --------------------------

def q0_pnl_summary(wh: dict[str, DataFrame]) -> DataFrame:
    v = wh["mv_channel_daily"]
    return v.agg(
        F.sum("revenue").alias("revenue"),
        F.sum("cost").alias("cogs"),
        F.sum("spend").alias("ad_spending"),
        F.sum(F.col("revenue") - F.col("cost")).alias("gross_profit"),
        F.round(F.sum(F.col("revenue") - F.col("cost") - F.col("spend")), 2).alias("net_profit"),
    )


# --- 1.1) Top-5 best sellers (:26-35) ---------------------------------------

def q1_best_sellers(wh: dict[str, DataFrame]) -> DataFrame:
    fs, p = wh["fact_sales"], wh["dim_products"]
    return (
        fs.join(F.broadcast(p), "product_id")
        .groupBy("product_id", "item_name", "category")
        .agg(F.sum("quantity").alias("total_units_sold"))
        .orderBy(F.desc("total_units_sold"), "product_id")
        .limit(5)
    )


# --- 1.2) Top-5 profit products (:38-46) ------------------------------------

def q2_profit_products(wh: dict[str, DataFrame]) -> DataFrame:
    fs, p = wh["fact_sales"], wh["dim_products"]
    return (
        fs.join(F.broadcast(p), "product_id")
        # group key includes product_id though it's not in the select
        # list (reference :44 groups by id but projects name/category)
        .groupBy("product_id", "item_name", "category")
        .agg(F.sum(F.col("revenue") - F.col("cost")).alias("total_profit"))
        .select("item_name", "category", "total_profit")
        .orderBy(F.desc("total_profit"), "item_name")
        .limit(5)
    )


# --- 1.3) Top-5 margin products (:49-62) ------------------------------------

def q3_margin_products(wh: dict[str, DataFrame]) -> DataFrame:
    fs, p = wh["fact_sales"], wh["dim_products"]
    rev, cost = F.sum("revenue"), F.sum("cost")
    return (
        fs.join(F.broadcast(p), "product_id")
        .groupBy("product_id", "item_name", "category")
        .agg(
            rev.alias("total_revenue"),
            cost.alias("total_cost"),
            F.round((rev - cost) / rev * 100, 2).alias("profit_margin_pct"),
        )
        .filter(F.col("total_revenue") > 0)  # HAVING
        .orderBy(F.desc("profit_margin_pct"), "product_id")
        .limit(5)
    )


# --- 2) Channel performance (:68-89) ----------------------------------------

def q4_channel_performance(wh: dict[str, DataFrame]) -> DataFrame:
    v = wh["mv_channel_daily"]
    rev, cost, spend = F.sum("revenue"), F.sum("cost"), F.sum("spend")
    clicks, impr, orders = F.sum("clicks"), F.sum("impressions"), F.sum("orders")
    return _sort_small(
        v.groupBy("channel")
        .agg(
            rev.alias("revenue"),
            cost.alias("cost"),
            F.sum(F.col("revenue") - F.col("cost")).alias("gross_profit"),
            spend.alias("spend"),
            F.round(F.sum(F.col("revenue") - F.col("cost") - F.col("spend")), 2).alias("net_profit"),
            F.round(safe_div(rev, orders), 2).alias("aov"),
            F.round(safe_div(clicks, impr), 4).alias("ctr"),
            F.round(safe_div(rev, spend), 2).alias("roas"),
            F.round(safe_div(rev - cost, spend), 2).alias("profit_roas"),
            F.round(safe_div(rev - spend, spend), 2).alias("roi"),
            F.round(safe_div(rev - cost - spend, spend), 2).alias("profit_roi"),
        ),
        F.desc("net_profit"),
    )


# --- 3) Repeat purchase drivers (:95-120) ------------------------------------

def q5_repeat_drivers(wh: dict[str, DataFrame]) -> DataFrame:
    fs, p = wh["fact_sales"], wh["dim_products"]
    first = F.min("date_id").over(Window.partitionBy("customer_id", "product_id"))
    flagged = fs.filter(F.col("customer_id").isNotNull()).select(
        "product_id",
        F.when(F.col("date_id") > first, 1).otherwise(0).alias("is_repeat"),
    )
    repeat = F.sum(F.col("is_repeat"))  # COUNT(*) FILTER (WHERE is_repeat=1)
    total = F.count(F.lit(1))
    return (
        flagged.join(F.broadcast(p.select("product_id", "item_name")), "product_id")
        .groupBy("item_name")
        .agg(
            repeat.alias("repeat_buyers"),
            total.alias("total_buyers"),
            F.round(safe_div(repeat, total), 3).alias("repeat_rate"),
        )
        .orderBy(F.desc("repeat_rate"), "item_name")
        .limit(10)
    )


# --- 4) Category winners & losers (:126-156) ---------------------------------

def q6_category_performance(wh: dict[str, DataFrame]) -> DataFrame:
    fs, p = wh["fact_sales"], wh["dim_products"]
    enriched = fs.join(F.broadcast(p.select("product_id", "category")), "product_id")
    # loyalty counts the enriched rows per customer; the SQL joins it
    # back on customer_id, so only rows with a customer count as buyers,
    # and a category that has none (or a NULL category) drops out
    purchases = F.count(F.lit(1)).over(Window.partitionBy("customer_id"))
    buyer = F.col("customer_id").isNotNull()
    return _sort_small(
        enriched.withColumn("purchase_count", purchases)
        .groupBy("category")
        .agg(
            F.sum("revenue").alias("revenue"),
            F.sum(F.col("revenue") - F.col("cost")).alias("profit"),
            F.round(F.avg(_margin()), 3).alias("avg_margin"),
            F.count(F.when(buyer & (F.col("purchase_count") > 1), 1)).alias("repeat_customers"),
            F.count(F.when(buyer, 1)).alias("total_customers"),
        )
        .filter(F.col("category").isNotNull() & (F.col("total_customers") > 0))
        .select(
            "category", "revenue", "profit", "avg_margin",
            "repeat_customers", "total_customers",
            F.round(safe_div(F.col("repeat_customers"), F.col("total_customers")), 3).alias("loyalty_rate"),
        ),
        F.desc("revenue"),
    )


# --- 5) Hero / free-rider quadrant (:162-190) --------------------------------

def q7_product_quadrant(wh: dict[str, DataFrame]) -> DataFrame:
    fs, p = wh["fact_sales"], wh["dim_products"]
    product_profit = (
        fs.join(F.broadcast(p.select("product_id", "item_name")), "product_id")
        .groupBy("product_id", "item_name")
        .agg(
            F.sum("quantity").alias("units_sold"),
            F.sum("revenue").alias("revenue"),
            F.sum(F.col("revenue") - F.col("cost")).alias("profit"),
            F.round(F.avg(_margin()), 3).alias("margin"),
        )
    )
    # the stats row is a window over the product-grain aggregate, so
    # the fact is scanned and aggregated once
    units, margin, products = F.col("units_sold"), F.col("margin"), Window.partitionBy()
    avg_units, avg_margin = F.avg(units).over(products), F.avg(margin).over(products)
    return product_profit.select(
        "product_id", "item_name", "units_sold", "revenue", "profit", "margin",
        F.when((units > avg_units) & (margin > avg_margin), "HERO PRODUCT 🔥")
        .when((units < avg_units) & (margin > avg_margin), "High Potential")
        .when((units > avg_units) & (margin < avg_margin), "Volume Driver")
        .otherwise("Free Rider")
        .alias("product_type"),
    ).orderBy(F.desc("revenue"))


# --- 6) Spend waste detection (:196-211) --------------------------------------

def q8_spend_waste(wh: dict[str, DataFrame]) -> DataFrame:
    sp, fs, c = wh["fact_spend"], wh["fact_sales"], wh["dim_campaigns"]
    return _sort_small(
        sp.alias("sp")
        # deliberate many-to-many fan-out; sums double-count (reference C8)
        .join(
            fs.alias("fs"),
            (F.col("sp.date_id") == F.col("fs.date_id"))
            & (F.col("sp.campaign_id") == F.col("fs.campaign_id")),
            "left",
        )
        .join(F.broadcast(c.alias("c")), F.col("c.campaign_id") == F.col("sp.campaign_id"))
        .groupBy("c.campaign_name", "c.channel")
        .agg(
            F.sum("sp.spend").alias("spend"),
            F.sum("sp.clicks").alias("clicks"),
            F.sum("fs.revenue").alias("revenue"),
        )
        .filter((F.col("spend") > 5000) & (F.col("clicks") < 100) & (F.col("revenue") < 3000)),
        F.desc("spend"),
    )


# --- 7) Customer retention rate (:217-230) ------------------------------------

def q9_retention(wh: dict[str, DataFrame]) -> DataFrame:
    first_purchase = F.min("date_id").over(Window.partitionBy("customer_id"))
    flagged = wh["fact_sales"].filter(F.col("customer_id").isNotNull()).select(
        F.when(F.col("date_id") > first_purchase, 1).otherwise(0).alias("is_returning")
    )
    returning = F.sum("is_returning")
    total = F.count(F.lit(1))
    return flagged.agg(
        returning.alias("returning_customers"),
        total.alias("total_customers"),
        F.round(safe_div(returning, total), 3).alias("retention_rate"),
    )


def _pct_of_total(*cols: str) -> list[Column]:
    """Each column's percent of its sum over the (bounded) result."""
    return [F.round(F.col(c) / F.sum(c).over(Window.partitionBy()) * 100, 2)
            .alias("pct_" + c.removeprefix("total_")) for c in cols]


# --- 8) Demographic segmentation (:236-272) ------------------------------------

def q10_demographics(wh: dict[str, DataFrame]) -> DataFrame:
    fs, dc = wh["fact_sales"], wh["dim_customers"]
    segments = dc.select(
        "customer_id", age_band("age").alias("age_group"), "gender"
    )
    segment_sales = (
        fs.join(F.broadcast(segments), "customer_id")
        .groupBy("age_group", "gender")
        .agg(
            F.countDistinct("customer_id").alias("customers"),
            F.sum("revenue").alias("total_revenue"),
            F.sum("quantity").alias("total_units"),
        )
    )
    return segment_sales.select(
        "age_group", "gender", "customers", "total_revenue", "total_units",
        *_pct_of_total("customers", "total_revenue"),
    ).orderBy(F.desc("pct_revenue"))


# --- 9) Frequency segmentation (:278-319) ---------------------------------------

def q11_frequency_segments(wh: dict[str, DataFrame]) -> DataFrame:
    purchases = F.count(F.lit(1)).over(Window.partitionBy("customer_id"))
    segment_sales = (
        wh["fact_sales"].filter(F.col("customer_id").isNotNull())
        .withColumn("segment", frequency_band(purchases))
        .groupBy("segment")
        .agg(
            # reference counts fact ROWS here, not customers (:299)
            F.count(F.lit(1)).alias("customers"),
            F.sum("revenue").alias("total_revenue"),
            F.sum("quantity").alias("total_units"),
        )
    )
    return segment_sales.select(
        "segment", "customers", "total_revenue", "total_units",
        *_pct_of_total("customers", "total_revenue", "total_units"),
    ).orderBy(F.desc("pct_revenue"))


ALL_QUERIES = {
    "q0_pnl_summary": q0_pnl_summary,
    "q1_best_sellers": q1_best_sellers,
    "q2_profit_products": q2_profit_products,
    "q3_margin_products": q3_margin_products,
    "q4_channel_performance": q4_channel_performance,
    "q5_repeat_drivers": q5_repeat_drivers,
    "q6_category_performance": q6_category_performance,
    "q7_product_quadrant": q7_product_quadrant,
    "q8_spend_waste": q8_spend_waste,
    "q9_retention": q9_retention,
    "q10_demographics": q10_demographics,
    "q11_frequency_segments": q11_frequency_segments,
}
