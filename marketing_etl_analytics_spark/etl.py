"""Star-schema build: raw CSVs -> dims + facts.

Re-expression of ``etl_script/03_transform.sql`` as lazy DataFrame
lineage. Each builder is a pure function; ``run_etl`` composes them
into the warehouse dict the views/queries consume.

Scale notes (100 TB discipline):
- Dims derive from the fact source via groupBy/distinct — map-side
  partial aggregation keeps the shuffle tiny (key cardinality 19..2450).
- Fact builds join dims back by natural key; every dim is broadcast
  (hinted) so the 10k/1.4bn-row fact never shuffles on build.
- Surrogate keys: the reference uses SERIAL (insertion order —
  nondeterministic for dim_products). We use
  row_number() over a documented ORDER BY: deterministic, and the
  single-partition window only ever sees dim-sized data (≤ thousands
  of rows), never fact-sized data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marketing_etl_analytics_spark import schemas
from marketing_etl_analytics_spark.functions.dates import (
    date_parts,
    epoch_date_id,
    parse_mdy,
)
from marketing_etl_analytics_spark.functions.text import channel_from_campaign
from marketing_etl_analytics_spark.sources.csv import read_csv

REFERENCE_RAW_DIR = "/root/reference/data/raw"


def load_staging(spark: SparkSession, raw_dir: str = REFERENCE_RAW_DIR) -> dict[str, DataFrame]:
    """Raw CSVs -> staging DataFrames (explicit schemas, header names kept).

    Mirrors ``02_load_csv.py:27-38``; like the reference, ``campaigns``
    is read but not used by the main transform path.
    """
    return {
        name: read_csv(spark, os.path.join(raw_dir, fname), schema=schema)
        for name, (fname, schema) in schemas.RAW_CSV_FILES.items()
    }


# --- dimension builders (03_transform.sql:5-34) -----------------------------

def build_dim_date(stg_transactions: DataFrame) -> DataFrame:
    """Distinct transaction dates; date_id = epoch seconds of midnight UTC.

    (``03_transform.sql:5-14``; season stays NULL in the main path.)
    Note: covers only dates that appear in *transactions* — spend-only
    dates get NULL date_id in fact_spend, a load-bearing reference
    quirk (SURVEY.md §7.3.5).
    """
    d = parse_mdy("Transaction Date")
    parts = date_parts(d)
    return (
        stg_transactions.select(
            epoch_date_id(d).alias("date_id"),
            d.alias("date"),
            parts["day"].alias("day"),
            parts["week"].alias("week"),
            parts["month"].alias("month"),
            parts["year"].alias("year"),
            F.lit(None).cast("string").alias("season"),
        )
        .dropDuplicates(["date_id"])
    )


def build_dim_customers(stg_transactions: DataFrame) -> DataFrame:
    """Distinct customers (``03_transform.sql:17-22``).

    The reference's ON CONFLICT DO NOTHING keeps an arbitrary row per
    customer_id; attributes are consistent per customer in the data,
    but we still pick deterministically (min over attribute tuple).
    """
    return (
        stg_transactions.select(
            F.col("Customer ID").alias("customer_id"),
            F.col("Age").alias("age"),
            F.col("Gender").alias("gender"),
            F.col("Location").alias("location"),
            F.col("Subscription Status").alias("subscription_status"),
        )
        .groupBy("customer_id")
        .agg(
            F.min(F.struct("age", "gender", "location", "subscription_status")).alias("a")
        )
        .select(
            "customer_id",
            F.col("a.age").alias("age"),
            F.col("a.gender").alias("gender"),
            F.col("a.location").alias("location"),
            F.col("a.subscription_status").alias("subscription_status"),
            F.lit(None).cast("string").alias("frequency_band"),
        )
    )


def build_dim_products(stg_transactions: DataFrame) -> DataFrame:
    """Products with derived weighted-average prices.

    ``03_transform.sql:25-28``: ROUND(SUM(amount)/SUM(qty), 0). The
    staging amounts are pandas-inferred BIGINT, so the PG division is
    *integer* division (truncating) — replicated here with floor-div.
    product_id: reference SERIAL order is nondeterministic; we use
    row_number over (item_name, category) (SURVEY.md §7.5).
    """
    agg = (
        stg_transactions.groupBy(
            F.col("Item Purchased").alias("item_name"),
            F.col("Category").alias("category"),
        )
        .agg(
            (F.sum("Purchase Amount (THB)") / F.sum("Quantity")).cast("long").alias("base_price_raw"),
            (F.sum("Cost Price (THB)") / F.sum("Quantity")).cast("long").alias("cost_price_raw"),
        )
    )
    # PG bigint/bigint truncates toward zero; Spark long/long is true
    # division — cast('long') above truncates, matching PG for
    # non-negative amounts.
    w = Window.orderBy("item_name", "category")
    return agg.select(
        F.row_number().over(w).alias("product_id"),
        "item_name",
        "category",
        F.col("base_price_raw").cast("double").alias("base_price"),
        F.col("cost_price_raw").cast("double").alias("cost_price"),
    )


def build_dim_campaigns(stg_transactions: DataFrame) -> DataFrame:
    """Campaigns with channel parsed from the name.

    ``03_transform.sql:30-34``: SERIAL ids follow ORDER BY campaign
    name (deterministic 1..48); channel keeps its trailing space.
    """
    w = Window.orderBy("campaign_name")
    return (
        stg_transactions.select(F.col("Campaign Name").alias("campaign_name"))
        .distinct()
        .select(
            F.row_number().over(w).alias("campaign_id"),
            "campaign_name",
            channel_from_campaign("campaign_name").alias("channel"),
        )
    )


# --- fact builders (03_transform.sql:36-65) ---------------------------------

def build_fact_sales(
    stg_transactions: DataFrame,
    dim_date: DataFrame,
    dim_products: DataFrame,
    dim_campaigns: DataFrame,
) -> DataFrame:
    """Sales fact: one row per transaction line (``03_transform.sql:36-52``).

    LEFT joins to dims on natural keys (date string, item name,
    campaign name); all dims broadcast. sale_id is a unique surrogate
    (the reference's SERIAL is insertion order) — uniqueness is the
    only property queries rely on (COUNT DISTINCT sale_id == COUNT(*)).
    """
    s = stg_transactions
    joined = (
        s.withColumn("__tx_date", parse_mdy("Transaction Date"))
        .join(F.broadcast(dim_date.select("date_id", "date")),
              F.col("__tx_date") == F.col("date"), "left")
        .join(F.broadcast(dim_products.select("product_id", "item_name")),
              s["Item Purchased"] == F.col("item_name"), "left")
        .join(F.broadcast(dim_campaigns.select("campaign_id", "campaign_name")),
              s["Campaign Name"] == F.col("campaign_name"), "left")
    )
    return joined.select(
        F.monotonically_increasing_id().alias("sale_id"),
        "date_id",
        F.col("Customer ID").alias("customer_id"),
        "product_id",
        "campaign_id",
        F.col("Quantity").alias("quantity"),
        F.col("Purchase Amount (THB)").cast(schemas.MONEY).alias("revenue"),
        F.col("Cost Price (THB)").cast(schemas.MONEY).alias("cost"),
        F.col("Shipping Type").alias("shipping_type"),
        F.col("Payment Method").alias("payment_method"),
        F.col("Previous Purchases").alias("prev_purchases"),
    )


def build_fact_spend(
    stg_spend: DataFrame, dim_date: DataFrame, dim_campaigns: DataFrame
) -> DataFrame:
    """Spend fact: one row per (day, campaign) (``03_transform.sql:54-65``)."""
    sp = stg_spend
    joined = (
        sp.withColumn("__sp_date", parse_mdy("Date"))
        # rename: Spark resolves case-insensitively, and the raw CSV's
        # "Date" column would collide with dim_date's "date"
        .join(F.broadcast(dim_date.select("date_id", F.col("date").alias("__dim_date"))),
              F.col("__sp_date") == F.col("__dim_date"), "left")
        .join(F.broadcast(dim_campaigns.select("campaign_id", "campaign_name")),
              sp["Campaign Name"] == F.col("campaign_name"), "left")
    )
    return joined.select(
        F.monotonically_increasing_id().alias("spend_id"),
        "date_id",
        "campaign_id",
        F.col("Spending").cast(schemas.MONEY).alias("spend"),
        F.col("Impressions").alias("impressions"),
        F.col("Clicks").alias("clicks"),
        F.col("Observed CTR").alias("observed_ctr"),
    )


def run_etl(
    spark: SparkSession, raw_dir: str = REFERENCE_RAW_DIR
) -> dict[str, DataFrame]:
    """Full warehouse build — the Spark analog of ``run_etl.sh``.

    Returns the warehouse as a dict of lazy DataFrames. Dims are
    cached: they are re-read by every fact build and query, and
    caching a few thousand rows costs nothing at any scale.
    """
    stg = load_staging(spark, raw_dir)
    dim_date = build_dim_date(stg["transactions"])
    dim_customers = build_dim_customers(stg["transactions"])
    dim_products = build_dim_products(stg["transactions"])
    dim_campaigns = build_dim_campaigns(stg["transactions"])
    for d in (dim_date, dim_customers, dim_products, dim_campaigns):
        d.cache()
    fact_sales = build_fact_sales(
        stg["transactions"], dim_date, dim_products, dim_campaigns
    )
    fact_spend = build_fact_spend(stg["spend"], dim_date, dim_campaigns)
    return {
        "staging": stg,
        "dim_date": dim_date,
        "dim_customers": dim_customers,
        "dim_products": dim_products,
        "dim_campaigns": dim_campaigns,
        "fact_sales": fact_sales,
        "fact_spend": fact_spend,
    }


def incremental_upsert(
    existing: DataFrame, incoming: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Idempotent incremental append — the reference's
    ``ON CONFLICT (...) DO NOTHING`` (`etl_script/03_transform.sql:14,22`)
    without a full rebuild: keep every existing row, add only incoming
    rows whose key is unseen (first occurrence per key within the
    incoming batch too).

    Plan shape: one left-anti join on the key (broadcast when the
    incoming batch is small — the nightly-delta case) + a per-batch
    dropDuplicates. No shuffle of ``existing``.

    For the PERSISTED form of this operation — applying a delta to an
    on-disk table without rewriting it, with snapshot isolation for
    concurrent readers — use ``sources.acid.merge`` (copy-on-write
    versioned parquet; see tests/test_versioned_table.py).
    """
    fresh = incoming.dropDuplicates(key_cols).join(
        existing.select(*key_cols), key_cols, "left_anti"
    )
    return existing.unionByName(fresh)
