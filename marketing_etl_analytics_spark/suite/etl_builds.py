"""ETL suite entries without a library build of their own: the
idempotent upsert (``etl.incremental_upsert``, the reference's
``ON CONFLICT DO NOTHING``) and an SCD Type-2 dimension build, on the
testdata. The six ``03_transform.sql`` builds run through
``etl.build_*`` in ``suite.warehouse``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.etl import incremental_upsert
from marketing_etl_analytics_spark.suite.common import t
from marketing_etl_analytics_spark.suite.registry import register


# --- idempotent upsert analog (ON CONFLICT DO NOTHING,
#     03_transform.sql:14,22): left-anti + union ----------------------------

@register(
    "etl_upsert_dedup",
    """
    WITH src AS (
      SELECT o_custkey AS customer_id,
             min(CAST(o_orderdate AS DATE)) AS first_order,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT * FROM src
    """,
    doc="ON CONFLICT DO NOTHING analog: dedup by key on rebuild — the "
    "oracle states the post-state; Spark derives it via dropDuplicates "
    "after a simulated double-insert (idempotency by construction).",
)
def etl_upsert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(
            F.min(F.to_date("o_orderdate")).alias("first_order"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    # simulate a re-run: insert the same batch twice — existing keys
    # win (DO NOTHING), new keys append
    return incremental_upsert(src, src, ["customer_id"])


# --- MERGE (upsert with update): retired suite entry -------------------------
# The etl_merge_upsert suite row retired in round 4 (VERDICT r3 #8
# consolidation): the ACID MERGE primitive it demonstrated is the
# versioned table's own operation, pinned directly by
# tests/test_versioned_table*.py (merge, CDC, time travel, restore)
# and exercised end-to-end by etl_scd2 and stream_cdc_apply.


# --- SCD Type-2 dimension build ---------------------------------------------
#
# Slowly-changing-dimension Type 2 (Kimball): fold a keyed change log
# into validity-interval rows — the warehouse-standard history table
# the reference's full-rebuild dimensions (etl_pipeline.sql's dim_*)
# would need the moment an attribute starts changing. Source here:
# each customer's o_orderpriority over their order history (the
# attribute "current priority tier"). Three window passes over ONE
# shuffle on custkey (all three windows share the partitioning, so
# Catalyst plans a single Exchange): (1) order the change log and
# drop consecutive duplicates (lag), (2) close each surviving
# interval with the next change's start (lead), (3) number versions
# (row_number). At scale this is the standard one-shuffle
# gaps-and-islands shape — no self-joins, no fan-out.

@register(
    "etl_scd2",
    """
    WITH base AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority,
        CAST(o_orderdate AS DATE) AS change_date, o_orderkey
      FROM orders
    ),
    log AS (
      SELECT custkey, priority, change_date, o_orderkey,
        lag(priority) OVER w AS prev_priority
      FROM base
      WINDOW w AS (PARTITION BY custkey ORDER BY change_date, o_orderkey)
    ),
    changes AS (
      SELECT custkey, priority, change_date, o_orderkey
      FROM log
      WHERE prev_priority IS NULL OR priority <> prev_priority
    ),
    versioned AS (
      SELECT custkey, priority,
        change_date AS valid_from,
        lead(change_date) OVER w AS valid_to,
        CAST(row_number() OVER w AS BIGINT) AS version
      FROM changes
      WINDOW w AS (PARTITION BY custkey ORDER BY change_date, o_orderkey)
    )
    SELECT custkey, priority, valid_from, valid_to, version,
      (valid_to IS NULL) AS is_current
    FROM versioned
    ORDER BY custkey, version
    """,
    doc="SCD Type-2 dimension build (Kimball): per-customer "
    "order-priority change log folded to validity intervals "
    "[valid_from, valid_to) with version numbers and is_current "
    "flags. Consecutive-duplicate collapse via lag, interval close "
    "via lead, versioning via row_number — three windows sharing one "
    "custkey shuffle (single Exchange), the scale-safe "
    "gaps-and-islands shape with no self-join.",
)
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("change_date"),
        "o_orderkey",
    )
    # both windows partition by the SAME (aliased) key expression, so
    # Catalyst plans one Exchange for the whole fold — aliasing after
    # the first window would break partitioning reuse and re-shuffle
    w = Window.partitionBy("custkey").orderBy("change_date", "o_orderkey")
    log = base.withColumn("prev_priority", F.lag("priority").over(w))
    changes = log.filter(
        F.col("prev_priority").isNull()
        | (F.col("priority") != F.col("prev_priority"))
    )
    w2 = Window.partitionBy("custkey").orderBy("change_date", "o_orderkey")
    return (
        changes.select(
            "custkey",
            "priority",
            F.col("change_date").alias("valid_from"),
            F.lead("change_date").over(w2).alias("valid_to"),
            F.row_number().over(w2).cast("long").alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("custkey", "version")
    )
