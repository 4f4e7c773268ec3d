"""Warehouse persistence round-trip: build → write partitioned
parquet → re-read → query, equal results.

Closes the A8 loop end-to-end: the in-memory lineage and the
persisted-layout read path must be interchangeable (what a nightly
batch actually does — write once, query all day).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from marketing_etl_analytics_spark import queries as Q


def test_fact_roundtrip_preserves_query_results(spark, warehouse, tmp_path):
    wh = warehouse
    fact = wh["fact_sales"].withColumn(
        "sale_year", F.year(F.from_unixtime("date_id").cast("date"))
    )
    out = str(tmp_path / "fact_sales")
    fact.write.partitionBy("sale_year").parquet(out)

    reread = spark.read.parquet(out).drop("sale_year")
    wh2 = dict(wh)
    wh2["fact_sales"] = reread

    for qfn in (Q.q1_best_sellers, Q.q9_retention):
        a = sorted(map(tuple, qfn(wh).collect()))
        b = sorted(map(tuple, qfn(wh2).collect()))
        assert a == b, qfn.__name__
