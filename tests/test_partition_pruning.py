"""Partitioned-parquet layout: the index substitute, proven.

The reference's B-tree on fact_sales(date_id) (`schema.sql:68`) makes
date-filtered queries cheap; our substitute is hive-partitioned
storage (SURVEY.md §4). This test writes a fact partitioned by year
and asserts a year-filtered read PRUNES partitions at plan time —
scanning 1/Nth of the data — rather than filtering post-scan.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_year_filter_prunes_partitions(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "o_year", F.year(F.to_date("o_orderdate"))
    )
    out = str(tmp_path / "orders_by_year")
    orders.write.partitionBy("o_year").parquet(out)

    back = spark.read.parquet(out)
    filtered = back.filter(F.col("o_year") == 1995)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    # the filter must appear as a PartitionFilters entry on the scan,
    # i.e. resolved against directory metadata, not row data
    assert "PartitionFilters" in plan
    assert "o_year" in plan.split("PartitionFilters", 1)[1].splitlines()[0]

    # and the pruned read returns exactly the 1995 rows
    expect = orders.filter(F.col("o_year") == 1995).count()
    assert filtered.count() == expect and expect > 0

