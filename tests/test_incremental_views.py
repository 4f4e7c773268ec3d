"""Incremental materialized-view maintenance == full rebuild.

Materialize mv_channel_daily from a prefix of the facts, append the
remaining fact rows as a delta, refresh only the affected dates, and
require the maintained table to equal a from-scratch rebuild exactly
(money columns are DECIMAL, so sums are order-free and comparable
bit-for-bit).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.sources import acid
from marketing_etl_analytics_spark.views import (
    KPI_CAMPAIGN_GRAIN,
    KPI_CHANNEL_GRAIN,
    channel_daily,
    create_kpi_totals,
    incremental_refresh_channel_daily,
    incremental_refresh_kpi,
    kpi_campaign,
    kpi_channel,
    kpi_from_totals,
)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: tuple(str(x) for x in t)
    )


def test_incremental_refresh_matches_full_rebuild(spark, warehouse, tmp_path):
    wh = warehouse
    cutoff = wh["fact_sales"].agg(
        F.expr("percentile_approx(date_id, 0.8)")
    ).collect()[0][0]

    base = dict(wh)
    base["fact_sales"] = wh["fact_sales"].filter(F.col("date_id") <= cutoff)
    base["fact_spend"] = wh["fact_spend"].filter(F.col("date_id") <= cutoff)

    mv_path = str(tmp_path / "mv_channel_daily")
    acid.create(
        spark,
        mv_path,
        channel_daily(
            base["fact_sales"], base["fact_spend"],
            wh["dim_campaigns"], wh["dim_date"],
        ),
    )

    # the delta: every fact row past the cutoff (the nightly append)
    delta_dates = (
        wh["fact_sales"].filter(F.col("date_id") > cutoff).select("date_id")
        .unionByName(
            wh["fact_spend"].filter(F.col("date_id") > cutoff).select("date_id")
        )
        .distinct()
    )
    assert delta_dates.count() > 0

    v = incremental_refresh_channel_daily(spark, mv_path, wh, delta_dates)
    assert v == 2

    full = channel_daily(
        wh["fact_sales"], wh["fact_spend"], wh["dim_campaigns"], wh["dim_date"]
    )
    maintained = acid.read(spark, mv_path)
    assert sorted(maintained.columns) == sorted(full.columns)
    assert _rows(maintained.select(*full.columns)) == _rows(full)

    # the table is rewritten whole: version 2 lists only its own files,
    # and none of them is empty
    m2 = acid.read_manifest(mv_path, 2)
    assert m2.files
    assert all(os.path.basename(os.path.dirname(f)).startswith("v00002-") for f in m2.files)
    assert all(pq.read_metadata(f).num_rows for f in m2.files)


def _split_facts(wh):
    """(base facts, delta facts) at an 80% date cutoff."""
    cutoff = wh["fact_sales"].agg(
        F.expr("percentile_approx(date_id, 0.8)")
    ).collect()[0][0]
    base_fs = wh["fact_sales"].filter(F.col("date_id") <= cutoff)
    base_sp = wh["fact_spend"].filter(F.col("date_id") <= cutoff)
    # NULL date_id spend rows (spend on no-sale dates — the reference
    # quirk) go into the delta so the additive path must handle them
    delta_fs = wh["fact_sales"].filter(F.col("date_id") > cutoff)
    delta_sp = wh["fact_spend"].filter(
        (F.col("date_id") > cutoff) | F.col("date_id").isNull()
    )
    return base_fs, base_sp, delta_fs, delta_sp


def _check_kpi_incremental(spark, wh, tmp_path, grain, full_view_fn, name):
    base_fs, base_sp, delta_fs, delta_sp = _split_facts(wh)
    path = str(tmp_path / f"kpi_totals_{name}")
    v = create_kpi_totals(spark, path, base_fs, base_sp, wh["dim_campaigns"], grain)
    assert v == 1
    v = incremental_refresh_kpi(
        spark, path, delta_fs, delta_sp, wh["dim_campaigns"], grain
    )
    assert v == 2

    maintained = kpi_from_totals(acid.read(spark, path), grain)
    full = full_view_fn(
        wh["fact_sales"], wh["fact_spend"], wh["dim_campaigns"]
    )
    assert sorted(maintained.columns) == sorted(full.columns)
    assert _rows(maintained.select(*full.columns)) == _rows(full)


def test_incremental_kpi_channel_matches_full_rebuild(spark, warehouse, tmp_path):
    _check_kpi_incremental(
        spark, warehouse, tmp_path, KPI_CHANNEL_GRAIN, kpi_channel, "channel"
    )


def test_incremental_kpi_campaign_matches_full_rebuild(spark, warehouse, tmp_path):
    _check_kpi_incremental(
        spark, warehouse, tmp_path, KPI_CAMPAIGN_GRAIN, kpi_campaign, "campaign"
    )


def test_refresh_of_a_date_missing_from_the_base_dim_date(spark, warehouse, tmp_path):
    """The delta brings a date that the base ``dim_date`` lacks, and its
    dim_date row with it: the date's rows appear in ``channel_daily``.
    The delta's NULL-date spend stays out of ``channel_daily`` (inner
    ``dim_date`` join) and goes into the KPI totals."""
    wh = warehouse
    base_fs, base_sp, delta_fs, delta_sp = _split_facts(wh)
    new_id = delta_fs.agg(F.max("date_id")).first()[0]
    base_dd = wh["dim_date"].filter(F.col("date_id") != new_id)
    mv_path = str(tmp_path / "mv_channel_daily")
    acid.create(spark, mv_path,
                channel_daily(base_fs, base_sp, wh["dim_campaigns"], base_dd))
    kpi_path = str(tmp_path / "kpi_totals")
    create_kpi_totals(spark, kpi_path, base_fs, base_sp, wh["dim_campaigns"],
                      KPI_CHANNEL_GRAIN)

    changed = delta_fs.select("date_id").union(delta_sp.select("date_id"))
    assert incremental_refresh_channel_daily(spark, mv_path, wh, changed) == 2
    assert incremental_refresh_kpi(spark, kpi_path, delta_fs, delta_sp,
                                   wh["dim_campaigns"], KPI_CHANNEL_GRAIN) == 2

    full = channel_daily(
        wh["fact_sales"], wh["fact_spend"], wh["dim_campaigns"], wh["dim_date"]
    )
    maintained = acid.read(spark, mv_path).select(*full.columns)
    assert _rows(maintained) == _rows(full)
    new_date = wh["dim_date"].filter(F.col("date_id") == new_id).first()["date"]
    assert maintained.filter(F.col("date") == new_date).count() > 0

    spend = wh["fact_spend"].agg(
        F.sum("spend"), F.sum(F.when(F.col("date_id").isNull(), F.col("spend")))
    ).first()
    all_spend, null_date_spend = spend[0], spend[1]
    assert null_date_spend > 0
    assert maintained.agg(F.sum("spend")).first()[0] == all_spend - null_date_spend
    kpi = acid.read(spark, kpi_path).agg(F.sum("spend")).first()[0]
    assert kpi == all_spend
