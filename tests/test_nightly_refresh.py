"""The nightly path under an oracle, on generated data.

Builds a small warehouse from ``perfbench/gen.py::marketing`` input,
then applies each delta through the same public calls the benchmark's
``nightly_etl`` workload makes: ``acid.merge`` into ``fact_sales``,
``views.incremental_refresh_kpi`` at both KPI grains and
``views.incremental_refresh_channel_daily``. The maintained tables must
equal the views recomputed in full from the merged facts, and the fact
sums must equal the generator's truth.
"""

from __future__ import annotations

import os
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from marketing_etl_analytics_spark import etl, schemas, views
from marketing_etl_analytics_spark.sources import acid
from marketing_etl_analytics_spark.sources.csv import read_csv
from perfbench import gen

N_TX, N_DELTAS, DELTA_TX = 600, 2, 30
TABLES = ("dim_date", "dim_customers", "dim_products", "dim_campaigns",
          "fact_sales", "fact_spend")
FACT_KEYS = {"fact_sales": "sale_id", "fact_spend": "spend_id"}
TOTALS = {"kpi_channel_totals": views.KPI_CHANNEL_GRAIN,
          "kpi_campaign_totals": views.KPI_CAMPAIGN_GRAIN}


def _read_all(spark, tdir: str) -> dict:
    return {t: acid.read(spark, os.path.join(tdir, t)) for t in TABLES}


def _apply_delta(spark, tdir: str, delta_dir: str, k: int) -> None:
    r = _read_all(spark, tdir)
    stg = {n: read_csv(spark, os.path.join(delta_dir, schemas.RAW_CSV_FILES[n][0]),
                       schema=schemas.RAW_CSV_FILES[n][1])
           for n in ("transactions", "spend")}
    # delta surrogate keys live in their own range above the base keys
    offset = F.lit((k + 1) << 40)
    fs = etl.build_fact_sales(stg["transactions"], r["dim_date"], r["dim_products"],
                              r["dim_campaigns"])
    fs = fs.withColumn("sale_id", F.col("sale_id") + offset).localCheckpoint()
    sp = etl.build_fact_spend(stg["spend"], r["dim_date"], r["dim_campaigns"]).localCheckpoint()
    acid.merge(spark, os.path.join(tdir, "fact_sales"), fs, ["sale_id"])
    for name, grain in TOTALS.items():
        views.incremental_refresh_kpi(spark, os.path.join(tdir, name), fs, sp,
                                      r["dim_campaigns"], grain)
    views.incremental_refresh_channel_daily(
        spark, os.path.join(tdir, "mv_channel_daily"), _read_all(spark, tdir),
        fs.select("date_id").union(sp.select("date_id")))


@pytest.fixture(scope="module")
def nightly(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("nightly")
    truth = gen.marketing(str(root / "in"), 11, N_TX, N_DELTAS, DELTA_TX)
    tdir = str(root / "tables")
    wh = etl.run_etl(spark, truth["raw_dir"])
    for t in TABLES:
        acid.create(spark, os.path.join(tdir, t), wh[t],
                    stats_cols=[FACT_KEYS[t]] if t in FACT_KEYS else None)
    r = _read_all(spark, tdir)
    for name, grain in TOTALS.items():
        views.create_kpi_totals(spark, os.path.join(tdir, name), r["fact_sales"],
                                r["fact_spend"], r["dim_campaigns"], grain)
    acid.create(spark, os.path.join(tdir, "mv_channel_daily"),
                views.channel_daily(r["fact_sales"], r["fact_spend"],
                                    r["dim_campaigns"], r["dim_date"]))
    for k, d in enumerate(truth["deltas"]):
        _apply_delta(spark, tdir, d["dir"], k)
    return truth, tdir


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_fact_sums_equal_generator_truth(spark, nightly):
    truth, tdir = nightly
    parts = [truth["base"]] + truth["deltas"]
    r = _read_all(spark, tdir)
    s = r["fact_sales"].agg(F.count(F.lit(1)), F.sum("revenue"), F.sum("cost")).first()
    p = r["fact_spend"].agg(F.count(F.lit(1)), F.sum("spend")).first()
    assert tuple(s) == (N_TX + N_DELTAS * DELTA_TX,
                        Decimal(sum(x["revenue"] for x in parts)),
                        Decimal(sum(x["cost"] for x in parts)))
    assert tuple(p) == (sum(x["spend_rows"] for x in parts),
                        sum(x["spend"] for x in parts))


@pytest.mark.parametrize("name,full", [("kpi_channel_totals", views.kpi_channel),
                                       ("kpi_campaign_totals", views.kpi_campaign)])
def test_kpi_totals_equal_full_recompute(spark, nightly, name, full):
    _, tdir = nightly
    r = _read_all(spark, tdir)
    inc = views.kpi_from_totals(acid.read(spark, os.path.join(tdir, name)), TOTALS[name])
    want = _rows(full(r["fact_sales"], r["fact_spend"], r["dim_campaigns"]))
    assert _rows(inc) == want
    assert len(want) > 1


def test_channel_daily_equals_full_recompute(spark, nightly):
    _, tdir = nightly
    r = _read_all(spark, tdir)
    inc = acid.read(spark, os.path.join(tdir, "mv_channel_daily"))
    want = _rows(views.channel_daily(r["fact_sales"], r["fact_spend"],
                                     r["dim_campaigns"], r["dim_date"]))
    assert _rows(inc) == want
    assert len(want) > 1
