"""Spark job budgets of the dashboard reads and the nightly steps.

On a warehouse this size a Spark job costs tens of milliseconds however
little it reads, so the job count, not the data, sets a read's latency.
Counts are taken by job group (``statusTracker().getJobIdsForGroup``)
on seeded ``perfbench/gen.py`` data. ``READ_BUDGETS`` count each read
on a fresh snapshot: nothing a previous read planned or ran is reused,
as for the first read after a commit. ``REPEAT_READ_BUDGETS`` count
each read again on a snapshot that a warm-up round has read once, as
perfbench's ``Dashboard`` times it: opening the tables, building the
views and the query, and collecting.

The build's budgets count ``etl.run_etl`` itself and the
``acid.create`` of each warehouse table after it, with the dimensions
still cached.

A budget only goes down. A change that lowers a count lowers its budget
here; raising one needs a reason in CHANGES.md.
"""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F

from marketing_etl_analytics_spark import etl, queries, schemas, views
from marketing_etl_analytics_spark.sources import acid
from marketing_etl_analytics_spark.sources.csv import read_csv

SEED, DELTA_TX = 1, 100
TABLES = ("dim_date", "dim_customers", "dim_products", "dim_campaigns",
          "fact_sales", "fact_spend")
FACT_KEYS = {"fact_sales": "sale_id", "fact_spend": "spend_id"}

READ_BUDGETS = {
    "q0_pnl_summary": 5,
    "q1_best_sellers": 3,
    "q2_profit_products": 3,
    "q3_margin_products": 3,
    "q4_channel_performance": 5,
    "q5_repeat_drivers": 4,
    "q6_category_performance": 4,
    "q7_product_quadrant": 4,
    "q8_spend_waste": 4,
    "q9_retention": 3,
    "q10_demographics": 5,
    "q11_frequency_segments": 4,
    "mv_channel_daily": 4,
    "mv_kpi_channel": 3,
    "mv_kpi_campaign": 3,
}
# A query builds a new plan on every read, so a repeat costs what a
# fresh read does. A view is the already-executed plan that
# ``build_views`` memoizes per snapshot: collecting it again reuses its
# shuffle stages.
REPEAT_READ_BUDGETS = READ_BUDGETS | {
    "mv_channel_daily": 1,
    "mv_kpi_channel": 1,
    "mv_kpi_campaign": 1,
}
BUILD_BUDGETS = {
    "run_etl": 0,
    "dim_date": 3,
    "dim_customers": 3,
    "dim_products": 4,
    "dim_campaigns": 4,
    "fact_sales": 4,
    "fact_spend": 3,
}
NIGHTLY_BUDGETS = {
    "create_kpi_totals": 3,
    "create_channel_daily": 4,
    "merge": 5,
    "incremental_refresh_kpi": 3,
    "incremental_refresh_channel_daily": 6,
}

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    from perfbench import gen

    root = tmp_path_factory.mktemp("budgets")
    truth = gen.marketing(str(root / "in"), SEED, gen.N_TRANSACTIONS, 1, DELTA_TX)
    wh, etl_jobs = _jobs(spark, lambda: etl.run_etl(spark, truth["raw_dir"]))
    build_jobs = {"run_etl": etl_jobs} | {
        t: _jobs(spark, lambda: acid.create(
            spark, str(root / t), wh[t],
            stats_cols=[FACT_KEYS[t]] if t in FACT_KEYS else None))[1]
        for t in TABLES
    }
    for t in TABLES[:4]:
        wh[t].unpersist()
    return truth, root, build_jobs


def _fresh_snapshot(spark, root) -> dict:
    """The warehouse tables, opened as if no read had come before: the
    per-session snapshot memos are emptied first."""
    acid._OPENED.clear()
    views._BUILT = None
    return {t: acid.read(spark, str(root / t)) for t in TABLES}


def _dashboard_query(spark, root, name):
    """One dashboard read, built as perfbench's ``Dashboard`` builds it:
    open the tables and build the views (both memoized per snapshot),
    then build the query."""
    wh = {t: acid.read(spark, str(root / t)) for t in TABLES}
    wh.update(views.build_views(wh))
    fn = queries.ALL_QUERIES.get(name)
    return fn(wh) if fn else wh[name]


@pytest.mark.parametrize("name", list(READ_BUDGETS))
def test_read_job_budget(name, spark, tables):
    _fresh_snapshot(spark, tables[1])
    df = _dashboard_query(spark, tables[1], name)
    _, jobs = _jobs(spark, df.collect)
    assert jobs == READ_BUDGETS[name]


def test_building_queries_and_views_starts_no_job(spark, tables):
    wh = _fresh_snapshot(spark, tables[1])
    _, jobs = _jobs(spark, lambda: wh.update(views.build_views(wh)))
    assert jobs == 0
    for name, fn in queries.ALL_QUERIES.items():
        _, jobs = _jobs(spark, lambda: fn(wh))
        assert jobs == 0, name


def test_repeat_read_job_budgets(spark, tables):
    root = tables[1]
    _fresh_snapshot(spark, root)
    for name in READ_BUDGETS:  # the warm-up round
        _dashboard_query(spark, root, name).collect()
    got = {name: _jobs(spark, lambda: _dashboard_query(spark, root, name).collect())[1]
           for name in REPEAT_READ_BUDGETS}
    assert got == REPEAT_READ_BUDGETS


def test_build_job_budgets(tables):
    assert tables[2] == BUILD_BUDGETS


def test_nightly_job_budgets(spark, tables):
    truth, root, _ = tables
    wh = _fresh_snapshot(spark, root)
    got = {}
    _, got["create_kpi_totals"] = _jobs(spark, lambda: views.create_kpi_totals(
        spark, str(root / "kpi_totals"), wh["fact_sales"], wh["fact_spend"],
        wh["dim_campaigns"], views.KPI_CHANNEL_GRAIN))
    _, got["create_channel_daily"] = _jobs(spark, lambda: acid.create(
        spark, str(root / "mv_channel_daily"),
        views.channel_daily(wh["fact_sales"], wh["fact_spend"], wh["dim_campaigns"],
                            wh["dim_date"])))
    # one delta, staged as the nightly job stages it
    d = truth["deltas"][0]["dir"]
    stg = {n: read_csv(spark, os.path.join(d, schemas.RAW_CSV_FILES[n][0]),
                       schema=schemas.RAW_CSV_FILES[n][1])
           for n in ("transactions", "spend")}
    fs = (etl.build_fact_sales(stg["transactions"], wh["dim_date"], wh["dim_products"],
                               wh["dim_campaigns"])
          .withColumn("sale_id", F.col("sale_id") + F.lit(1 << 40)).localCheckpoint())
    sp = etl.build_fact_spend(stg["spend"], wh["dim_date"], wh["dim_campaigns"]).localCheckpoint()
    _, got["merge"] = _jobs(spark, lambda: acid.merge(
        spark, str(root / "fact_sales"), fs, ["sale_id"]))
    _, got["incremental_refresh_kpi"] = _jobs(spark, lambda: views.incremental_refresh_kpi(
        spark, str(root / "kpi_totals"), fs, sp, wh["dim_campaigns"],
        views.KPI_CHANNEL_GRAIN))
    after = {t: acid.read(spark, str(root / t)) for t in TABLES}
    _, got["incremental_refresh_channel_daily"] = _jobs(
        spark, lambda: views.incremental_refresh_channel_daily(
            spark, str(root / "mv_channel_daily"), after,
            fs.select("date_id").union(sp.select("date_id"))))
    assert got == NIGHTLY_BUDGETS
