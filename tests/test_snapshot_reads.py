"""Snapshot reads: ``acid.read`` opens each table version once per
session, and ``views.build_views`` builds the views once per snapshot.
Both memos must stay exact — a commit, a re-created table, time travel
or a restore must read the right rows."""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

from pyspark.sql.types import LongType, StringType, StructField, StructType

from marketing_etl_analytics_spark import views
from marketing_etl_analytics_spark.sources import acid


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _table(spark, tmp_path, pairs):
    path = str(tmp_path / "tbl")
    acid.create(spark, path, _df(spark, pairs).repartition(2), stats_cols=["k"])
    return path


def test_unchanged_table_reads_return_same_frame(spark, tmp_path):
    path = _table(spark, tmp_path, [(k, f"a{k}") for k in range(10)])
    first = acid.read(spark, path)
    assert acid.read(spark, path) is first
    # the memo is keyed on the absolute path
    assert acid.read(spark, os.path.relpath(path)) is first


def test_read_after_merge_sees_new_version_old_frame_keeps_old(spark, tmp_path):
    path = _table(spark, tmp_path, [(k, f"a{k}") for k in range(10)])
    before = acid.read(spark, path)
    old_rows = _rows(before)
    acid.merge(spark, path, _df(spark, [(0, "NEW"), (20, "ins")]), ["k"])
    after = acid.read(spark, path)
    assert after is not before
    got = dict(_rows(after))
    assert got[0] == "NEW" and got[20] == "ins" and len(got) == 11
    assert _rows(before) == old_rows


def test_recreated_table_at_same_path_reads_new_rows(spark, tmp_path):
    path = _table(spark, tmp_path, [(k, "old") for k in range(5)])
    old = acid.read(spark, path)
    assert _rows(old) == [(k, "old") for k in range(5)]
    shutil.rmtree(path)
    acid.create(spark, path, _df(spark, [(k, "new") for k in range(3)]))
    assert _rows(acid.read(spark, path)) == [(k, "new") for k in range(3)]


def test_time_travel_and_restore_read_the_right_rows(spark, tmp_path):
    v1_rows = [(k, f"a{k}") for k in range(6)]
    path = _table(spark, tmp_path, v1_rows)
    acid.merge(spark, path, _df(spark, [(0, "B"), (9, "B")]), ["k"])
    v2_rows = _rows(acid.read(spark, path))
    assert _rows(acid.read(spark, path, version=1)) == v1_rows
    assert _rows(acid.read(spark, path, version=2)) == v2_rows
    assert _rows(acid.read(spark, path)) == v2_rows
    v1 = acid.read(spark, path, version=1)
    acid.restore(path, 1)
    restored = acid.read(spark, path)
    # the restore commit re-lists version 1's files: the same bytes
    assert restored is v1
    assert _rows(restored) == v1_rows


def _warehouse(spark, tmp_path):
    dec = "decimal(12,2)"
    tables = {
        "fact_sales": spark.createDataFrame(
            [(1, 100, 1, Decimal("10.00"), Decimal("4.00")),
             (2, 100, 2, Decimal("20.00"), Decimal("5.00")),
             (3, 200, 1, Decimal("7.50"), Decimal("2.50"))],
            f"sale_id long, date_id long, campaign_id int, revenue {dec}, cost {dec}",
        ),
        "fact_spend": spark.createDataFrame(
            [(100, 1, Decimal("3.00"), 10, 100),
             (200, 2, Decimal("4.00"), 5, 80),
             (None, 1, Decimal("1.00"), 1, 10)],
            f"date_id long, campaign_id int, spend {dec}, clicks long, impressions long",
        ),
        "dim_campaigns": spark.createDataFrame(
            [(1, "c1", "Email"), (2, "c2", "Social")],
            "campaign_id int, campaign_name string, channel string",
        ),
        "dim_date": spark.createDataFrame(
            [(100, "2025-01-01"), (200, "2025-01-02")], "date_id long, date string"
        ).selectExpr("date_id", "CAST(date AS DATE) AS date"),
    }
    paths = {t: str(tmp_path / t) for t in tables}
    for t, df in tables.items():
        acid.create(spark, paths[t], df)
    return paths


def _open(spark, paths):
    return {t: acid.read(spark, p) for t, p in paths.items()}


def _unmemoized(wh):
    fs, sp, camp, dd = wh["fact_sales"], wh["fact_spend"], wh["dim_campaigns"], wh["dim_date"]
    return {
        "mv_channel_daily": views.channel_daily(fs, sp, camp, dd),
        "mv_kpi_channel": views.kpi_channel(fs, sp, camp),
        "mv_kpi_campaign": views.kpi_campaign(fs, sp, camp),
    }


def test_build_views_once_per_snapshot(spark, tmp_path):
    paths = _warehouse(spark, tmp_path)
    wh = _open(spark, paths)
    first = views.build_views(wh)
    again = views.build_views(_open(spark, paths))
    assert again is not first  # callers update the dict they get
    assert all(again[n] is first[n] for n in first)
    plain = _unmemoized(wh)
    for n in first:
        assert _rows(first[n]) == _rows(plain[n])

    acid.merge(
        spark, paths["fact_sales"],
        spark.createDataFrame(
            [(4, 200, 2, Decimal("30.00"), Decimal("1.00"))],
            "sale_id long, date_id long, campaign_id int, "
            "revenue decimal(12,2), cost decimal(12,2)",
        ),
        ["sale_id"],
    )
    wh2 = _open(spark, paths)
    assert wh2["fact_sales"] is not wh["fact_sales"]
    assert wh2["dim_date"] is wh["dim_date"]
    rebuilt = views.build_views(wh2)
    assert all(rebuilt[n] is not first[n] for n in first)
    plain2 = _unmemoized(wh2)
    for n in rebuilt:
        assert _rows(rebuilt[n]) == _rows(plain2[n])
    social = {r["channel"]: r for r in rebuilt["mv_kpi_channel"].collect()}["Social"]
    assert social["revenue"] == Decimal("50.00") and social["orders"] == 2


def test_empty_frame_keeps_schema(spark):
    schema = StructType([
        StructField("k", LongType(), nullable=False),
        StructField("v", StringType(), nullable=True),
    ])
    df = acid._empty(spark, schema)
    assert df.schema == schema
    assert df.count() == 0


def test_concurrent_reads_and_builds_stay_matched(spark, tmp_path):
    """8 threads (more than cores), switching often, alternate between
    two snapshots: each read must return its own table's rows, and each
    build_views its own snapshot's views, never the other's."""
    rows = [(k, f"a{k}") for k in range(50)]
    path = _table(spark, tmp_path, rows)
    snaps = [_warehouse(spark, tmp_path / "a"), _warehouse(spark, tmp_path / "b")]
    acid.merge(
        spark, snaps[1]["fact_sales"],
        spark.createDataFrame(
            [(9, 100, 1, Decimal("99.00"), Decimal("0.00"))],
            "sale_id long, date_id long, campaign_id int, "
            "revenue decimal(12,2), cost decimal(12,2)",
        ),
        ["sale_id"],
    )
    want = [_rows(_unmemoized(_open(spark, p))["mv_kpi_channel"]) for p in snaps]
    assert want[0] != want[1]

    def work(i):
        got_rows = _rows(acid.read(spark, path))
        got_view = _rows(views.build_views(_open(spark, snaps[i % 2]))["mv_kpi_channel"])
        return got_rows == rows and got_view == want[i % 2]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(work, i) for i in range(16)]
            ok = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert all(ok)
