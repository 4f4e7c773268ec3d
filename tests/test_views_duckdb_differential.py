"""Differential test: Spark views and queries vs the reference SQL.

We materialize the Spark-built warehouse (10k rows — trivially small)
into DuckDB and run SQL transcribed from ``etl_script/04_views.sql``
and ``analytics_queries.sql`` (``suite.warehouse``, the transcription
the suite's oracles run too) over the *same* tables. Any divergence
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
from marketing_etl_analytics_spark.suite.warehouse import (
    MERGED_CTE,
    QUERY_SQL as REFERENCE_SQL,
    TABLES,
    VIEW_SQL,
)


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
    duck_rows = duck.execute(VIEW_SQL["mv_channel_daily"]).fetch_arrow_table().to_pylist()
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
        duck.execute(VIEW_SQL["mv_kpi_channel"]).fetch_arrow_table().to_pylist(),
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
        duck.execute(VIEW_SQL["mv_kpi_campaign"]).fetch_arrow_table().to_pylist(),
        "campaign_id",
    )
    assert spark_rows.keys() == duck_rows.keys()
    for k in spark_rows:
        for col in ("revenue", "spend", "orders", "roas"):
            assert float(spark_rows[k][col]) == pytest.approx(
                float(duck_rows[k][col]), rel=1e-9, abs=1e-9
            ), (k, col)


# --- the 12 queries -----------------------------------------------------------

# name -> (group key columns, ORDER BY column or None). Ordered results
# are checked in order of that column; rows that tie on it may come in
# either order.
QUERY_KEYS = {
    "q0_pnl_summary": ((), None),
    "q1_best_sellers": (("product_id",), "total_units_sold"),
    "q2_profit_products": (("item_name", "category"), "total_profit"),
    "q3_margin_products": (("product_id",), "profit_margin_pct"),
    "q4_channel_performance": (("channel",), "net_profit"),
    "q5_repeat_drivers": (("item_name",), "repeat_rate"),
    "q6_category_performance": (("category",), "revenue"),
    "q7_product_quadrant": (("product_id",), "revenue"),
    "q8_spend_waste": (("campaign_name", "channel"), "spend"),
    "q9_retention": ((), None),
    "q10_demographics": (("age_group", "gender"), "pct_revenue"),
    "q11_frequency_segments": (("segment",), "pct_revenue"),
}
QUERY_SQL = {name: (REFERENCE_SQL[name], *keys) for name, keys in QUERY_KEYS.items()}


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
        f"SELECT * EXCLUDE (ctr) FROM ({VIEW_SQL['mv_channel_daily']})",
        ("date", "channel"), None,
    )
    for view, key in (("mv_kpi_channel", ("channel",)),
                      ("mv_kpi_campaign", ("campaign_id", "campaign_name", "channel"))):
        _assert_matches(
            wh[view].select(*key, *KPI_SUMS), con,
            f"SELECT {', '.join(key + KPI_SUMS)} FROM ({VIEW_SQL[view]})", key, None,
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
