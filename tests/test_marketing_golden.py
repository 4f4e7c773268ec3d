"""End-to-end golden-outcome tests.

The reference publishes its expected business results in prose
(README.md Phase 3/4 — SURVEY.md §5); these are the only true golden
outputs it offers, so they anchor our ETL + query parity. Tests of
those numbers take ``reference_warehouse`` (the reference CSVs) and
are skipped without it:

- retention 75.4% (README.md:654)
- Email best channel, ROAS ~5 / ROI ~4 (README.md:699)
- Affiliates ROAS 3.82 (README.md:700)
- Paid Search negative ROI (README.md:701)
- Box Logo Tee is the hero product and top repeat driver
  (README.md:597,639)
- raw-data conservation: Σ revenue 21,261,600 / Σ COGS 8,486,920 THB

Structural checks (key uniqueness, FK coverage, the campaign parse,
upsert idempotence) run on the generated ``warehouse``.
"""

from __future__ import annotations

from decimal import Decimal

import pytest

from pyspark.sql import functions as F
from marketing_etl_analytics_spark import queries as Q


def test_star_schema_shape(reference_warehouse):
    wh = reference_warehouse
    assert wh["dim_date"].count() == 365
    assert wh["dim_customers"].count() == 2450
    assert wh["dim_products"].count() == 19
    assert wh["dim_campaigns"].count() == 48
    assert wh["fact_sales"].count() == 10000
    assert wh["fact_spend"].count() == 1460


def test_fact_conservation(reference_warehouse):
    """Revenue/cost/qty survive the star build (no join fan-out/row loss)."""
    wh = reference_warehouse
    row = Q.q0_pnl_summary(wh).collect()[0]
    assert row.revenue == Decimal("21261600.00")
    assert row.cogs == Decimal("8486920.00")


def test_dim_keys_unique(warehouse):
    for dim, key in [
        ("dim_date", "date_id"),
        ("dim_customers", "customer_id"),
        ("dim_products", "product_id"),
        ("dim_campaigns", "campaign_id"),
    ]:
        df = warehouse[dim]
        assert df.count() == df.select(key).distinct().count(), dim


def test_fact_fk_coverage(warehouse):
    """Every fact row resolved all its dim keys (the input is clean)."""
    fs = warehouse["fact_sales"]
    assert fs.filter(
        "date_id IS NULL OR product_id IS NULL OR campaign_id IS NULL"
    ).count() == 0


def test_retention_rate(reference_warehouse):
    wh = reference_warehouse
    row = Q.q9_retention(wh).collect()[0]
    assert float(row.retention_rate) == pytest.approx(0.754, abs=0.0005)
    assert row.total_customers == 10000


def test_channel_ranking(reference_warehouse):
    wh = reference_warehouse
    rows = {r.channel.strip(): r for r in Q.q4_channel_performance(wh).collect()}
    assert set(rows) == {"Email", "Social", "Affiliates", "Paid Search"}
    # README.md:699-701 golden KPIs
    assert float(rows["Email"].roas) == pytest.approx(5.0, abs=0.05)
    assert float(rows["Email"].roi) == pytest.approx(4.0, abs=0.05)
    assert float(rows["Affiliates"].roas) == pytest.approx(3.82, abs=0.05)
    assert float(rows["Paid Search"].profit_roi) < 0
    # Email is the most profitable channel (first by net_profit)
    best = Q.q4_channel_performance(wh).limit(1).collect()[0]
    assert best.channel.strip() == "Email"


def test_hero_product(reference_warehouse):
    wh = reference_warehouse
    top_seller = Q.q1_best_sellers(wh).limit(1).collect()[0]
    assert top_seller.item_name == "Box Logo Tee"
    top_repeat = Q.q5_repeat_drivers(wh).limit(1).collect()[0]
    assert top_repeat.item_name == "Box Logo Tee"
    # README.md:597 calls Box Logo Tee the "hero product", but running
    # the reference's own Q7 SQL (verified via DuckDB on identical
    # warehouse tables) classifies it Volume Driver: units 1179 > avg
    # 640.5, but AVG-of-row-margin 0.578 < avg 0.619. We match the SQL,
    # not the prose.
    quad = {r.item_name: r.product_type for r in Q.q7_product_quadrant(wh).collect()}
    assert quad["Box Logo Tee"] == "Volume Driver"


def test_channel_parse_keeps_trailing_space(warehouse):
    """Reference regexp keeps the trailing space (03_transform.sql:32)."""
    channels = {r.channel for r in warehouse["dim_campaigns"].select("channel").distinct().collect()}
    assert channels == {"Email ", "Social ", "Affiliates ", "Paid Search "}


def test_campaign_ids_alphabetical(warehouse):
    """SERIAL ids follow ORDER BY campaign_name (03_transform.sql:33-34)."""
    rows = warehouse["dim_campaigns"].orderBy("campaign_id").collect()
    names = [r.campaign_name for r in rows]
    assert names == sorted(names)
    assert [r.campaign_id for r in rows] == list(range(1, 49))


def test_all_queries_run(reference_warehouse):
    wh = reference_warehouse
    expected_rows = {
        "q0_pnl_summary": 1,
        "q1_best_sellers": 5,
        "q2_profit_products": 5,
        "q3_margin_products": 5,
        "q4_channel_performance": 4,
        "q5_repeat_drivers": 10,
        "q6_category_performance": 7,
        "q7_product_quadrant": 19,
        "q8_spend_waste": 0,  # thresholds never hit at annual campaign grain
        "q9_retention": 1,
        "q10_demographics": 12,
        "q11_frequency_segments": 4,
    }
    for name, fn in Q.ALL_QUERIES.items():
        assert fn(wh).count() == expected_rows[name], name


def test_all_queries_run_on_generated_data(warehouse):
    """Every query runs, and the row counts set by single-row aggregates,
    LIMITs and the dimension sizes the generator shares with the
    reference (4 channels, 7 categories, 19 products) hold."""
    fixed = {
        "q0_pnl_summary": 1,
        "q1_best_sellers": 5,
        "q2_profit_products": 5,
        "q3_margin_products": 5,
        "q4_channel_performance": 4,
        "q5_repeat_drivers": 10,
        "q6_category_performance": 7,
        "q7_product_quadrant": 19,
        "q9_retention": 1,
    }
    for name, fn in Q.ALL_QUERIES.items():
        n = fn(warehouse).count()
        assert n == fixed.get(name, n), name

def test_incremental_upsert_idempotent(warehouse, spark):
    from marketing_etl_analytics_spark.etl import incremental_upsert

    fs = warehouse["fact_sales"]
    n = fs.count()
    # re-applying the same batch adds nothing (ON CONFLICT DO NOTHING)
    again = incremental_upsert(fs, fs, ["sale_id"])
    assert again.count() == n
    # a genuinely new key appends exactly once, even if repeated in-batch
    new_rows = fs.limit(1).withColumn("sale_id", F.lit(10_000_001))
    twice = new_rows.unionByName(new_rows)
    merged = incremental_upsert(fs, twice, ["sale_id"])
    assert merged.count() == n + 1
