"""ext.quality.validate: key, NOT NULL and FK constraints over the built
warehouse."""

from __future__ import annotations

from marketing_etl_analytics_spark.ext import quality as Q


def _violations(df, checks) -> dict[str, int]:
    return {r.check: r.violations for r in Q.validate(df, checks).collect()}


def test_warehouse_constraints_hold(warehouse):
    wh = warehouse
    assert _violations(wh["dim_products"], [Q.unique("product_id")]) == {
        "unique(product_id)": 0
    }
    assert _violations(wh["dim_customers"], [Q.unique("customer_id")]) == {
        "unique(customer_id)": 0
    }
    assert _violations(
        wh["fact_sales"],
        [
            Q.unique("sale_id"),
            Q.not_null("date_id"),
            Q.not_null("customer_id"),
            Q.foreign_key(["product_id"], wh["dim_products"], ["product_id"]),
        ],
    ) == {
        "unique(sale_id)": 0,
        "not_null(date_id)": 0,
        "not_null(customer_id)": 0,
        "foreign_key(product_id)": 0,
    }


def test_checks_catch_violations(spark):
    bad = spark.createDataFrame(
        [(1, None), (1, 5), (2, 7)], "id long, ref long"
    )
    dim = spark.createDataFrame([(5,)], "k long")
    # id=1 twice; ref has one NULL; ref=7 has no dim match, and the
    # NULL ref is skipped rather than counted as an orphan (SQL FK
    # semantics)
    assert _violations(
        bad,
        [Q.unique("id"), Q.not_null("ref"), Q.foreign_key(["ref"], dim, ["k"])],
    ) == {"unique(id)": 1, "not_null(ref)": 1, "foreign_key(ref)": 1}
