"""CASE-WHEN banding expressions (SURVEY.md §2.B B4)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def age_band(age: Column | str) -> Column:
    """Age bands per ``analytics_queries.sql:239-245`` (labels verbatim,
    en-dash included)."""
    c = F.col(age) if isinstance(age, str) else age
    return (
        F.when(c < 20, "Under 20")
        .when(c.between(20, 29), "20–29")
        .when(c.between(30, 39), "30–39")
        .when(c.between(40, 49), "40–49")
        .otherwise("50+")
    )


def frequency_band(purchase_count: Column | str) -> Column:
    """Frequency bands per ``analytics_queries.sql:288-293`` (labels
    verbatim)."""
    c = F.col(purchase_count) if isinstance(purchase_count, str) else purchase_count
    return (
        F.when(c >= 10, "Whales (10+ orders)")
        .when(c >= 5, "Heavy Buyers (5–9)")
        .when(c >= 2, "Repeat Buyers (2–4)")
        .otherwise("One-Time Buyers")
    )
