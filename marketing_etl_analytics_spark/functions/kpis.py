"""Shared KPI expression builders (SURVEY.md §2.D D8).

The reference repeats the same ratio-of-sums KPI block in three views
(``etl_script/04_views.sql:115-142`` channel grain, ``:199-227``
campaign grain) and in ``analytics_queries.sql:76-86``. Here it is one
reusable builder.

Division is *true* division everywhere (documented deviation from the
PG integer-division truncation bug at ``04_views.sql:56-58`` — see
SURVEY.md §7.5); divide-by-zero yields NULL via NULLIF semantics
(``analytics_queries.sql:114``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def safe_div(num: Column, den: Column) -> Column:
    """num / NULLIF(den, 0) — NULL (not error/inf) on zero denominators."""
    return num / F.nullif(den.cast("double"), F.lit(0.0))


# ROUND(double, n) disagrees between engines at exact-tie values (Spark
# rounds the shortest decimal repr HALF_UP; DuckDB scales and rounds the
# binary value). For ratio outputs we need *identical* results, not any
# particular tie rule, so round as floor(q * 10^n + 0.5) / 10^n — every
# step is deterministic IEEE arithmetic on identical operands.

def pround(col: Column, ndigits: int) -> Column:
    scale = float(10 ** ndigits)
    return F.floor(col.cast("double") * scale + F.lit(0.5)) / F.lit(scale)


def sql_pround(expr: str, ndigits: int) -> str:
    scale = float(10 ** ndigits)
    return f"FLOOR(CAST(({expr}) AS DOUBLE) * {scale} + 0.5) / {scale}"


def kpi_columns(
    revenue: Column,
    cost: Column,
    spend: Column,
    orders: Column,
    impressions: Column,
    clicks: Column,
    ndigits: int = 4,
) -> dict[str, Column]:
    """The reference's KPI set over pre-aggregated sums.

    AOV = revenue/orders; CTR = clicks/impressions; ROAS = revenue/spend;
    profit_roas = (revenue-cost)/spend; ROI = (revenue-spend)/spend;
    profit_roi = (revenue-cost-spend)/spend.
    (``etl_script/04_views.sql:115-142``)
    """
    r, c, s = revenue.cast("double"), cost.cast("double"), spend.cast("double")
    return {
        "aov": F.round(safe_div(r, orders.cast("double")), ndigits),
        "ctr": F.round(safe_div(clicks.cast("double"), impressions.cast("double")), ndigits),
        "roas": F.round(safe_div(r, s), ndigits),
        "profit_roas": F.round(safe_div(r - c, s), ndigits),
        "roi": F.round(safe_div(r - s, s), ndigits),
        "profit_roi": F.round(safe_div(r - c - s, s), ndigits),
    }
