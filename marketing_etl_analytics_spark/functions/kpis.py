"""KPI arithmetic primitives (SURVEY.md §2.D D8): safe division and
engine-portable rounding.

The reference repeats the same ratio-of-sums KPI block in three views
(``etl_script/04_views.sql:115-142`` channel grain, ``:199-227``
campaign grain) and in ``analytics_queries.sql:76-86``. Here the block
has one builder, ``views.kpi_from_totals``; this module holds the
division and rounding it shares with the queries.

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

