"""Declarative data-quality expectations (deequ / Delta-constraints shape).

A training-data pipeline gates every ingest batch on constraint
metrics: completeness, key uniqueness, range/domain/format compliance,
referential integrity. The reference validates implicitly (NOT NULL
columns + ON CONFLICT keys in `etl_script/01_create_tables.sql`); at
100 TB validation must instead be a METRICS JOB whose report decides
whether the batch ships — a failed INSERT 80 TB into a load is not an
error-handling strategy.

Plan shape, deliberately:

- Every row-local check (not_null / in_range / in_set / matches) and
  every uniqueness check fuses into ONE global aggregate over a single
  scan — violations are `SUM(CASE WHEN ...)` / `COUNT(DISTINCT ...)`
  branches of the same HashAggregate, so adding a check adds zero
  passes over the data. The scan is column-pruned to just the checked
  columns.
- Referential-integrity checks each add one left-anti probe against
  the (broadcast, dimension-sized) reference keys — the fact side
  never shuffles.

The report is one row per check: ``(check, target, violations, total,
metric, passed)``, deterministic, hence oracle-verifiable exactly.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.functions.kpis import pround


@dataclass(frozen=True)
class Check:
    kind: str
    target: str          # column (or comma-joined columns) under test
    cond: Column | None  # row-level violation predicate, if row-local
    ref: DataFrame | None = None
    ref_cols: tuple[str, ...] = field(default=())

    @property
    def name(self) -> str:
        return f"{self.kind}({self.target})"


def not_null(col: str) -> Check:
    return Check("not_null", col, F.col(col).isNull())


def in_range(col: str, lo, hi) -> Check:
    # NULLs are not range violations; not_null() owns completeness
    return Check(
        "in_range", col,
        F.col(col).isNotNull() & ~F.col(col).between(F.lit(lo), F.lit(hi)),
    )


def in_set(col: str, values: list) -> Check:
    return Check(
        "in_set", col,
        F.col(col).isNotNull() & ~F.col(col).isin(values),
    )


def matches(col: str, regex: str) -> Check:
    return Check(
        "matches", col,
        F.col(col).isNotNull() & ~F.col(col).rlike(regex),
    )


def unique(*cols: str) -> Check:
    return Check("unique", ",".join(cols), None)


def foreign_key(cols: list[str], ref: DataFrame, ref_cols: list[str]) -> Check:
    return Check("foreign_key", ",".join(cols), None, ref, tuple(ref_cols))


def validate(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Constraint report for ``df``: one row per check.

    ``metric`` is the violation fraction (violations/total) for
    row-local checks, the duplication fraction (1 - distinct/total)
    for uniqueness, and the orphan fraction for foreign keys.
    ``passed`` is ``violations == 0``.
    """
    if not checks:
        raise ValueError("no checks given")
    aggs = [F.count(F.lit(1)).alias("_total")]
    for i, c in enumerate(checks):
        if c.cond is not None:
            aggs.append(F.sum(c.cond.cast("long")).alias(f"_v{i}"))
        elif c.kind == "unique":
            cols = c.target.split(",")
            aggs.append(
                (F.count(F.lit(1)) - F.count_distinct(*[F.col(x) for x in cols]))
                .alias(f"_v{i}")
            )
    fused = df.agg(*aggs).localCheckpoint(eager=True)

    spark = df.sparkSession
    reports: list[DataFrame] = []
    for i, c in enumerate(checks):
        if c.kind == "foreign_key":
            cols = c.target.split(",")
            probe = df.select(*cols).na.drop(how="any")
            ref_keys = c.ref.select(
                *[F.col(rc).alias(x) for rc, x in zip(c.ref_cols, cols)]
            ).dropDuplicates()
            orphans = probe.join(F.broadcast(ref_keys), cols, "left_anti")
            viol = orphans.agg(F.count(F.lit(1)).alias("_v")).crossJoin(
                fused.select("_total")
            )
            rep = viol.select(
                F.lit(c.name).alias("check"),
                F.lit(c.target).alias("target"),
                F.col("_v").alias("violations"),
                F.col("_total").alias("total"),
            )
        else:
            rep = fused.select(
                F.lit(c.name).alias("check"),
                F.lit(c.target).alias("target"),
                F.col(f"_v{i}").cast("long").alias("violations"),
                F.col("_total").alias("total"),
            )
        reports.append(rep)

    out = reports[0]
    for r in reports[1:]:
        out = out.unionAll(r)
    # empty-batch discipline: SUM over zero rows is NULL -> coalesce
    # violations to 0 so an empty ingest batch reports clean instead of
    # NULL flags (or a DIVIDE_BY_ZERO under ANSI mode on the metric).
    viol = F.coalesce(F.col("violations"), F.lit(0)).cast("long")
    frac = viol / F.nullif(F.col("total").cast("double"), F.lit(0.0))
    return out.select(
        "check", "target",
        viol.alias("violations"),
        "total",
        pround(frac, 6).alias("metric"),
        (viol == 0).alias("passed"),
    )
