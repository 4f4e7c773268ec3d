"""Zero-extra-pass pipeline metrics via Spark's Observation API.

``ext/quality.py`` computes constraint metrics with a dedicated
aggregate action — right for a gate, wrong for routine telemetry: at
100 TB an extra metrics pass re-scans the table. ``observe()`` instead
piggybacks named aggregates onto whatever action the caller already
runs (the parquet write, the JDBC sink), so row counts / null counts /
sums arrive for free with the job. This is the production pattern for
per-stage ETL observability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def with_metrics(
    df: DataFrame,
    name: str,
    *extra: Column,
    count_nulls_in: list[str] | None = None,
) -> tuple[DataFrame, Observation]:
    """Attach an Observation to ``df``: row count, plus a null count
    per listed column, plus any extra aggregate columns. Metrics
    materialize with the caller's FIRST action on the returned frame
    — no additional scan. ``Observation.get`` blocks until then."""
    obs = Observation(name)
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in count_nulls_in or []:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_null_{c}")
        )
    aggs.extend(extra)
    return df.observe(obs, *aggs), obs
