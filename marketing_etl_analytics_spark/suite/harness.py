"""Test-harness I/O accommodations — NOT part of the engine.

Quarantined here (round-4 relocation, VERDICT r3 #7) so
``suite.common`` carries only the numeric discipline the engine
depends on. Everything in this module exists to make the DRIVER'S
testdata exercise the same parallelism a production layout gets for
free; on healthy data each helper is a no-op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from marketing_etl_analytics_spark.session import default_cpus

# The driver's testdata files are single-row-group parquet (verified
# with pyarrow), so Spark's scan parallelism is 1 regardless of
# maxPartitionBytes — every per-row expression (decimal casts, md5,
# shingling) would run on one core of 32. A spread repartition after
# read is the standard remedy for pathological single-block inputs;
# on real multi-file/multi-row-group data the scan parallelizes by
# itself and maybe_spread returns the frame untouched. Value-neutral
# for every suite entry (round-robin repartition reorders rows only;
# the numeric discipline makes all aggregates order-free).
# 200 KB: facts AND the compact-but-compute-heavy tables (documents
# explodes ~50x into shingles, embeddings carries 64-float vectors);
# true dims (part/supplier/nation/region) stay single-partition.
_SPREAD_MIN_BYTES = 200_000
_SPREAD_PARTITIONS = default_cpus()


def _needs_spread(path: str) -> bool:
    """True only for the single-row-group pathology: a lone parquet
    block can't parallelize at scan time no matter the config. Healthy
    multi-row-group/multi-file data returns False and no extra
    exchange is added (a blanket repartition would be a full shuffle
    of the fact table at cluster scale — exactly what we avoid)."""
    try:
        if os.path.getsize(path) < _SPREAD_MIN_BYTES:
            return False
        import pyarrow.parquet as pq  # footer-only read, ~1 ms

        return pq.ParquetFile(path).metadata.num_row_groups == 1
    except Exception:  # noqa: BLE001 — never fail a read over a heuristic
        return False


def maybe_spread(df: DataFrame, path: str) -> DataFrame:
    """Round-robin-repartition ``df`` iff ``path`` is a single-row-
    group parquet file big enough to matter; identity otherwise."""
    if _needs_spread(path):
        return df.repartition(_SPREAD_PARTITIONS)
    return df
