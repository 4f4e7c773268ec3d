"""Mergeable sketch operators, column-parameterized.

The only HyperLogLog, Count-Min and Bloom kernels in the package. The
suite's sketch entries (`ext_sketch_hll`, `ext_sketch_countmin`,
`ext_sketch_bloom`, `stream_sketch_hll`, `stream_sketch_countmin`)
are ``(spark, sf_dir)`` adapters over these functions, and their
DuckDB oracles read ``HLL_M``, ``HLL_NUMER``, ``HLL_LC``, ``CM_D``,
``CM_W`` and ``BLOOM_K`` from here. Each sketch builds a constant-size
summary of unbounded keyed data, merges associatively, and answers
distinct-count / frequency / membership queries without rescanning
the data. All hashing is md5-derived, so sketches are deterministic
and reproducible across engines, runs, and partitionings — the
property the oracles exploit to verify the ESTIMATES exactly, and the
property a production pipeline exploits to make sketch stores
idempotent under replays.

Scale shape: a sketch build is one shuffle to (group, register/
counter) and constant rows per group thereafter; merges touch sketch
rows only, never the source data.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- HyperLogLog -------------------------------------------------------------

HLL_M = 64  # registers; standard error 1.04/sqrt(m) ~ 13%
_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # alpha_64 per the paper
HLL_NUMER = _ALPHA * HLL_M * HLL_M * float(1 << 43)
# m*ln(m/zeros) for the linear-counting correction: zeros ranges over
# 1..63 only, so a literal table (rendered with repr, parsed back to
# the identical double) keeps the estimate engine-independent
HLL_LC = {z: HLL_M * math.log(HLL_M / z) for z in range(1, HLL_M)}


def _hv(col: Column) -> Column:
    """48-bit md5-derived hash — the dedup family's hashing."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast(
        "long"
    )


def hll_registers(
    df: DataFrame, value: str, group_cols: list[str] | None = None
) -> DataFrame:
    """(group..., idx, m) register table — the sketch itself.

    No DISTINCT before the build: max of rank over the raw multiset
    equals the max over the distinct set, and the register groupBy
    partial-aggregates map-side down to m rows per group.

    Mergeable: ``hll_merge`` over any union of register tables is
    lossless (max is associative, commutative, idempotent), which is
    what makes per-partition / per-micro-batch partial sketches
    combine exactly.
    """
    group_cols = group_cols or []
    w = F.expr(f"hv div {HLL_M}")
    ranked = df.select(*group_cols, _hv(F.col(value)).alias("hv")).select(
        *group_cols,
        (F.col("hv") % HLL_M).alias("idx"),
        F.when(w == 0, F.lit(43)).otherwise(43 - F.length(F.bin(w))).alias("rank"),
    )
    return ranked.groupBy(*group_cols, "idx").agg(F.max("rank").alias("m"))


def hll_merge(regs: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge register tables (register-wise max per group)."""
    group_cols = group_cols or []
    return regs.groupBy(*group_cols, "idx").agg(F.max("m").alias("m"))


def hll_estimate(regs: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """(group..., n_zero_registers, hll_estimate) from a register table.

    Integer-exact harmonic sum (sum 2^(43-M_j) as BIGINT), one double
    division, and the linear-counting small-range correction via the
    ``HLL_LC`` table — deterministic end-to-end.
    """
    group_cols = group_cols or []
    agg = regs.groupBy(*group_cols).agg(
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("long").alias("n_zero_registers"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 43 - m)")).alias("s_present"),
    )
    s = (
        F.col("s_present")
        + F.col("n_zero_registers") * F.lit(1 << 43).cast("long")
    ).cast("double")
    raw = F.lit(HLL_NUMER) / s
    lc = F.expr(
        "CASE n_zero_registers "
        + " ".join(f"WHEN {z} THEN CAST({v!r} AS DOUBLE)" for z, v in HLL_LC.items())
        + " ELSE 0.0 END"
    )
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("n_zero_registers") > 0), lc
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        "n_zero_registers",
        F.floor(est + F.lit(0.5)).cast("long").alias("hll_estimate"),
    )


# --- Count-Min ---------------------------------------------------------------

CM_D = 4  # hash rows
CM_W = 512  # counters per row


def _cm_cells(df: DataFrame, value: str) -> DataFrame:
    """``df``'s rows times the CM_D hash rows ``j``, each carrying the
    bucket its ``value`` hashes to in row j."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("j"), F.col(value))), 1, 12),
            16,
            10,
        ).cast("long")
        % CM_W
    )
    return df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(CM_D - 1))).alias("j")
    ).withColumn("bucket", bucket)


def countmin_freq_counters(freq: DataFrame, value: str) -> DataFrame:
    """(j, bucket, c) counter table from a (``value``, n) frequency
    frame. The d-fold expansion costs |distinct values| rows, not
    |rows|; the counter table is d*w rows regardless of input size.
    Counters are additive — summing two counter tables sketches the
    concatenated input."""
    return _cm_cells(freq, value).groupBy("j", "bucket").agg(F.sum("n").alias("c"))


def countmin_counters(df: DataFrame, value: str) -> DataFrame:
    """Count-Min counter table of the ``value`` column's frequencies."""
    freq = df.groupBy(value).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return countmin_freq_counters(freq, value)


def countmin_query(counters: DataFrame, probes: DataFrame, value: str) -> DataFrame:
    """(probe columns..., cm_estimate): the min over the d counters each
    probe's ``value`` hashes into. Estimates never underestimate
    (one-sided error <= e*N/w with prob 1-e^-d)."""
    # LEFT join + 0-fill: counter tables only materialize OCCUPIED
    # buckets, but the sketch's semantics are min over ALL d cells —
    # a probe value never seen (or whose cells are partly empty) must
    # estimate from the empty cells' zeros, not vanish or inflate
    return (
        _cm_cells(probes, value)
        .join(counters, ["j", "bucket"], "left")
        .groupBy(*probes.columns)
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("cm_estimate")
        )
    )


# --- Bloom filter (membership) ------------------------------------------------

BLOOM_M = 1 << 20
BLOOM_K = 3


def bloom_salts() -> Column:
    """Generator of the salts j = 1..BLOOM_K, one row per salt."""
    return F.explode(F.sequence(F.lit(1), F.lit(BLOOM_K))).alias("j")


def bloom_hash(value: Column) -> Column:
    """32-bit md5('<j>:' || value) for salt column ``j``; the salt-j
    position in an m-bit filter is this hash % m."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), value)), 1, 8
        ),
        16,
        10,
    ).cast("long")


def bloom_bits(df: DataFrame, value: str, m: int = BLOOM_M) -> DataFrame:
    """(pos) distinct set-bit positions — the Bloom filter itself in
    relational form. At most ``m`` rows at ANY input size; mergeable
    by UNION + distinct (the bitwise OR), idempotent under replays
    because the hashing is md5-deterministic. At scale the frame
    compiles to a broadcast m-bit bitmap and probes become row-local
    k-ANDs — the shape Spark's runtime bloom-filter join pruning
    uses."""
    return (
        df.select(value)
        .distinct()
        .select(bloom_salts(), value)
        .select((bloom_hash(F.col(value)) % m).alias("pos"))
        .distinct()
    )


def bloom_might_contain(
    bits: DataFrame, probes: DataFrame, value: str, m: int = BLOOM_M
) -> DataFrame:
    """(value, might_contain) for each distinct probe value: TRUE iff
    all k of its positions are set in ``bits``. NO FALSE NEGATIVES —
    a value that went into bloom_bits always returns TRUE; false
    positives occur at ~(set_bits/m)^k. ``bits`` must have been built
    with the same ``m``."""
    keyed = (
        probes.select(value)
        .distinct()
        .select(bloom_salts(), value)
        .select(value, (bloom_hash(F.col(value)) % m).alias("pos"))
    )
    return (
        keyed.join(F.broadcast(bits.withColumn("_hit", F.lit(1))), "pos", "left")
        .groupBy(value)
        .agg((F.count_if(F.col("_hit").isNotNull()) == BLOOM_K).alias("might_contain"))
    )
