"""Embedding similarity: the lattice dot product, sign-LSH buckets and
ranked cosine top-k — the only code for each.

``SPARK_DOT`` is the exact dot product on the 1e-12 INTEGER lattice,
formatted with column expressions ``a`` and ``b``; a vector's squared
norm is ``SPARK_DOT(v, v)``. Each term is ``FLOOR(x*y * 1e12 + 0.5)``
on IEEE doubles: float32 inputs widen to double exactly and a product
of two float32 fits double's 53-bit mantissa, so every engine computes
the identical term. BIGINT addition is exact and order-free, so the
sum cannot diverge at any term count or partitioning, and the suite's
DuckDB oracles replay it as ``SQL_DOT`` (suite/ext.py). The previous
per-term ``CAST(... AS DECIMAL(38,12))`` snap left one engine-specific
operation in the chain — Java BigDecimal HALF_UP vs DuckDB
scaled-multiply can tie-round a term 1e-12 apart, which flipped a 6-dp
l2_norm at the 2 M-vector 1000x sweep (ext_embed_transform, vec
1032038) — and ran as interpreted BigDecimal per term.

Brute force is a broadcast of the (small) query side against the full
candidate set; the scale path puts a sign-LSH bucket (or any shared
key, e.g. an IVF cluster) on both sides and joins on it instead of
producing all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SPARK_DOT = (
    "(CAST(aggregate(sequence(1, size({a})), CAST(0 AS BIGINT),"
    " (acc, i) -> acc + CAST(FLOOR(CAST(element_at({a}, i) AS DOUBLE)"
    " * CAST(element_at({b}, i) AS DOUBLE) * 1e12 + 0.5) AS BIGINT))"
    " AS DOUBLE) / 1e12)"
)


def sign_bucket(vec: str = "embedding", bits: int = 8, first: int = 1) -> Column:
    """Sign-LSH bucket (BIGINT in [0, 2^bits)) from components
    ``first..first+bits-1``; component ``i`` weighs ``2^(i-first)``.

    For real workloads the hyperplanes would be random projections;
    component signs are the deterministic, test-friendly variant with
    the same plan shape.
    """
    zero = F.lit(0).cast("long")
    return F.aggregate(
        F.sequence(F.lit(first), F.lit(first + bits - 1)),
        zero,
        lambda acc, i: acc
        + F.when(
            F.element_at(F.col(vec), i).cast("double") > 0,
            F.pow(F.lit(2), i - first).cast("long"),
        ).otherwise(zero),
    )


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
    on: str | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query vector:
    (qid, cid[, on], cosine, rn), ranked by cosine DESC, cid ASC.

    candidates/queries: DataFrames with (key, vec) columns. ``on=None``
    broadcasts the queries against every candidate; ``on="<col>"``
    joins on a column both sides carry (a sign bucket, an IVF cluster)
    and keeps it — approximate, it misses neighbors under another key.
    A vector is never its own neighbor.

    Norms are computed once per vector and cosine is
    ``dot / sqrt(nq * nc)``, the oracles' expression. Zero-norm
    vectors are dropped from BOTH sides (cosine is undefined for them;
    without the filter the window would rank the resulting NaN first).
    """
    extra = [on] if on else []

    def side(df: DataFrame, k_: str, v: str, n: str) -> DataFrame:
        return (
            df.select(F.col(key).alias(k_), F.col(vec).alias(v), *extra)
            .withColumn(n, F.expr(SPARK_DOT.format(a=v, b=v)))
            .filter(F.col(n) > 0)
        )

    q = side(queries, "qid", "qe", "nq")
    c = side(candidates, "cid", "ce", "nc")
    joined = c.join(F.broadcast(q), on) if on else c.crossJoin(F.broadcast(q))
    # cosine as a COLUMN so the rank window orders by an attribute
    # (one evaluation per row, none per SortOrder comparison)
    cos = F.expr(SPARK_DOT.format(a="qe", b="ce")) / F.sqrt(F.col("nq") * F.col("nc"))
    pairs = joined.filter(F.col("qid") != F.col("cid")).select(
        "qid", "cid", *extra, cos.alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
