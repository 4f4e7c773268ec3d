"""Embedding similarity search.

Brute force is a broadcast of the (small) query side against the full
candidate set; the scale path buckets both sides by sign-LSH so the
join shuffles on the bucket key instead of producing all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Double-precision sequential dot product (JVM-side, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_sign_bucket(df: DataFrame, vec: str = "embedding", bits: int = 8) -> DataFrame:
    """Sign-LSH bucket from the first ``bits`` components (2^bits buckets).

    For real workloads the hyperplanes would be random projections;
    component signs are the deterministic, test-friendly variant with
    the same plan shape.
    """
    bucket = F.aggregate(
        F.sequence(F.lit(1), F.lit(bits)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            F.element_at(F.col(vec), i).cast("double") > 0,
            F.pow(F.lit(2.0), i.cast("double") - 1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return df.withColumn("bucket", bucket)


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
    bucketed: bool = False,
    bucket_bits: int = 8,
) -> DataFrame:
    """Top-k cosine neighbors per query vector.

    candidates/queries: DataFrames with (key, vec) columns. With
    ``bucketed=True`` both sides are sign-bucketed and the join runs
    per bucket (approximate; misses cross-bucket neighbors — that is
    the recall/cost trade).

    Zero-norm vectors are dropped from BOTH sides before scoring
    (cosine is undefined for them; without the filter the window
    would rank the resulting NaN first).
    """
    q = queries.select(
        F.col(key).alias("qid"), F.col(vec).alias("qe")
    ).filter(_dot(F.col("qe"), F.col("qe")) > 0)
    c = candidates.select(F.col(key).alias("cid"), F.col(vec).alias("ce")).filter(
        _dot(F.col("ce"), F.col("ce")) > 0
    )
    if bucketed:
        q = with_sign_bucket(q, "qe", bucket_bits)
        c = with_sign_bucket(c, "ce", bucket_bits)
        joined = c.join(F.broadcast(q), "bucket")
    else:
        joined = c.crossJoin(F.broadcast(q))
    pairs = joined.filter(F.col("qid") != F.col("cid")).select(
        "qid",
        "cid",
        (
            _dot(F.col("qe"), F.col("ce"))
            / (
                F.sqrt(_dot(F.col("qe"), F.col("qe")))
                * F.sqrt(_dot(F.col("ce"), F.col("ce")))
            )
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)

