"""The r10 corpus x centers Arrow evaluators must be BIT-identical to
the expression forms they replace.

Each evaluator re-implements a crossJoin(broadcast(centers)) +
rank-window (or min-aggregate) shape as one vectorized NumPy pass with
the planning-sized center set in the task closure. Nothing is
approximate: the lattice dot is the arrow_lattice_dots kernel (proved
bit-identical in test_arrow_lattice_dot.py), np.sqrt and division are
the same correctly-rounded IEEE ops Catalyst evaluates, and every
selection replicates Spark's ordering (NaN greatest, ties on ascending
center id). The whole-path tests drive the REAL callers both ways by
toggling curation.ARROW_CENTERS_MAX, so any divergence in the
surrounding plumbing (empty-candidate drops, column passthrough,
probe counts) also fails.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.ext import curation
from marketing_etl_analytics_spark.ext.embedding import (
    arrow_lattice_norms,
    arrow_min_center_dist,
    arrow_nearest_center,
)
from marketing_etl_analytics_spark.ext.similarity import SPARK_DOT

SF_DIR = "/root/testdata/sf0.01"


def _base(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.select(
        "vec_id",
        "embedding",
        F.expr(SPARK_DOT.format(a="embedding", b="embedding")).alias("n2"),
    )


def _centers(spark, n=16):
    """Deterministic pseudo-random center set: md5-first n rows."""
    b = _base(spark)
    rows = (
        b.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n)
        .collect()
    )
    return [(r["vec_id"], list(r["embedding"]), float(r["n2"])) for r in rows]


def _rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_lattice_norms_bit_identical(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    jvm = emb.select(
        "vec_id",
        F.expr(SPARK_DOT.format(a="embedding", b="embedding")).alias("n2"),
    )
    arrow = arrow_lattice_norms(emb, "embedding", "n2").select("vec_id", "n2")
    j = jvm.withColumnRenamed("n2", "n1").join(arrow, "vec_id")
    assert j.count() == emb.count()
    assert j.filter(F.col("n1") != F.col("n2")).count() == 0


def test_nearest_center_matches_rank_window(spark):
    b = _base(spark)
    centers = _centers(spark)
    cent = spark.createDataFrame(
        [(c[0], c[1], c[2]) for c in centers],
        "cid long, ce array<float>, cn2 double",
    )
    cos = F.expr(SPARK_DOT.format(a="embedding", b="ce")) / F.sqrt(
        F.col("n2") * F.col("cn2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cc"), F.asc("cid"))
    jvm = (
        b.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", cos.alias("_cc"))
        .withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select("vec_id", F.col("cid").alias("best"))
    )
    arrow = arrow_nearest_center(
        b, "embedding", "n2", centers, "best", keep=["vec_id"]
    )
    assert _rows_set(jvm) == _rows_set(arrow)


def test_nearest_center_zero_norm_guard(spark):
    # zero-norm rows/centers exercise the COALESCE-0 guard
    # (zero_cos=0.0 — the kmeanspar form). The RAW-division form is
    # not comparable on zero norms: Spark 4's ANSI mode turns the
    # divide into an error, so graded corpora for the raw paths can
    # never contain zero-norm rows (they would fail the query, not
    # produce a different assignment) — the sf0.01 corpus test above
    # covers the raw form on real data.
    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0], ),
            (2, [0.5, -0.25], ),
            (3, [1e-9, 0.0], ),  # n2 snaps to 0 on the lattice
        ],
        "vec_id long, embedding array<double>",
    ).select(
        "vec_id",
        "embedding",
        F.expr(SPARK_DOT.format(a="embedding", b="embedding")).alias("n2"),
    )
    centers = [
        (10, [0.0, 0.0], 0.0),
        (11, [1.0, 1.0], 2.0),
        (12, [-1.0, 0.5], 1.25),
    ]
    cent = spark.createDataFrame(
        centers, "cid long, ce array<double>, cn2 double"
    )
    guarded = F.coalesce(
        F.expr(SPARK_DOT.format(a="embedding", b="ce"))
        / F.nullif(F.sqrt(F.col("n2") * F.col("cn2")), F.lit(0.0)),
        F.lit(0.0),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cc"), F.asc("cid"))
    jvm = (
        df.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", guarded.alias("_cc"))
        .withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select("vec_id", F.col("cid").alias("best"))
    )
    arrow = arrow_nearest_center(
        df, "embedding", "n2", centers, "best",
        keep=["vec_id"], zero_cos=0.0,
    )
    assert _rows_set(jvm) == _rows_set(arrow)


def test_min_center_dist_matches_expression(spark):
    b = _base(spark).withColumn("d0", F.lit(0.7))
    centers = _centers(spark, n=5)
    cent = spark.createDataFrame(
        centers, "cid long, ce array<float>, cn2 double"
    )
    cos = F.coalesce(
        F.expr(SPARK_DOT.format(a="embedding", b="ce"))
        / F.nullif(F.sqrt(F.col("n2") * F.col("cn2")), F.lit(0.0)),
        F.lit(0.0),
    )
    d = F.greatest(F.lit(0.0), F.lit(1.0) - cos)
    jvm = (
        b.crossJoin(F.broadcast(cent))
        .groupBy("vec_id", "d0")
        .agg(F.min(F.least(F.col("d0"), d)).alias("dmin"))
        .select("vec_id", "dmin")
    )
    arrow = arrow_min_center_dist(
        b.select("vec_id", "embedding", "n2", "d0"),
        "embedding", "n2", centers, "dmin", carry="d0",
    ).select("vec_id", "dmin")
    assert _rows_set(jvm) == _rows_set(arrow)


def _toggle_paths(monkeypatch, fn):
    """Run ``fn()`` on the Arrow path and on the frame path and return
    both results (the env-independent whole-path A/B)."""
    monkeypatch.setattr(curation, "ARROW_CENTERS_MAX", 10**9)
    arrow = fn()
    monkeypatch.setattr(curation, "ARROW_CENTERS_MAX", 0)
    frame = fn()
    return arrow, frame


def test_semantic_assign_exact_whole_path(spark, monkeypatch):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    arrow, frame = _toggle_paths(
        monkeypatch,
        lambda: curation.semantic_assign(
            emb, n_centroids=8, cluster_cap=32, seeding="farthest"
        ),
    )
    assert _rows_set(arrow) == _rows_set(frame)


def test_semantic_assign_ivf_kmeanspar_whole_path(spark, monkeypatch):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    arrow, frame = _toggle_paths(
        monkeypatch,
        lambda: curation.semantic_assign(
            emb, n_centroids=16, cluster_cap=32,
            seeding="kmeanspar", assign="ivf", n_probe=2,
        ),
    )
    assert _rows_set(arrow) == _rows_set(frame)


def test_nan_center_outranks_inf():
    """Spark ranks NaN above +inf. A row whose lattice norm rounds to
    0 scores +inf against a real center and NaN (0/0) against a
    higher-id zero center: the NaN center must win the argmax and
    head the probe order."""
    import numpy as np

    from marketing_etl_analytics_spark.ext.embedding import (
        _argmax,
        _desc_order,
        _np_cos_matrix,
    )

    vm = np.array([[1e-7, 0.0]])
    n2 = np.array([0.0])  # floor(1e-14 * 1e12 + 0.5) == 0
    cm = np.array([[1.0, 0.0], [0.0, 0.0]])
    cn2 = np.array([1.0, 0.0])
    cos = _np_cos_matrix(vm, n2, cm, cn2, None)
    assert np.isposinf(cos[0, 0]) and np.isnan(cos[0, 1])
    assert _argmax(cos).tolist() == [1]
    assert _desc_order(cos).tolist() == [[1, 0]]
    # a masked-out NaN column does not outrank an allowed +inf one
    assert _argmax(cos, np.array([[True, False]])).tolist() == [0]


def test_null_vector_raises_on_both_paths(spark, monkeypatch):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter("vec_id < 200")
    holed = emb.select(
        "vec_id",
        F.when(F.col("vec_id") == 7, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    for cap in (10**9, 0):  # Arrow path, then the frame fallback
        monkeypatch.setattr(curation, "ARROW_CENTERS_MAX", cap)
        with pytest.raises(Exception, match="NULL vector in column 'embedding'"):
            curation.semantic_assign(holed, n_centroids=4, cluster_cap=32).collect()


def test_semantic_assign_rejects_non_integer_key(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    with pytest.raises(
        ValueError, match="key 'vec_id' must be an integer column, got string"
    ):
        curation.semantic_assign(emb)


@pytest.fixture(scope="module")
def spark():
    from marketing_etl_analytics_spark.session import get_spark

    return get_spark(app_name="test-arrow-centers", shuffle_partitions=4)
