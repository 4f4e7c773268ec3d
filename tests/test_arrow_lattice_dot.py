"""arrow_lattice_dots must be BIT-identical to the SQL lattice dot.

The pair-verify rewrite (r9 optimization round) moves the SPARK_DOT
evaluation of the semantic-dedup pair stage into an Arrow/NumPy
batch evaluator. Nothing about the claim is approximate: float→
float64 widening is exact, NumPy float64 multiply and np.floor are
the same IEEE-754 operations Catalyst evaluates, int64 accumulation
is the same exact BIGINT sum, and the final /1e12 divides identical
operands — so every dot must compare EQUAL (==), not merely close.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.ext.embedding import arrow_lattice_dots
from marketing_etl_analytics_spark.ext.similarity import SPARK_DOT

SF_DIR = "/root/testdata/sf0.01"


def _pairs(spark, n_mod: int):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.select(
        F.col("vec_id").alias("u"),
        F.col("embedding").alias("ue"),
        (F.col("vec_id") % n_mod).alias("k"),
    )
    b = emb.select(
        F.col("vec_id").alias("v"),
        F.col("embedding").alias("ve"),
        (F.col("vec_id") % n_mod).alias("k"),
    )
    return a.join(b, "k").filter(F.col("u") < F.col("v"))


def test_bit_identical_to_sql_lattice_dot(spark):
    pairs = _pairs(spark, 37).localCheckpoint(eager=True)
    n = pairs.count()
    assert n > 1000  # meaningful volume
    jvm = pairs.select(
        "u", "v", F.expr(SPARK_DOT.format(a="ue", b="ve")).alias("d1")
    )
    arrow = arrow_lattice_dots(pairs, "ue", "ve", "d2").select("u", "v", "d2")
    joined = jvm.join(arrow, ["u", "v"])
    assert joined.count() == n
    # exact equality — any representation drift is a failure
    assert joined.filter(F.col("d1") != F.col("d2")).count() == 0


def test_passthrough_columns_and_schema(spark):
    pairs = _pairs(spark, 11).limit(50)
    out = arrow_lattice_dots(pairs, "ue", "ve", "dot")
    assert set(out.columns) == {"u", "v", "k", "dot"}  # arrays dropped
    assert dict(out.dtypes)["dot"] == "double"
    assert out.count() == pairs.count()


def test_empty_input(spark):
    pairs = _pairs(spark, 11).filter(F.lit(False))
    assert arrow_lattice_dots(pairs, "ue", "ve").count() == 0


def test_narrow_vectors(spark):
    df = spark.createDataFrame(
        [(1, [0.25, -0.5, 0.125], [1.0, 2.0, -4.0]),
         (2, [0.1, 0.2, 0.3], [0.3, 0.2, 0.1])],
        "u long, ue array<double>, ve array<double>",
    )
    jvm = df.select("u", F.expr(SPARK_DOT.format(a="ue", b="ve")).alias("d1"))
    arrow = arrow_lattice_dots(df, "ue", "ve", "d2")
    j = jvm.join(arrow, "u")
    assert j.filter(F.col("d1") != F.col("d2")).count() == 0


@pytest.fixture(scope="module")
def spark():
    from marketing_etl_analytics_spark.session import get_spark

    return get_spark(app_name="test-arrow-dot", shuffle_partitions=4)
