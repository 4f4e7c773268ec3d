"""Embedding preprocessing engine API (`ext/embedding.py`, r5): sign
matrix determinism, int8 quantization contract, and the JL
projection's energy preservation. The oracle-graded
`ext_embed_transform` row carries the oracle evidence; here we pin the
library-level properties the oracle can't see (reconstruction bounds,
empty inputs)."""

from __future__ import annotations

import math

import pytest

from marketing_etl_analytics_spark.ext.embedding import (
    project_signs,
    quantize_int8,
    sign_matrix,
)

from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")


def test_sign_matrix_deterministic_and_balanced():
    a = sign_matrix(64, 8)
    assert a == sign_matrix(64, 8)  # pure function of (d, p, tag)
    assert a != sign_matrix(64, 8, tag="other")
    assert len(a) == 8 and all(len(s) == 64 for s in a)
    # md5-derived signs should be roughly balanced per row (a wildly
    # unbalanced row would make the projection a near-copy of the sum)
    for s in a:
        ones = s.count("1")
        assert 20 <= ones <= 44, s


def test_quantize_int8_contract(spark, emb):
    q = quantize_int8(emb.limit(50)).collect()
    for r in q:
        assert len(r["codes"]) == len(r["embedding"])
        assert all(-127 <= c <= 127 for c in r["codes"])
        max_abs = max(abs(x) for x in r["embedding"])
        assert r["scale"] == pytest.approx(max_abs / 127.0)
        # reconstruction error bounded by scale/2 per coordinate
        for v, c in zip(r["embedding"], r["codes"]):
            assert abs(v - c * r["scale"]) <= r["scale"] / 2 + 1e-12
        # the max-|v| coordinate maps to +/-127 exactly
        assert 127 in {abs(c) for c in r["codes"]}


def test_quantize_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    r = quantize_int8(df).collect()[0]
    assert r["scale"] == 0.0 and r["codes"] == [0] * 8


def test_projection_preserves_energy_in_expectation(spark, emb):
    """JL with 1/sqrt(p) scaling: E[||Pv||^2] = ||v||^2. Averaged
    over the corpus the energy ratio should sit near 1 (individual
    vectors vary — that's the lemma's variance, not a bug)."""
    rows = project_signs(emb, p=8).collect()
    ratios = []
    for r in rows:
        n2 = sum(float(x) * float(x) for x in r["embedding"])
        p2 = sum(x * x for x in r["proj"])
        if n2 > 0:
            ratios.append(p2 / n2)
    mean = sum(ratios) / len(ratios)
    assert 0.8 <= mean <= 1.2, mean
    assert all(math.isfinite(x) for x in ratios)


def test_project_signs_empty_and_explicit_dim(spark):
    """ADVICE r5: empty inputs raise a readable ValueError instead of
    TypeError, and passing d= skips the one-row probe so an empty
    frame with explicit d builds a valid (empty) projection lazily."""
    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="pass d= explicitly"):
        project_signs(empty)
    # explicit d: lazy plan on an empty frame, zero rows out
    assert project_signs(empty, p=4, d=16).count() == 0
    # explicit d equals inferred d on real data
    df = spark.createDataFrame(
        [(1, [0.5] * 16), (2, [-0.25] * 16)],
        "vec_id long, embedding array<double>",
    )
    a = project_signs(df, p=4).select("vec_id", "proj").collect()
    b = project_signs(df, p=4, d=16).select("vec_id", "proj").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
