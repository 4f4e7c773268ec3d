"""Unit tests for the ext library (engine-facing API)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from marketing_etl_analytics_spark.ext import (
    attach_payload,
    cosine_topk,
    exact_dedup,
    extract_features,
    lsh_candidate_pairs,
    minhash_bands,
    quality_features,
    shingles,
    sign_bucket,
    token_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], ["text"])
    rows = df.select(shingles(F.col("text")).alias("s")).collect()
    assert rows[0].s == ["a b c", "b c d"]
    assert rows[1].s == []  # shorter than the shingle width


def test_exact_dedup_idempotent(docs):
    out = exact_dedup(docs, "doc_id", "text")
    assert out.count() == docs.count()
    # canonical ids are self-consistent: canonical rows are not dups
    assert out.filter((F.col("doc_id") == F.col("canonical_id")) & (F.col("is_dup") == 1)).count() == 0


def test_minhash_lsh_finds_near_dups(docs):
    bands = minhash_bands(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(bands, "doc_id")
    got = pairs.collect()
    assert len(got) > 0  # the synthetic corpus contains near-dups
    for r in got:
        assert 1 <= r.shared_bands <= 4


def test_minhash_bands_match_pure_python(spark):
    """ext.dedup's hash family, recomputed by hand: md5 of each 3-word
    shingle (first 12 hex digits) mod MH_PRIME, per permutation the
    minimum of (h * A_p + B_p) mod MH_PRIME, band minima joined by '|'."""
    import hashlib

    from marketing_etl_analytics_spark.ext.dedup import (
        MH_PRIME,
        N_BANDS,
        PERM_A,
        PERM_B,
        ROWS_PER_BAND,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The Quick brown FOX jumps over the lazy cat"),  # mixed case
        (3, "a b c a b c a b c"),  # repeated shingles
        (4, "too short"),  # below the shingle width: no rows
        (5, "one two three"),  # exactly one shingle
    ]

    def bands(text):
        toks = text.lower().split(" ")
        shs = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:12], 16) % MH_PRIME for s in shs]
        if not hs:
            return []
        mins = [min((h * a + b) % MH_PRIME for h in hs) for a, b in zip(PERM_A, PERM_B)]
        return [
            (band, "|".join(str(m) for m in mins[band * ROWS_PER_BAND:][:ROWS_PER_BAND]))
            for band in range(N_BANDS)
        ]

    want = sorted((k, band, sig) for k, text in docs for band, sig in bands(text))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in minhash_bands(df, "doc_id", "text").collect())
    assert got == want
    assert {k for k, _, _ in got} == {1, 2, 3, 5}


def test_cosine_topk_self_similarity(spark, emb):
    # a vector's nearest neighbor list must not contain itself, and
    # cosine is within [-1, 1]
    q = emb.filter(F.col("vec_id") < 3)
    out = cosine_topk(emb, q, k=4).collect()
    assert len(out) == 12
    for r in out:
        assert r.qid != r.cid
        assert -1.0001 <= r.cosine <= 1.0001
    # rank 1 has the max cosine per query
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append((r.rn, r.cosine))
    for rows in by_q.values():
        rows.sort()
        assert all(rows[i][1] >= rows[i + 1][1] for i in range(len(rows) - 1))


def test_cosine_topk_bucketed_is_subset_quality(spark, emb):
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.qid, r.cid) for r in cosine_topk(emb, q, k=3).collect()}
    # coarse buckets (4) on 500 vectors — fine 256-bucket LSH would
    # leave ~2 vectors per bucket and near-zero recall at this scale
    b = emb.withColumn("bucket", sign_bucket("embedding", 2))
    approx = cosine_topk(b, b.filter(F.col("vec_id") < 5), k=3, on="bucket").collect()
    # approximate results come from the same bucket; they need not equal
    # the exact set, but every returned pair must share the query bucket
    # and report it
    buckets = {r.vec_id: r.bucket for r in b.select("vec_id", "bucket").collect()}
    for r in approx:
        assert buckets[r.qid] == buckets[r.cid] == r.bucket
    assert len({(r.qid, r.cid) for r in approx} & exact) > 0  # nonzero recall


def test_quality_and_tokens(docs):
    q = quality_features(docs)
    assert q.filter(F.col("quality").isin("ok", "too_short", "low_content")).count() == docs.count()
    tc = token_counts(docs).select("ws_tokens", "re_tokens").collect()
    for r in tc:
        assert r.re_tokens >= r.ws_tokens  # regex splits at least as fine


def test_multimodal_stub(docs):
    payloads = attach_payload(docs.limit(20))
    assert payloads.schema["payload"].dataType.typeName() == "binary"
    feats = extract_features(payloads).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r.features) == 8
        assert r.byte_len > 0
        assert r.decoder == "fake-v1"
    # mode="real" decodes BMP/WAV (tests/test_multimodal_codecs.py);
    # text payloads aren't a decodable media container and must raise
    with pytest.raises(Exception, match="PIL/ffmpeg"):
        extract_features(payloads, mode="real").collect()


def test_multimodal_resize_and_frames(docs):
    from marketing_etl_analytics_spark.ext.multimodal import (
        FRAME_BYTES,
        resize_images,
        sample_frames,
    )

    payloads = attach_payload(docs.limit(10))
    resized = resize_images(payloads, 8, 4).collect()
    assert len(resized) == 10
    assert all(len(bytes.fromhex(r.payload)) == 8 * 4 for r in resized)

    frames = sample_frames(payloads, every_n=2).collect()
    # fan-out: more frame rows than docs, indices stride by 2
    assert len(frames) > 10
    assert all(r.frame_idx % 2 == 0 for r in frames)
    assert all(0 < len(bytes.fromhex(r.frame)) <= FRAME_BYTES for r in frames)


def test_dedup_eval_recall_floor(spark):
    """The LSH candidate generator must catch (nearly) every true
    J >= 0.8 pair: with 4 bands x 4 rows the per-pair detection
    probability is >= 0.87 at J = 0.8 and ~1 at the corpus's actual
    near-dup similarity (~0.99). Floor at 0.9; also require the
    metric to be non-degenerate (truth exists) and precision sane."""
    from marketing_etl_analytics_spark.suite import SUITE

    row = SUITE["ext_dedup_eval"].fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_truth > 0
    assert row.recall is not None and row.recall >= 0.9
    assert row.precision is not None and row.precision >= 0.3

