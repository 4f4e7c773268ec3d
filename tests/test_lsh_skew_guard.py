"""LSH bucket-skew guards stay bounded on a synthetic hot bucket.

The 100-TB hazard: one super-frequent band signature (boilerplate,
empty docs, templated pages) turns a single LSH bucket quadratic —
C(n, 2) candidate pairs from one (band, signature) value. The guards:

- token LSH (MinHash / SimHash): buckets over ``LSH_BUCKET_CAP``
  members are DROPPED (spam-signature mitigation; docs keep their
  other bands);
- embedding sign-LSH: buckets over ``EMB_BUCKET_CAP`` members are
  REFINED onto 8 more hyperplane bits (dropping would blind whole
  embedding regions).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from marketing_etl_analytics_spark.ext.dedup import (
    LSH_BUCKET_CAP,
    cap_lsh_buckets,
    simhash_candidate_pairs,
)
from marketing_etl_analytics_spark.suite.ext import ext_dedup_minhash_lsh
from marketing_etl_analytics_spark.suite.ext_scale import (
    EMB_BUCKET_CAP,
    ext_dedup_embedding_cosine,
)

N_SPAM = LSH_BUCKET_CAP + 22  # one hot bucket, comfortably over cap

SPAM = "all work and no play makes jack a dull boy " * 4
DISTINCT_A = (
    "the migratory patterns of arctic terns span both polar regions "
    "covering seventy thousand kilometres in a single year of flight"
)


def _docs_df(spark):
    """N_SPAM identical boilerplate docs + one identical distinctive
    pair (doc_ids 1000/1001)."""
    rows = [(i, SPAM) for i in range(N_SPAM)]
    rows += [(1000, DISTINCT_A), (1001, DISTINCT_A)]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    return spark.createDataFrame(rows, schema)


def _write_docs(spark, tmp_path):
    sf_dir = str(tmp_path)
    _docs_df(spark).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/documents.parquet"
    )
    return sf_dir


def test_cap_lsh_buckets_drops_only_hot(spark):
    df = spark.createDataFrame(
        [(i, "hot") for i in range(10)] + [(100, "cold"), (101, "cold")],
        "id long, sig string",
    )
    out = cap_lsh_buckets(df, ["sig"], cap=5).collect()
    assert {r.sig for r in out} == {"cold"}
    assert len(out) == 2


def test_simhash_hot_bucket_stays_bounded(spark):
    pairs = simhash_candidate_pairs(_docs_df(spark)).collect()
    # without the guard the spam group alone yields C(N_SPAM, 2) pairs
    spam_pairs = [p for p in pairs if p.doc_a < N_SPAM and p.doc_b < N_SPAM]
    assert spam_pairs == []
    # the distinctive near-dup pair still surfaces (its buckets are size 2)
    assert any(p.doc_a == 1000 and p.doc_b == 1001 for p in pairs)


def test_minhash_hot_bucket_stays_bounded(spark, tmp_path):
    sf_dir = _write_docs(spark, tmp_path)
    df = ext_dedup_minhash_lsh(spark, sf_dir)
    pairs = df.collect()
    spam_pairs = [p for p in pairs if p.doc_a < N_SPAM and p.doc_b < N_SPAM]
    assert spam_pairs == []
    assert any(
        p.doc_a == 1000 and p.doc_b == 1001 and p.shared_bands == 4 for p in pairs
    )
    # guard shape: hot signatures leave via a broadcast anti-join, not a
    # window sort over the full candidate table. The band index is
    # memoized behind a localCheckpoint (suite.common.memo_df), so the
    # entry's own plan only shows the checkpoint scan — assert the
    # guard's plan on the pre-checkpoint construction instead.
    from marketing_etl_analytics_spark.suite.ext import minhash_signatures

    sigs = minhash_signatures(spark, sf_dir)
    bands_raw = sigs.select(
        "doc_id",
        F.lit(0).alias("band"),
        F.col("mh0").cast("string").alias("band_sig"),
    )
    guarded = cap_lsh_buckets(bands_raw, ["band", "band_sig"])
    guarded.collect()
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_embedding_hot_bucket_refined_not_dropped(spark):
    # 2 * EMB_BUCKET_CAP vectors share the 8-bit sign bucket (dims 1-8
    # all positive) -> hot; dims 9-16 signs split them into two
    # sub-borders of EMB_BUCKET_CAP each.
    n_sub = EMB_BUCKET_CAP
    base = [0.3] * 48  # dims 17-64 identical -> in-subgroup cosine ~ 1

    def vec(sub_positive: bool):
        sub = [0.2] * 8 if sub_positive else [-0.2] * 8
        return [float(x) for x in ([0.5] * 8 + sub + base)]

    rows = [(i, vec(True)) for i in range(n_sub)]
    rows += [(n_sub + i, vec(False)) for i in range(n_sub)]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    emb = spark.createDataFrame(rows, schema)

    # route the entry's table read to the in-memory frame; the norms
    # table is built by ext.embedding_norms (and memoized per sf_dir),
    # so patch ext's t and use a unique sf_dir so the memo can't
    # collide with other tests
    import marketing_etl_analytics_spark.suite.ext as ext_mod

    orig_t = ext_mod.t
    try:
        ext_mod.t = lambda s, d, n: emb
        out = ext_dedup_embedding_cosine(spark, "synthetic-emb-hot-bucket").collect()
    finally:
        ext_mod.t = orig_t

    in_a = lambda v: v < n_sub  # noqa: E731
    cross = [p for p in out if in_a(p.vec_a) != in_a(p.vec_b)]
    within = [p for p in out if in_a(p.vec_a) == in_a(p.vec_b)]
    # refinement splits the hot bucket: no cross-subgroup candidates...
    assert cross == []
    # ...but in-subgroup near-dups are all found (not dropped wholesale)
    assert len(within) == 2 * (n_sub * (n_sub - 1) // 2)
