"""LLM-data-pipeline extension entries (north star, SURVEY.md §7.4).

Beyond the reference's surface: deduplication (exact, MinHash-LSH,
n-gram Jaccard), embedding similarity search (brute-force cosine and
an LSH-bucketed scale path), text analysis (quality scoring, language
ID, token counting, fingerprinting), multimodal binary plumbing, and
the streaming-equivalent tumbling-window aggregation.

This module holds suite code only: the memoized corpus indexes, the
DuckDB oracle SQL and the registered entries. The dedup operators
themselves (shingling, MinHash, LSH bands, the bucket cap, exact
dedup) and the similarity kernels (lattice dot product, sign bucket,
cosine top-k) live in the library (``ext/dedup.py``,
``ext/similarity.py``); the entries here call them with
``doc_id``/``text`` and ``vec_id``/``embedding``.

Everything is pure DataFrame/SQL-expressible (no Python UDFs in
the hot path) so the DuckDB oracle can verify it, and the same plan
scales: shingling/minhashing are per-row generate+explode (map-side,
no shuffle), candidate generation shuffles on (band, signature) or
(bucket) keys only — never all-pairs.

Portability notes (Spark <-> DuckDB):
- md5(string) is the shared deterministic hash.
- dot products snap each elementwise product to the 1e-12 INTEGER
  lattice — floor(x*y * 1e12 + 0.5) summed as BIGINT (SPARK_DOT in
  ext/similarity.py, SQL_DOT below) — composed only of IEEE ops that
  are bit-identical on identical inputs in every engine, so the
  order-free sum cannot diverge at any term count. (The earlier
  per-term DECIMAL(38,12) cast left one engine-specific tie-rounding
  in the chain — Java BigDecimal HALF_UP vs DuckDB scaled multiply —
  which the sf100b sweep caught flipping once in 128 M terms;
  fc3b048. Float32 inputs widen to double exactly; a single product
  of two float32 fits double's 53-bit mantissa exactly.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.ext import dedup
from marketing_etl_analytics_spark.ext.similarity import (
    SPARK_DOT,
    cosine_topk,
    sign_bucket,
)
from marketing_etl_analytics_spark.ext.dedup import (
    LSH_BUCKET_CAP,
    MH_PRIME,
    N_BANDS,
    N_PERM,
    PERM_A,
    PERM_B,
    ROWS_PER_BAND,
)
from marketing_etl_analytics_spark.ext.text import (
    TOKEN_RE,
    quality_features,
    token_counts,
)
from marketing_etl_analytics_spark.suite.common import (
    SQL_STOPWORDS,
    memo_df,
    ratio,
    sql_pround,
    sql_ratio,
    pround,
    t,
)
from marketing_etl_analytics_spark.suite.registry import register

# --- shared shingling fragments --------------------------------------------

# 3-word shingles over space-tokenized lowercased text, distinct: the
# oracle-side spec of ext.dedup.shingle_rows.
SQL_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(string_split(lower(text), ' ')) - 2),"
    " i -> array_to_string(list_slice(string_split(lower(text), ' '), i, i + 2), ' ')))"
)


# --- exact dedup (hash-groupBy) --------------------------------------------

@register(
    "ext_dedup_exact",
    """
    WITH hashed AS (
      SELECT doc_id, md5(lower(text)) AS text_hash FROM documents
    ),
    groups AS (
      SELECT text_hash,
        CAST(COUNT(*) AS BIGINT) AS group_size,
        CAST(MIN(doc_id) AS BIGINT) AS canonical_id
      FROM hashed GROUP BY text_hash
    )
    SELECT h.doc_id, h.text_hash, g.canonical_id, g.group_size,
      CASE WHEN h.doc_id <> g.canonical_id THEN 1 ELSE 0 END AS is_dup
    FROM hashed h JOIN groups g USING (text_hash)
    ORDER BY h.doc_id
    """,
    doc="Exact dedup: md5(normalized text) hash-groupBy; every doc "
    "mapped to its canonical (min doc_id) representative + dup flag. "
    "Scales as one map + one shuffle on the hash.",
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", "text").orderBy("doc_id")


# --- MinHash + LSH near-dedup ----------------------------------------------
#
# Oracle spelling of ext.dedup's hash family: one 48-bit md5-derived
# hash per shingle, N_PERM Carter–Wegman permutation minima, bands of
# ROWS_PER_BAND minima joined with '|'.

_SQL_MH_MINS = ",\n             ".join(
    f"MIN((h * {PERM_A[p]} + {PERM_B[p]}) % {MH_PRIME}) AS mh{p}"
    for p in range(N_PERM)
)
_SQL_BAND_SIG = " ".join(
    f"WHEN {b} THEN concat_ws('|', "
    + ", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
    + ")"
    for b in range(N_BANDS)
)


def sql_minhash_ctes(bands: str) -> str:
    """Oracle CTE chain ``WITH shingled, exploded, hashed, <bands>``
    ending in the UNCAPPED (doc_id, band, band_sig) table of the
    documents corpus — ext.dedup.minhash_bands in DuckDB SQL."""
    return f"""WITH shingled AS (
      SELECT doc_id, {SQL_SHINGLES} AS shingles
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ),
    exploded AS (
      SELECT doc_id,
        ('0x' || substr(md5(unnest(shingles)), 1, 12))::BIGINT % {MH_PRIME} AS h
      FROM shingled
    ),
    hashed AS (
      SELECT doc_id,
             {_SQL_MH_MINS}
      FROM exploded
      GROUP BY doc_id
    ),
    {bands} AS (
      SELECT doc_id, band,
             CASE band {_SQL_BAND_SIG} END AS band_sig
      FROM hashed, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band)
    )"""


def sql_cap_lsh_buckets(inner: str, keys: str, cap: int = LSH_BUCKET_CAP) -> str:
    """Oracle twin of ext.dedup.cap_lsh_buckets. Window-count
    formulation — the oracle needs identical VALUES, not the
    distributed plan shape."""
    return (
        f"SELECT * EXCLUDE (_bn) FROM ("
        f"SELECT *, COUNT(*) OVER (PARTITION BY {keys}) AS _bn FROM ({inner})"
        f") WHERE _bn <= {cap}"
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh15) MinHash signature table of the documents
    corpus, memoized. Signatures are ~130 B/doc but cost a full
    shingle explode + md5 to build — this is the persisted corpus
    index that both the standing dedup and the incremental ingest join
    read (built once per corpus version, see ``common.memo_df``)."""

    return memo_df(
        spark, sf_dir, "minhash_sigs",
        lambda: dedup.minhash_signatures(
            t(spark, sf_dir, "documents"), "doc_id", "text"
        ),
    )


def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_sig) capped LSH band table, memoized.

    Spam signatures (buckets over LSH_BUCKET_CAP) already dropped, so
    every consumer joins on a skew-bounded key without re-running the
    hot-bucket aggregate."""

    return memo_df(
        spark, sf_dir, "minhash_bands",
        lambda: dedup.cap_lsh_buckets(
            dedup.signature_bands(minhash_signatures(spark, sf_dir), "doc_id"),
            ["band", "band_sig"],
        ),
    )


@register(
    "ext_dedup_minhash_lsh",
    f"""
    {sql_minhash_ctes("bands0")},
    bands AS ({sql_cap_lsh_buckets("SELECT * FROM bands0", "band, band_sig")})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    ORDER BY shared_bands DESC, doc_a, doc_b
    """,
    doc="MinHash(16 Carter–Wegman perms over one 48-bit md5-derived "
    "hash per shingle) + LSH(4 bands x 4 rows): candidate pairs share "
    "at least one full band signature. The join key is (band, "
    "signature) — candidates only, never all pairs; buckets over "
    f"{LSH_BUCKET_CAP} members (spam signatures) are dropped, bounding "
    "per-bucket pair count.",
)
def ext_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dedup.lsh_candidate_pairs(minhash_bands(spark, sf_dir), "doc_id")
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            "shared_bands",
        )
        .orderBy(F.desc("shared_bands"), "doc_a", "doc_b")
    )


# --- n-gram Jaccard near-dedup ----------------------------------------------

# Prefix filtering (PPJoin): under any fixed global order on shingles
# (here: ascending 48-bit hash), two sets with Jaccard >= t MUST share
# an element among each one's first n - ceil(t*n) + 1 shingles
# (= floor(n/2)+1 at t=0.5). Only those prefixes enter the
# inverted-index join; full sets are only touched for the candidate
# pairs that survive, via a single array_intersect per pair.
JACCARD_T = 0.5


def ngram_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sa) sorted 48-bit shingle-hash sets for exact-dedup
    representatives, memoized — the table feeds three plan branches
    (prefix index + both verify-join sides), so without
    materialization the shingle explode + md5 pipeline runs 3x."""

    def build() -> DataFrame:
        docs = t(spark, sf_dir, "documents")
        # exact-dedup prefilter: one representative per identical text
        reps = (
            docs.select("doc_id", F.md5(F.lower("text")).alias("_th"))
            .groupBy("_th")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        docs2 = docs.join(reps, "doc_id", "left_semi")
        hashed = dedup.shingle_rows(docs2, "doc_id", "text").select(
            "doc_id",
            F.conv(F.substring(F.md5("sh_str"), 1, 12), 16, 10).cast("long").alias("h"),
        )
        return hashed.groupBy("doc_id").agg(
            F.sort_array(F.collect_set("h")).alias("sa")
        )

    return memo_df(spark, sf_dir, "ngram_sets", build)


@register(
    "ext_dedup_ngram_jaccard",
    f"""
    WITH reps AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents GROUP BY md5(lower(text))
    ),
    rep_docs AS (
      SELECT d.doc_id, d.text FROM documents d JOIN reps USING (doc_id)
    ),
    shingled AS (
      SELECT doc_id, {SQL_SHINGLES} AS shingles
      FROM rep_docs
      WHERE len(string_split(lower(text), ' ')) >= 3
    ),
    sets AS (
      SELECT doc_id,
        list_sort(list_distinct(list_transform(shingles,
          s -> ('0x' || substr(md5(s), 1, 12))::BIGINT))) AS sa
      FROM shingled
    ),
    prefix AS (
      SELECT doc_id, len(sa) AS n,
             unnest(list_slice(sa, 1, len(sa) // 2 + 1)) AS h
      FROM sets
    ),
    cand AS (
      -- length-compatibility: J >= 0.5 forces min(n) >= max(n)/2
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.h = b.h AND a.doc_id < b.doc_id
       AND a.n <= 2 * b.n AND b.n <= 2 * a.n
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
        CAST(len(list_intersect(x.sa, y.sa)) AS BIGINT) AS n_common,
        CAST(len(x.sa) AS BIGINT) AS na, CAST(len(y.sa) AS BIGINT) AS nb
      FROM cand c
      JOIN sets x ON c.doc_a = x.doc_id
      JOIN sets y ON c.doc_b = y.doc_id
    )
    SELECT doc_a, doc_b,
      {sql_ratio("n_common", "na + nb - n_common", 4, "jaccard")}
    FROM verified
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= {JACCARD_T}
    ORDER BY jaccard DESC, doc_a, doc_b
    """,
    doc="3-gram shingle Jaccard >= 0.5 near-dup pairs with PPJoin "
    "prefix filtering: only each doc's floor(n/2)+1 smallest 48-bit "
    "shingle hashes enter the inverted-index join; survivors are "
    "verified with one array_intersect per candidate pair. Pairs are "
    "reported between exact-dedup representatives (min doc_id per "
    "identical text): exact clones are already ext_dedup_exact's "
    "output, and re-listing a k-clone group as C(k,2) Jaccard-1.0 "
    "pairs makes clone-dense corpora quadratic for no information.",
)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r8 rework of the verify stage (VERDICT r7 #5): the PPJoin shape
    # (prefix-filtered candidate pairs, then one array_intersect per
    # pair) ships BOTH full shingle arrays through the verify join's
    # shuffle — ~1.6 KB/pair. On pair-dense corpora that is the disk
    # bound: the r7 sf100b attempt spilled >50 GB and died, and this
    # round's retry filled 60 GB before being killed (461 M prefix-
    # match rows; the positional-filter experiment cut only 0.3% —
    # candidate density here is data, not plan). The count-based plan
    # computes the overlap DISTRIBUTIVELY from the inverted index:
    # each index self-join match row is one shared shingle of one
    # pair (16-byte rows, no arrays anywhere), and
    # groupBy(pair).count() — map-side combined — IS |A∩B| exactly,
    # since sa holds distinct hashes. Same output set bit-for-bit
    # (true Jaccard is recomputed either way); the shuffle volume is
    # the corpus's total overlap mass instead of pairs x array bytes
    # (~9x less here). For SPARSE corpora the prefix+verify shape
    # ships less — the tradeoff is documented, and the prefix-filter
    # machinery remains in ext_dedup_containment's family.
    sets = ngram_shingle_sets(spark, sf_dir)
    idx = sets.select(
        "doc_id", F.size("sa").alias("n"), F.explode("sa").alias("h")
    )
    a, b = idx.alias("a"), idx.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length-compatibility: J >= 0.5 forces min(n) >= max(n)/2
            & (F.col("a.n") <= 2 * F.col("b.n"))
            & (F.col("b.n") <= 2 * F.col("a.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            # a.n / b.n are constant within the group
            F.min(F.col("a.n")).cast("long").alias("na"),
            F.min(F.col("b.n")).cast("long").alias("nb"),
        )
    )
    union_size = F.col("na") + F.col("nb") - F.col("n_common")
    return (
        shared.filter(F.col("n_common").cast("double") / union_size >= JACCARD_T)
        .select(
            "doc_a", "doc_b",
            ratio(F.col("n_common"), union_size, 4).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
    )


# --- embedding similarity: brute-force cosine top-k --------------------------

# Oracle twin of ext.similarity.SPARK_DOT (the 1e-12 integer-lattice dot).
SQL_DOT = (
    "(CAST(list_sum(list_transform(generate_series(1, len({a})),"
    " i -> CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
    " * 1e12 + 0.5) AS BIGINT))) AS DOUBLE) / 1e12)"
)

def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, n2) squared-norm table, memoized — the IVF
    assignment and near-dup entries read the norms, and the lattice dot
    product is the expensive part; at scale this is the stored vector
    index (norms computed at ingest, not per query)."""

    def build() -> DataFrame:
        emb = t(spark, sf_dir, "embeddings")
        return emb.select(
            "vec_id",
            "embedding",
            F.expr(SPARK_DOT.format(a="embedding", b="embedding")).alias("n2"),
        )

    return memo_df(spark, sf_dir, "emb_norms", build)


_SQL_ANN_TOPK = f"""
    WITH b AS (
      SELECT vec_id, embedding,
        {SQL_DOT.format(a="embedding", b="embedding")} AS n2
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, n2 AS nq FROM b WHERE vec_id < 10),
    c AS (SELECT vec_id AS cid, embedding AS ce, n2 AS nc FROM b),
    pairs AS (
      SELECT qid, cid, {SQL_DOT.format(a="qe", b="ce")} AS dot, nq, nc
      FROM q, c WHERE qid != cid
    ),
    scored AS (
      SELECT qid, cid,
        dot / sqrt(nq * nc) AS cos_raw,
        row_number() OVER (PARTITION BY qid ORDER BY dot / sqrt(nq * nc) DESC, cid) AS rn
      FROM pairs
    )
    SELECT qid, cid, {sql_pround("cos_raw", 6)} AS cosine, CAST(rn AS INT) AS rn
    FROM scored WHERE rn <= 5
    """


# Brute-force cosine top-5 for 10 query vectors: an adapter over
# ext.similarity.cosine_topk (lattice dot products, window top-k). The
# baseline ANN path; at scale the candidate set comes from
# ext_ann_lsh_bucketed. Graded via the merged ext_ann_scan_suite row
# (r7 consolidation); callable standalone.
def ext_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).select(
        "qid", "cid", pround(F.col("cosine"), 6).alias("cosine"), "rn"
    )


# --- embedding similarity: LSH-bucketed scale path ---------------------------

_SQL_ANN_LSH = f"""
    WITH b AS (
      SELECT vec_id, embedding,
        CAST(list_sum(list_transform(generate_series(1, 8),
          i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                    THEN CAST(2 ** (i - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM b WHERE vec_id < 20),
    pairs AS (
      SELECT q.qid, c.vec_id AS cid, q.bucket,
        {SQL_DOT.format(a="q.qe", b="c.embedding")} AS dot,
        {SQL_DOT.format(a="q.qe", b="q.qe")} AS nq,
        {SQL_DOT.format(a="c.embedding", b="c.embedding")} AS nc
      FROM q JOIN b c ON q.bucket = c.bucket AND q.qid != c.vec_id
    ),
    scored AS (
      SELECT qid, cid, bucket,
        dot / sqrt(nq * nc) AS cos_raw,
        row_number() OVER (PARTITION BY qid ORDER BY dot / sqrt(nq * nc) DESC, cid) AS rn
      FROM pairs
    )
    SELECT qid, cid, CAST(bucket AS BIGINT) AS bucket,
           {sql_pround("cos_raw", 6)} AS cosine, CAST(rn AS INT) AS rn
    FROM scored WHERE rn <= 3
    """


# Sign-LSH bucketing (first 8 dims -> 256 buckets): neighbor search
# joins on the bucket key instead of all pairs — the IVF/LSH scale
# path for ANN. Graded via the merged ext_ann_scan_suite row (r7
# consolidation); callable standalone.
def ext_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").withColumn("bucket", sign_bucket())
    return cosine_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=3, on="bucket"
    ).select("qid", "cid", "bucket", pround(F.col("cosine"), 6).alias("cosine"), "rn")


# --- merged ANN scan row (r7 consolidation) ----------------------------------

@register(
    "ext_ann_scan_suite",
    f"""
    SELECT 'exact' AS kind, qid, cid, CAST(-1 AS BIGINT) AS bucket,
      cosine, rn
    FROM ({_SQL_ANN_TOPK}) e
    UNION ALL
    SELECT 'lsh', qid, cid, bucket, cosine, rn
    FROM ({_SQL_ANN_LSH}) l
    ORDER BY kind, qid, rn
    """,
    doc="Merged ANN scan row (r7 consolidation of the two r5-green "
    "singles ext_ann_cosine_topk / ext_ann_lsh_bucketed — the "
    "rel_stats_suite precedent; both singles stay callable, plans "
    "unchanged): the brute-force exact-cosine baseline and the "
    "sign-LSH bucketed scale path under one graded slot. NULL-free; "
    "the exact branch's bucket column is the documented -1 sentinel "
    "(no bucketing in the brute-force scan).",
)
def ext_ann_scan_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ext_ann_cosine_topk(spark, sf_dir).select(
        F.lit("exact").alias("kind"), "qid", "cid",
        F.lit(-1).cast("long").alias("bucket"), "cosine", "rn",
    )
    l = ext_ann_lsh_bucketed(spark, sf_dir).select(
        F.lit("lsh").alias("kind"), "qid", "cid", "bucket", "cosine", "rn",
    )
    return e.unionByName(l).orderBy("kind", "qid", "rn")


# --- text profile (quality + language-ID + token counts + fingerprint) ------
#
# Round-4 consolidation: the four round-1 single-metric entries
# (ext_text_quality, ext_lang_id, ext_token_count, ext_fingerprint)
# are merged into ONE wide per-document profile so their semantics
# share a single current driver-graded row (the VERDICT r2 #2
# recommendation, same consolidation as rel_window_frames). The token
# counts and the quality features are ext.text.token_counts /
# quality_features; one scan computes every doc-local feature, and
# only the fingerprint (min-shingle aggregate) adds a shuffle.

LANG_SETS = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
}

@register(
    "ext_text_profile",
    f"""
    WITH base AS (
      SELECT doc_id, lang, source, n_chars, text,
        string_split(lower(text), ' ') AS tokens
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, source, n_chars, text,
        len(tokens) AS n_tokens,
        len(list_filter(tokens, w -> w IN ({SQL_STOPWORDS}))) AS n_stop,
        len(list_filter(tokens, w -> w IN ('the', 'a', 'of'))) AS s_en,
        len(list_filter(tokens, w -> w IN ('el', 'la', 'de'))) AS s_es,
        len(list_filter(tokens, w -> w IN ('der', 'die', 'und'))) AS s_de
      FROM base
    ),
    fp AS (
      SELECT doc_id, md5(lower(text)) AS full_hash, {{SQL_SHINGLES}} AS shingles
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ),
    fph AS (
      SELECT doc_id, full_hash,
        (SELECT MIN(md5(s.sh)) FROM unnest(shingles) AS s(sh)) AS min_shingle_hash
      FROM fp
    )
    SELECT s.doc_id, s.lang AS labeled_lang, s.source,
      CAST(s.n_chars AS BIGINT) AS n_chars,
      CAST(s.n_tokens AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(lower(s.text), '{TOKEN_RE}')) AS BIGINT) AS re_tokens,
      {{AVG_TOKEN_LEN}},
      {{STOPWORD_RATIO}},
      CASE WHEN s.n_tokens < 5 THEN 'too_short'
           WHEN CAST(s.n_stop AS DOUBLE) / s.n_tokens > 0.5 THEN 'low_content'
           ELSE 'ok' END AS quality,
      CASE WHEN s.s_en >= s.s_es AND s.s_en >= s.s_de THEN 'en'
           WHEN s.s_es >= s.s_de THEN 'es'
           ELSE 'de' END AS detected_lang,
      f.full_hash, f.min_shingle_hash
    FROM scored s LEFT JOIN fph f ON s.doc_id = f.doc_id
    ORDER BY s.doc_id
    """.format(
        SQL_SHINGLES=SQL_SHINGLES,
        AVG_TOKEN_LEN=sql_ratio("s.n_chars - s.n_tokens + 1", "s.n_tokens", 4, "avg_token_len"),
        STOPWORD_RATIO=sql_ratio("s.n_stop", "s.n_tokens", 4, "stopword_ratio"),
    ),
    doc="Per-document text profile: whitespace + BPE-ish regex token "
    "counts, avg token length, stopword ratio, CASE quality label, "
    "stopword-hit language-ID with deterministic argmax tie-break, "
    "whole-text md5 and min-shingle-hash fingerprint (winnowing-lite). "
    "Consolidates the four retired round-1 single-metric entries; all "
    "doc-local features are one JVM-side projection, the fingerprint "
    "is the only aggregation (explode + MIN with map-side combine).",
)
def ext_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tokens = F.split(F.lower("text"), " ")
    n_tokens = F.col("n_tokens")

    def score(words: tuple[str, ...]):
        return F.size(F.filter(tokens, lambda w: w.isin(*words))).cast("long")

    s_en, s_es, s_de = (score(LANG_SETS[k]) for k in ("en", "es", "de"))
    base = quality_features(token_counts(docs)).select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        "ws_tokens",
        "re_tokens",
        ratio(F.col("n_chars") - n_tokens + 1, n_tokens, 4).alias("avg_token_len"),
        pround(F.col("stopword_ratio"), 4).alias("stopword_ratio"),
        "quality",
        F.when((s_en >= s_es) & (s_en >= s_de), "en")
        .when(s_es >= s_de, "es")
        .otherwise("de")
        .alias("detected_lang"),
    )
    # fingerprint: explode + MIN aggregate instead of a transform()
    # lambda (higher-order functions run interpreted per element; the
    # explode form stays in whole-stage codegen with map-side combine)
    with_fh = docs.select(
        "doc_id", F.md5(F.lower("text")).alias("full_hash"), "text"
    )
    fp = (
        dedup.shingle_rows(with_fh, "doc_id", "text", "full_hash")
        .groupBy("doc_id", "full_hash")
        .agg(F.min(F.md5("sh_str")).alias("min_shingle_hash"))
    )
    return base.join(fp, "doc_id", "left").orderBy("doc_id")


# --- multimodal binary plumbing ----------------------------------------------

@register(
    "ext_multimodal_meta",
    """
    SELECT doc_id, source,
      CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      CAST(n_chars AS BIGINT) AS n_chars,
      CAST(octet_length(encode(text)) - n_chars AS BIGINT) AS multibyte_overhead
    FROM documents
    ORDER BY doc_id
    """,
    doc="Multimodal plumbing: text -> binary payload column with typed "
    "size metadata (the decode path itself is the mapInPandas stub in "
    "ext.multimodal, exercised by unit tests).",
)
def ext_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id", "source",
        F.length(blob).cast("long").alias("byte_len"),
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.length(blob) - F.col("n_chars")).cast("long").alias("multibyte_overhead"),
    ).orderBy("doc_id")


# --- dedup quality evaluation: LSH candidates vs exact-Jaccard truth ---------
#
# The dedup twin of ext_ann_recall: quantifies the MinHash-LSH
# candidate generator against exact-Jaccard ground truth. Exhaustive
# all-pairs truth is impossible at corpus scale, so truth itself uses
# the scale-correct shape: candidate pairs sharing >= 3 shingles from
# informative (<= 128-doc) buckets, then EXACT per-pair verification
# by set intersection of the two docs' full shingle arrays (doc-local
# array op, no explosion). A true J >= 0.8 pair is missed only if
# fewer than 3 of its shared shingles are informative — at J >= 0.8
# the pair shares the vast majority of its ~O(doc) shingles, so the
# miss requires essentially every shingle of the doc to be
# corpus-spam. Everything is deterministic, so precision/recall
# verify oracle-exact.

_EVAL_J = 0.8
_EVAL_MIN_SHARED = 3


@register(
    "ext_dedup_eval",
    f"""
    {{MINHASH}},
    bands AS ({{CAPPED}}),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    ssh AS (
      SELECT DISTINCT doc_id, s.sh
      FROM shingled, LATERAL unnest(shingles) AS s(sh)
    ),
    okh AS (
      SELECT sh FROM ssh GROUP BY sh HAVING COUNT(*) <= {{CAP}}
    ),
    tcand AS (
      SELECT x.doc_id AS a, y.doc_id AS b
      FROM ssh x JOIN okh USING (sh)
      JOIN ssh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
      HAVING COUNT(*) >= {_EVAL_MIN_SHARED}
    ),
    arrs AS (
      SELECT doc_id, list(sh) AS hs, COUNT(*) AS ns FROM ssh GROUP BY doc_id
    ),
    truth AS (
      SELECT t.a, t.b
      FROM tcand t
      JOIN arrs pa ON pa.doc_id = t.a
      JOIN arrs pb ON pb.doc_id = t.b
      WHERE CAST(len(list_filter(pa.hs, x -> list_contains(pb.hs, x))) AS DOUBLE)
            / (pa.ns + pb.ns - len(list_filter(pa.hs, x -> list_contains(pb.hs, x))))
            >= {_EVAL_J}
    ),
    hit AS (SELECT c.a, c.b FROM cand c JOIN truth t ON c.a = t.a AND c.b = t.b)
    SELECT
      CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
      CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_detected,
      CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
      {{PRECISION}},
      {{RECALL}}
    """.format(
        MINHASH=sql_minhash_ctes("bands0"),
        CAP=LSH_BUCKET_CAP,
        CAPPED=sql_cap_lsh_buckets("SELECT * FROM bands0", "band, band_sig"),
        PRECISION=sql_ratio(
            "(SELECT COUNT(*) FROM hit)", "(SELECT COUNT(*) FROM cand)", 4, "precision"
        ),
        RECALL=sql_ratio(
            "(SELECT COUNT(*) FROM hit)", "(SELECT COUNT(*) FROM truth)", 4, "recall"
        ),
    ),
    doc="Dedup-quality evaluation (the dedup family's ext_ann_recall "
    "twin): MinHash-LSH candidate pairs vs exact-Jaccard ground truth "
    "(J >= 0.8) — one row of counts + precision + recall, "
    "oracle-exact because every hash is md5-deterministic. Truth uses "
    "the scale-correct shape: >= 3 shared informative-bucket shingles "
    "generate candidates (reusing the memoized containment index), "
    "then each pair is verified EXACTLY by intersecting the two "
    "docs' full shingle arrays — a doc-local array op, so no "
    "all-pairs or hot-bucket explosion anywhere. Recall floor pinned "
    "by tests/test_ext_library.py::test_dedup_eval_recall_floor.",
)
def ext_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = dedup.lsh_candidate_pairs(minhash_bands(spark, sf_dir), "doc_id").select(
        F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")
    )
    docs = t(spark, sf_dir, "documents")
    # same memoized capped shingle index the containment dedup and
    # pagerank edge build read (built once per corpus version)
    capped = memo_df(
        spark,
        sf_dir,
        "containment_shingles",
        lambda: dedup.cap_lsh_buckets(
            dedup.shingle_rows(docs, "doc_id", "text").distinct(), ["sh_str"]
        ),
    ).select("doc_id", "sh_str")
    x, y = capped.alias("x"), capped.alias("y")
    tcand = (
        x.join(
            y,
            (F.col("x.sh_str") == F.col("y.sh_str"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("nsh"))
        .filter(F.col("nsh") >= _EVAL_MIN_SHARED)
        .select("a", "b")
    )
    # (doc -> full distinct shingle array) — the exact-verify index;
    # memoized like the other per-corpus indexes
    arrs = memo_df(
        spark,
        sf_dir,
        "shingle_arrays",
        lambda: dedup.shingle_rows(docs, "doc_id", "text")
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.collect_list("sh_str").alias("hs"),
            F.count(F.lit(1)).alias("ns"),
        ),
    )
    pa = arrs.select(
        F.col("doc_id").alias("a"), F.col("hs").alias("ha"), F.col("ns").alias("na")
    )
    pb = arrs.select(
        F.col("doc_id").alias("b"), F.col("hs").alias("hb"), F.col("ns").alias("nb")
    )
    ninter = F.size(F.array_intersect("ha", "hb"))
    truth = (
        tcand.join(pa, "a")
        .join(pb, "b")
        .filter(
            ninter.cast("double") / (F.col("na") + F.col("nb") - ninter) >= _EVAL_J
        )
        .select("a", "b")
    )
    hit = cand.join(truth, ["a", "b"])
    # single-row metric frame without driver-side collects: aggregate
    # each side to one row and cross-join the broadcast scalars
    ct = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    cc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_detected"))
    ch = hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return (
        ct.crossJoin(F.broadcast(cc))
        .crossJoin(F.broadcast(ch))
        .select(
            "n_truth",
            "n_detected",
            "n_hit",
            ratio(F.col("n_hit"), F.col("n_detected"), 4).alias("precision"),
            ratio(F.col("n_hit"), F.col("n_truth"), 4).alias("recall"),
        )
    )
