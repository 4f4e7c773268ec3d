"""Deduplication operators, column-parameterized.

The one implementation of shingle -> MinHash -> LSH, of SimHash and
of exact dedup: the suite's dedup entries (``suite/ext.py``,
``suite/ext_scale.py``), the streaming dedup ingest
(``streaming/sinks.py``) and the multimodal near-dup operators call
these, and the suite's DuckDB oracles spell the same hash families in
SQL.

MinHash: one md5 per 3-word shingle (first 48 bits, reduced mod
``MH_PRIME``); permutation p maps it to (h * A_p + B_p) mod MH_PRIME
(Carter–Wegman), and a document's signature is the per-permutation
minimum over its shingles. ``N_PERM`` minima form ``N_BANDS`` bands
of ``ROWS_PER_BAND``; two documents are LSH candidates when they
share a whole band.

Scale shape: shingling and hashing are a per-row explode (map-side);
all ``N_PERM`` minima are plain aggregate columns of ONE doc-keyed
aggregation with map-side partial MIN; the band explode is per-row;
the only other shuffle is the (band, band_sig) candidate join —
candidate generation never materializes all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS

# MinHash permutations as universal hashes over ONE md5 per shingle:
# h = first 48 bits of md5(shingle) reduced mod M; perm p's hash is
# (h * A_p + B_p) mod M (Carter–Wegman). One md5 per shingle instead
# of N_PERM — the md5 calls were ~80% of the operator's runtime.
# (h % M) < 2^31 and A_p < M keep every product under 2^62: exact in
# BIGINT in both engines.
MH_PRIME = 2147483647
PERM_A = [(2654435761 * p + 1) % MH_PRIME for p in range(N_PERM)]
PERM_B = [(40503 * p + 17) % MH_PRIME for p in range(N_PERM)]

# --- LSH bucket-size cap (skew guard) ----------------------------------------
#
# A hot band signature (boilerplate-heavy corpora: empty docs, licence
# headers, templated pages) makes one LSH bucket quadratic — C(n, 2)
# candidate pairs from a single (band, signature) value, the known LSH
# skew hazard at corpus scale. Standard mitigation: treat
# super-frequent signatures as spam and drop those BUCKETS. Docs stay
# in their other bands, so genuine near-dups of distinctive text still
# surface; what is suppressed is only the degenerate
# everything-matches-everything signature. Per-bucket pair count is
# then bounded by C(LSH_BUCKET_CAP, 2).
#
# Scale shape: bucket sizes come from a map-side-combined groupBy on
# the band key (output = distinct signatures, tiny), hot signatures
# are removed with a BROADCAST anti-join — no window sort over the
# full candidate table, no extra shuffle of the big side.
LSH_BUCKET_CAP = 128


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of lowercased, space-tokenized text.

    Guarded for short texts: Spark's sequence(1, 0) counts *down*
    ([1, 0]), so texts below the shingle width need an explicit empty.
    """
    toks = F.split(F.lower(text), " ")
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_zip(text: str) -> str:
    """SQL for the 3-word shingles of column ``text`` as an
    ``arrays_zip`` of three shifted token slices.

    Codegen-friendly: a transform() lambda runs interpreted per
    element (~5x slower than this builtin-only plan). NOT deduped per
    doc; callers take MIN or a distinct, so multiset vs set is
    value-neutral. Only defined for texts of >= 3 tokens."""
    toks = f"split(lower({text}), ' ')"
    return (
        f"arrays_zip(slice({toks}, 1, size({toks}) - 2),"
        f" slice({toks}, 2, size({toks}) - 2),"
        f" slice({toks}, 3, size({toks}) - 2))"
    )


def shingle_rows(df: DataFrame, key: str, text: str, *extra_cols: str) -> DataFrame:
    """(key, *extra_cols, sh_str): one row per 3-word shingle of
    lowercased, space-tokenized ``text``; texts below 3 tokens emit
    no rows."""
    return (
        df.filter(F.expr(f"size(split(lower({text}), ' ')) >= 3"))
        .select(key, *extra_cols, F.explode(F.expr(shingle_zip(text))).alias("z"))
        .select(
            key,
            *extra_cols,
            F.concat_ws(" ", "z.0", "z.1", "z.2").alias("sh_str"),
        )
    )


def exact_dedup(df: DataFrame, key: str, text: str) -> DataFrame:
    """Map every row to its canonical (min-key) representative by
    normalized-text hash; ``is_dup`` marks rows to drop."""
    hashed = df.select(F.col(key), F.md5(F.lower(F.col(text))).alias("text_hash"))
    groups = hashed.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min(key).alias("canonical_id"),
    )
    return hashed.join(groups, "text_hash").select(
        key, "text_hash", "canonical_id", "group_size",
        F.when(F.col(key) != F.col("canonical_id"), 1).otherwise(0).alias("is_dup"),
    )


def minhash_signatures(df: DataFrame, key: str, text: str) -> DataFrame:
    """(key, mh0 .. mh{N_PERM-1}) MinHash signatures: one md5 per
    shingle, every permutation minimum an aggregate column of one
    doc-keyed aggregation. Texts below 3 tokens have no row."""
    h = (
        F.conv(F.substring(F.md5("sh_str"), 1, 12), 16, 10).cast("long") % MH_PRIME
    )
    return (
        shingle_rows(df, key, text)
        .select(key, h.alias("h"))
        .groupBy(key)
        .agg(
            *[
                F.min((F.col("h") * PERM_A[p] + PERM_B[p]) % MH_PRIME).alias(f"mh{p}")
                for p in range(N_PERM)
            ]
        )
    )


def signature_bands(sigs: DataFrame, key: str) -> DataFrame:
    """(key, band, band_sig) from a ``minhash_signatures`` frame:
    band b's signature is its ROWS_PER_BAND permutation minima joined
    with '|', in permutation order. Uncapped."""
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|",
                *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
            ).alias("band_sig"),
        )
        for b in range(N_BANDS)
    ]
    return sigs.select(key, F.explode(F.array(*band_cols)).alias("bb")).select(
        key, F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig")
    )


def minhash_bands(df: DataFrame, key: str, text: str) -> DataFrame:
    """(key, band, band_sig) MinHash band signatures, uncapped; apply
    ``cap_lsh_buckets`` where corpus-global statistics are available."""
    return signature_bands(minhash_signatures(df, key, text), key)


def cap_lsh_buckets(
    bands: DataFrame, keys: list[str], cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Drop rows belonging to LSH buckets with more than ``cap`` members."""
    hot = (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > cap)
        .drop("_bn")
    )
    return bands.join(F.broadcast(hot), keys, "left_anti")


def lsh_candidate_pairs(bands: DataFrame, key: str) -> DataFrame:
    """Self-join band signatures -> candidate near-dup pairs with the
    number of matching bands (more bands = higher similarity)."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .groupBy(
            F.col(f"a.{key}").alias(f"{key}_a"), F.col(f"b.{key}").alias(f"{key}_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


# --- SimHash -----------------------------------------------------------------
#
# 48-bit SimHash: token hash = first 12 hex chars of md5; each token
# votes +1/-1 per bit position weighted by multiplicity; the sign of
# the vote sum is the fingerprint bit. 48 bits (not 64) keeps 2**i
# inside the exact double/BIGINT range in both engines; bands are
# 4 x 12 bits. The per-token hash is computed ONCE and the 48-position
# vote reads nibbles out of it — a 48x hashing saving over hashing
# inside the bit loop.
SPARK_TOKEN_HASHES = (
    "transform(split(lower(text), ' '), tk -> substring(md5(tk), 1, 12))"
)

HAMMING_MAX = 2  # <= 2/48 differing bits ≈ 96% bit agreement


def simhash_fingerprints(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """(key, simhash) 48-bit fingerprints.

    Explodes tokens, decodes the 12 hex nibbles with codegen'd
    builtins (conv), votes each of the 48 bits as a plain
    conditional-sum aggregate — everything stays inside whole-stage
    codegen with map-side partial aggregation (one shuffle on key).
    """
    token_hashes = SPARK_TOKEN_HASHES.replace("text", text)
    exploded = df.select(
        key, F.explode(F.expr(token_hashes)).alias("h")
    ).select(
        key,
        *[
            F.conv(F.substring("h", j + 1, 1), 16, 10).cast("int").alias(f"nib{j}")
            for j in range(12)
        ],
    )
    votes = exploded.groupBy(key).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"nib{i // 4}"), i % 4).bitwiseAND(1) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(48)
        ]
    )
    simhash = None
    for i in range(48):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return votes.select(key, simhash.alias("simhash"))


def simhash_candidate_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (key_a, key_b, shared_bands, hamming) by banded
    SimHash with a Hamming-distance verify. Buckets over
    ``LSH_BUCKET_CAP`` members are dropped (spam-signature skew guard
    — see ``cap_lsh_buckets``)."""
    # the fingerprint table is tiny relative to the corpus (~16 B/doc)
    # but expensive to build (md5 + 48 vote-sums); materialize it once
    # so the band fan-out, the hot-bucket aggregate, and both self-join
    # sides read it instead of recomputing the aggregation per branch
    if fingerprints is None:
        fingerprints = simhash_fingerprints(df, key, text).localCheckpoint(eager=True)
    sh = fingerprints
    banded = sh.select(
        key,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn(
        "band_val",
        F.expr("(simhash div CAST(pow(4096, band) AS BIGINT)) % 4096"),
    )
    banded = cap_lsh_buckets(banded, ["band", "band_val"])
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .groupBy(F.col(f"a.{key}").alias("doc_a"), F.col(f"b.{key}").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("shared_bands"),
            F.min(F.expr("bit_count(a.simhash ^ b.simhash)"))
            .cast("int")
            .alias("hamming"),
        )
    )
    return pairs.filter(F.col("hamming") <= HAMMING_MAX)
