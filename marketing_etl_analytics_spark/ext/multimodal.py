"""Multimodal columns: opaque binary payloads with typed metadata.

Images/audio/video travel as ``binary`` columns plus a metadata
struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so each Python batch touches thousands of payloads at
once (never row-at-a-time UDFs).

Decode modes:

- ``mode="real"`` decodes genuinely for the formats a pure
  stdlib+numpy codec can handle (24-bit BMP images, PCM-16 WAV audio
  — see ``ext/codecs.py``; dispatch sniffs magic bytes). Compressed
  formats (JPEG/PNG/MP3/H.264) need PIL/ffmpeg, which this
  environment lacks, and raise ``NotImplementedError``.
- ``mode="fake"`` (default for the text-payload suite entry) computes
  a deterministic feature vector from raw bytes, exercising the same
  Spark-side plumbing (schema, batching, partitioning).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from marketing_etl_analytics_spark.ext.dedup import cap_lsh_buckets

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("features", ArrayType(DoubleType())),
        StructField("decoder", StringType()),
    ]
)


def attach_payload(df: DataFrame, text: str = "text") -> DataFrame:
    """Simulate a multimodal table: text -> binary payload + metadata
    struct (media_type, byte_len) — the schema a real image/audio
    column would have."""
    blob = F.encode(F.col(text), "UTF-8")
    return df.withColumn("payload", blob).withColumn(
        "meta",
        F.struct(
            F.lit("text/plain").alias("media_type"),
            F.length(blob).cast("long").alias("byte_len"),
        ),
    )


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for a media decoder: 8 byte-histogram
    moments of the payload. Replace with a real decoder at deploy."""
    if not payload:
        return [0.0] * FEATURE_DIM
    return [
        float(sum(payload) % 1000),
        float(len(payload)),
        float(payload[0]),
        float(payload[-1]),
        float(max(payload)),
        float(min(payload)),
        float(sum(b % 7 for b in payload) % 100),
        float(len(set(payload))),
    ]


def _real_decode(payload: bytes) -> tuple[list[float], str]:
    """Dispatch on magic bytes to a real codec (see module header)."""
    import numpy as np

    from marketing_etl_analytics_spark.ext import codecs

    if payload[:2] == b"BM":
        px = codecs.decode_bmp(payload)
        h, w = px.shape[:2]
        means = px.reshape(-1, 3).mean(axis=0)
        # FEATURE_DIM entries, same as the WAV and fake paths
        return (
            [float(w), float(h), *[float(m) for m in means],
             float(px.std()), float(h * w), float(len(payload))],
            "bmp-v1",
        )
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        samples, rate = codecs.decode_wav(payload)
        feats = codecs.wav_features(samples, rate)
        return (
            [*feats, float(rate), float(np.asarray(samples).size),
             0.0, float(len(payload))],
            "wav-v1",
        )
    raise NotImplementedError(
        "compressed media (JPEG/PNG/MP3/H.264) needs PIL/ffmpeg — "
        "not available in this environment; BMP and PCM WAV decode for real"
    )


def extract_features(df: DataFrame, mode: str = "fake") -> DataFrame:
    """Arrow-batched feature extraction over payload binaries.

    df must have (doc_id, payload, meta) as produced by attach_payload.
    mode="real" decodes BMP/WAV payloads with ext/codecs.py.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if mode == "real":
                decoded = [_real_decode(bytes(p)) for p in pdf["payload"]]
                feats = [d[0] for d in decoded]
                names = [d[1] for d in decoded]
            else:
                feats = [_fake_decode(bytes(p)) for p in pdf["payload"]]
                names = ["fake-v1"] * len(feats)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(p) for p in pdf["payload"]],
                    "features": feats,
                    "decoder": names,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", StringType()),  # BinaryType in real decode
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("decoder", StringType()),
    ]
)


def resize_images(df: DataFrame, width: int, height: int, mode: str = "fake") -> DataFrame:
    """Arrow-batched image resize (1 row in → 1 row out).

    mode="real": decode 24-bit BMP payloads, nearest-neighbor resample
    (ext/codecs.py), re-encode BMP — a genuine pixel-level resize.
    JPEG/PNG would need PIL and raise. mode="fake" truncates/pads the
    payload to width*height bytes (plumbing-only path).
    df needs (doc_id, payload).
    """
    target = width * height

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from marketing_etl_analytics_spark.ext import codecs

        for pdf in it:
            if mode == "real":
                out = [
                    codecs.encode_bmp(
                        codecs.resize_nearest(
                            codecs.decode_bmp(bytes(p)), width, height
                        )
                    ).hex()
                    for p in pdf["payload"]
                ]
                decoder = "bmp-resize-v1"
            else:
                out = [
                    (bytes(p)[:target].ljust(target, b"\0")).hex()
                    for p in pdf["payload"]
                ]
                decoder = "fake-resize-v1"
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": out,
                    "width": width,
                    "height": height,
                    "decoder": decoder,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, RESIZED_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame", StringType()),  # BinaryType in real decode
    ]
)

FRAME_BYTES = 16


def sample_frames(df: DataFrame, every_n: int = 4, mode: str = "fake") -> DataFrame:
    """Video frame sampling: 1 row in → many rows out (the fan-out
    shape a real frame extractor has; mapInPandas output cardinality
    is free to differ from the input's).

    STUB decode: treats the payload as a sequence of FRAME_BYTES-byte
    "frames" and keeps every ``every_n``-th.
    """
    if mode == "real":
        raise NotImplementedError("real frame decode needs ffmpeg — use mode='fake'")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(p)
                n_frames = max(1, len(raw) // FRAME_BYTES)
                for i in range(0, n_frames, every_n):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(raw[i * FRAME_BYTES : (i + 1) * FRAME_BYTES].hex())
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return df.select("doc_id", "payload").mapInPandas(batches, FRAMES_SCHEMA)


# --- perceptual-hash near-dup (the multimodal <-> dedup bridge) --------------

DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dhash", LongType()),
    ]
)

DHASH_BANDS = 4  # 64-bit dHash -> 4 x 16-bit LSH bands
DHASH_MAX_HAMMING = 6


def image_dhash(df: DataFrame) -> DataFrame:
    """(doc_id, dhash): 64-bit difference-hash per BMP payload,
    Arrow-batched (ext/codecs.dhash over the decoded pixels)."""
    from marketing_etl_analytics_spark.ext import codecs

    def one(p) -> int | None:
        if p is None:
            return None
        h = codecs.dhash(codecs.decode_bmp(bytes(p)))
        # reinterpret the unsigned 64-bit hash as signed for the LONG
        # column; band math downstream uses shiftrightunsigned, so the
        # sign bit carries no meaning
        return h - (1 << 64) if h >= (1 << 63) else h

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "dhash": pd.array(
                        [one(p) for p in pdf["payload"]], dtype="Int64"
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, DHASH_SCHEMA)


def dhash_near_dups(
    df: DataFrame, max_hamming: int = DHASH_MAX_HAMMING
) -> DataFrame:
    """Near-duplicate image pairs (doc_a, doc_b, shared_bands, hamming)
    by banded dHash — the SimHash plan shape applied to the multimodal
    column family: per-row fingerprint (map-side), 4x16-bit band
    explode, candidate join on (band, band_val) only (never all
    pairs), exact Hamming verify, hot buckets capped by the shared
    spam-signature guard (ext.dedup.cap_lsh_buckets)."""
    h = image_dhash(df).filter(F.col("dhash").isNotNull())
    banded = h.select(
        "doc_id",
        "dhash",
        F.explode(F.sequence(F.lit(0), F.lit(DHASH_BANDS - 1))).alias("band"),
    ).withColumn(
        # shiftrightunsigned needs a literal shift in the Python API;
        # the SQL form takes the per-row band expression
        "band_val",
        F.expr("shiftrightunsigned(dhash, band * 16) & 65535"),
    )
    banded = cap_lsh_buckets(banded, ["band", "band_val"])
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("shared_bands"),
            F.min(F.expr("bit_count(a.dhash ^ b.dhash)")).cast("int").alias("hamming"),
        )
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# --- audio fingerprint near-dup (the WAV twin of the dHash bridge) -----------


def audio_fp(df: DataFrame) -> DataFrame:
    """(doc_id, afp): 64-bit energy-envelope difference fingerprint
    per WAV payload, Arrow-batched (ext/codecs.audio_fingerprint over
    the decoded samples)."""
    from marketing_etl_analytics_spark.ext import codecs

    def one(p) -> int | None:
        if p is None:
            return None
        samples, rate = codecs.decode_wav(bytes(p))
        h = codecs.audio_fingerprint(samples, rate)
        return h - (1 << 64) if h >= (1 << 63) else h

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "afp": pd.array(
                        [one(p) for p in pdf["payload"]], dtype="Int64"
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        batches, "doc_id long, afp long"
    )


def audio_near_dups(
    df: DataFrame, max_hamming: int = DHASH_MAX_HAMMING
) -> DataFrame:
    """Near-duplicate audio pairs by banded energy-envelope
    fingerprints — the identical candidate-generation shape as
    ``dhash_near_dups`` (4x16-bit bands, capped hot buckets, exact
    Hamming verify), applied to the WAV column family. Gain-scaled
    or lightly-noised copies of a clip pair up; unrelated clips
    don't."""
    h = audio_fp(df).filter(F.col("afp").isNotNull())
    banded = h.select(
        "doc_id",
        "afp",
        F.explode(F.sequence(F.lit(0), F.lit(DHASH_BANDS - 1))).alias("band"),
    ).withColumn("band_val", F.expr("shiftrightunsigned(afp, band * 16) & 65535"))
    banded = cap_lsh_buckets(banded, ["band", "band_val"])
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("shared_bands"),
            F.min(F.expr("bit_count(a.afp ^ b.afp)")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
