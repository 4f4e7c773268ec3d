"""Streaming upsert sink: micro-batches MERGE into a versioned table.

Two availableNow runs over a file stream share one checkpoint — the
second run processes only the newly arrived file (source offsets are
checkpointed) and upserts it; the table ends at the merged state with
full version history. Then compact() folds the accreted files without
changing rows.
"""

from __future__ import annotations

from pyspark.sql.types import LongType, StringType, StructField, StructType

from marketing_etl_analytics_spark.sources import acid
from marketing_etl_analytics_spark.streaming.sinks import stream_merge_sink

SCHEMA = StructType(
    [StructField("k", LongType()), StructField("v", StringType())]
)


def _write_batch(spark, in_dir, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
        in_dir
    )


def _run_stream(spark, in_dir, table, ckpt):
    stream = spark.readStream.schema(SCHEMA).parquet(in_dir)
    q = stream_merge_sink(stream, table, ["k"], ckpt)
    q.awaitTermination()


def test_streaming_upsert_across_restarts(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, in_dir, [(1, "a"), (2, "b")])
    _run_stream(spark, in_dir, table, ckpt)
    assert {r.k: r.v for r in acid.read(spark, table).collect()} == {
        1: "a", 2: "b",
    }

    # new file arrives; restart with the same checkpoint processes ONLY it
    _write_batch(spark, in_dir, [(2, "B"), (3, "c")])
    _run_stream(spark, in_dir, table, ckpt)
    assert {r.k: r.v for r in acid.read(spark, table).collect()} == {
        1: "a", 2: "B", 3: "c",
    }
    assert len(acid.history(table)) >= 2

    # compaction: new version, identical rows, bounded file count
    before = {r.k: r.v for r in acid.read(spark, table).collect()}
    v = acid.compact(spark, table, 1)
    m = acid.read_manifest(table, v)
    assert len(m.files) == 1
    assert {r.k: r.v for r in acid.read(spark, table).collect()} == before


def test_cdc_apply_out_of_order_batches(spark, tmp_path):
    """cdc_apply_sink keeps last-write-wins even when a LATER
    micro-batch carries OLDER changes (late partition / backfill) —
    the failure mode stream_merge_sink's replace-by-key cannot
    survive — and replaying the feed into the same table is
    idempotent."""
    from pyspark.sql.types import TimestampType
    import datetime as dt

    from marketing_etl_analytics_spark.streaming.sinks import cdc_apply_sink

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("seq", LongType()),
            StructField("v", StringType()),
        ]
    )
    in_dir = str(tmp_path / "in")
    table = str(tmp_path / "tbl")

    def run(ckpt):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(in_dir)
        q = cdc_apply_sink(stream, table, ["k"], ["seq"], ckpt)
        q.awaitTermination()

    # file 1: NEW changes (seq 10); file 2 arrives later with OLD ones
    spark.createDataFrame([(1, 10, "new1"), (2, 10, "new2")], schema).coalesce(
        1
    ).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [(1, 5, "stale1"), (2, 5, "stale2"), (3, 5, "only3")], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run(str(tmp_path / "ckpt1"))
    got = {r.k: (r.seq, r.v) for r in acid.read(spark, table).collect()}
    assert got == {1: (10, "new1"), 2: (10, "new2"), 3: (5, "only3")}

    # full replay with a FRESH checkpoint into the SAME table: no change
    run(str(tmp_path / "ckpt2"))
    got = {r.k: (r.seq, r.v) for r in acid.read(spark, table).collect()}
    assert got == {1: (10, "new1"), 2: (10, "new2"), 3: (5, "only3")}


def test_dedup_ingest_batch_split_invariant(spark, tmp_path):
    """The continuous dedup ingest reaches the same decision set
    whether the corpus arrives as one batch or split across two,
    WHEN the feed is id-ordered across batches (the common
    append-log case): arrival order then coincides with doc_id
    order, so batch boundaries can't change flags. Clones straddle
    the split on purpose. (The out-of-order case is pinned by
    test_dedup_ingest_out_of_order_clone_still_flagged.)"""
    from marketing_etl_analytics_spark.streaming.sinks import dedup_ingest_sink

    texts = {
        0: "the quick brown fox jumps over the lazy dog again and again",
        1: "completely different content about spark physical planning",
        2: "the quick brown fox jumps over the lazy dog again and again",  # clone of 0
        3: "yet another unique document with its own words entirely",
        4: "completely different content about spark physical planning",  # clone of 1
        5: "the quick brown fox jumps over the lazy dog again and again",  # clone of 0
    }
    schema = "doc_id long, text string"
    in_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t) for i, t in texts.items() if i < 3], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [(i, t) for i, t in texts.items() if i >= 3], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    def run(tag, max_files):
        stream = spark.readStream.schema(schema)
        if max_files:
            stream = stream.option("maxFilesPerTrigger", max_files)
        q = dedup_ingest_sink(
            stream.parquet(in_dir),
            index_dir=str(tmp_path / f"idx_{tag}"),
            decisions_dir=str(tmp_path / f"dec_{tag}"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
        )
        q.awaitTermination(120)
        return {
            r["doc_id"]: (r["n_earlier_matches"], r["is_new"])
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(str(tmp_path / f"dec_{tag}"))
            .collect()
        }

    split = run("split", 1)   # two micro-batches
    whole = run("whole", None)  # one batch
    assert split == whole
    assert split[0] == (0, True) and split[1] == (0, True)
    assert split[2][1] is False and split[4][1] is False
    assert split[5] == (2, False)  # clone of docs 0 AND 2


def test_dedup_ingest_out_of_order_clone_still_flagged(spark, tmp_path):
    """'Earlier' is ARRIVAL-based: when a LATER micro-batch delivers
    a SMALLER-id clone, the pair is still caught — the late arrival
    is flagged against the standing index regardless of id order.
    (Id-based semantics would silently lose the pair: the early
    large-id doc was already persisted with 0 matches, and the late
    small-id doc finds no smaller id.)"""
    from marketing_etl_analytics_spark.streaming.sinks import dedup_ingest_sink

    clone = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about spark physical planning"
    schema = "doc_id long, text string"
    in_dir = str(tmp_path / "docs")
    # batch 1: ids 10, 11 — batch 2: id 3 (a clone of 10, smaller id)
    spark.createDataFrame(
        [(10, clone), (11, other)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [(3, clone)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    q = dedup_ingest_sink(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir),
        index_dir=str(tmp_path / "idx"),
        decisions_dir=str(tmp_path / "dec"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    dec = {
        r["doc_id"]: (r["n_earlier_matches"], r["is_new"])
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "dec"))
        .collect()
    }
    assert dec[10] == (0, True) and dec[11] == (0, True)
    # the late small-id clone is flagged against the standing index
    assert dec[3] == (1, False)


def test_dedup_ingest_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch must reproduce its ORIGINAL decisions:
    the index read excludes the batch's own subdirectory, so the
    first attempt's signatures are never counted as 'earlier
    arrivals' of the same docs."""
    from marketing_etl_analytics_spark.streaming.sinks import dedup_ingest_sink

    clone = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string"
    in_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, clone), (1, clone)], schema
    ).coalesce(1).write.parquet(in_dir)

    def run(ckpt):
        q = dedup_ingest_sink(
            spark.readStream.schema(schema).parquet(in_dir),
            index_dir=str(tmp_path / "idx"),
            decisions_dir=str(tmp_path / "dec"),
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination(120)
        return {
            r["doc_id"]: (r["n_earlier_matches"], r["is_new"])
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(str(tmp_path / "dec"))
            .collect()
        }

    first = run("ckpt_a")
    # fresh checkpoint replays batch 0 over the already-written index
    replay = run("ckpt_b")
    assert first == replay == {0: (0, True), 1: (1, False)}


def test_dedup_ingest_cap_bounds_spam_signature(spark, tmp_path):
    """With cap_buckets=True a boilerplate text shared by more docs
    than the cap produces NO candidate pairs (the spam signature is
    dropped from both join sides — decisions-at-time skew guard),
    while genuine small clone groups still pair up."""
    from marketing_etl_analytics_spark.streaming.sinks import dedup_ingest_sink
    from marketing_etl_analytics_spark.ext.dedup import LSH_BUCKET_CAP

    spam = "subscribe to our newsletter for daily updates and exclusive offers"
    real = "a genuinely unique research abstract about catalyst optimizer rules"
    rows = [(i, spam) for i in range(LSH_BUCKET_CAP + 10)]
    rows += [(1000, real), (1001, real)]
    schema = "doc_id long, text string"
    in_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(in_dir)

    q = dedup_ingest_sink(
        spark.readStream.schema(schema).parquet(in_dir),
        index_dir=str(tmp_path / "idx"),
        decisions_dir=str(tmp_path / "dec"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        cap_buckets=True,
    )
    q.awaitTermination(120)
    dec = {
        r["doc_id"]: (r["n_earlier_matches"], r["is_new"])
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "dec"))
        .collect()
    }
    # spam docs: signature dropped -> no pairs, all "new"
    assert all(dec[i] == (0, True) for i in range(LSH_BUCKET_CAP + 10))
    # the genuine clone pair still detected
    assert dec[1000] == (0, True)
    assert dec[1001][1] is False and dec[1001][0] >= 1


def test_dedup_ingest_compact_flag_equivalence_and_bounded_index(spark, tmp_path):
    """The compacted (representative-per-signature) index reaches the
    SAME novelty flags as the full index on a clone-heavy feed —
    a signature was seen before iff its representative exists — while
    the index stays one row per DISTINCT signature: on a feed where
    most arrivals are clones, the compacted index is strictly smaller
    than the full band log and tracks unique content, not volume."""
    from marketing_etl_analytics_spark.streaming.sinks import dedup_ingest_sink

    uniq = [
        "the quick brown fox jumps over the lazy dog again and again",
        "completely different content about spark physical planning",
        "yet another unique document with its own words entirely",
    ]
    # clone-heavy: 3 unique texts, 30 docs (each text arrives 10x)
    rows = [(i, uniq[i % 3]) for i in range(30)]
    schema = "doc_id long, text string"
    in_dir = str(tmp_path / "docs")
    # two files -> two micro-batches under maxFilesPerTrigger=1
    spark.createDataFrame(rows[:15], schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(rows[15:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def run(tag, compact):
        q = dedup_ingest_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir),
            index_dir=str(tmp_path / f"idx_{tag}"),
            decisions_dir=str(tmp_path / f"dec_{tag}"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            compact_index=compact,
        )
        q.awaitTermination(120)
        dec = {
            r["doc_id"]: r["is_new"]
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(str(tmp_path / f"dec_{tag}"))
            .collect()
        }
        idx_rows = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(str(tmp_path / f"idx_{tag}"))
            .count()
        )
        return dec, idx_rows

    full_dec, full_idx = run("full", compact=False)
    comp_dec, comp_idx = run("comp", compact=True)

    # flag-equivalence: identical novelty decisions doc by doc
    assert comp_dec == full_dec
    # exactly the 3 first arrivals are new
    assert sorted(d for d, new in comp_dec.items() if new) == [0, 1, 2]

    # index sizes: full index logs every arrival's bands (30 docs x
    # n_bands); the compacted index holds one row per DISTINCT
    # signature — unique content (3 texts x n_bands), 10x smaller
    from marketing_etl_analytics_spark.ext.dedup import N_BANDS

    assert full_idx == 30 * N_BANDS
    assert comp_idx == 3 * N_BANDS
    # representatives are the first arrivals
    reps = set(
        r["rep_doc"]
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "idx_comp"))
        .collect()
    )
    assert reps == {0, 1, 2}


def test_dedup_ingest_rejects_compact_plus_cap(spark, tmp_path):
    """compact_index and cap_buckets cannot compose (ADVICE r6): the
    representative-per-signature index has no member counts for the
    bucket cap to act on, so the combination raises instead of
    silently ignoring the cap."""
    import pytest as _pytest

    from marketing_etl_analytics_spark.streaming.sinks import dedup_ingest_sink

    src = tmp_path / "never_read"
    src.mkdir()
    with _pytest.raises(ValueError, match="mutually exclusive"):
        dedup_ingest_sink(
            spark.readStream.schema("doc_id long, text string").parquet(
                str(src)
            ),
            index_dir=str(tmp_path / "idx"),
            decisions_dir=str(tmp_path / "dec"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            cap_buckets=True,
            compact_index=True,
        )
