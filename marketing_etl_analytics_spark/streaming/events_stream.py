"""Streaming operators over the events table.

Batch/stream equivalence contract: ``daily_event_aggregates`` over a
bounded stream (``trigger(availableNow=True)``) must produce exactly
the rows of the equivalent batch tumbling-window aggregation — the
test suite asserts this. Sessions come from one operator, Spark's
native ``session_window`` (:func:`session_window_agg`); its state is
the engine's own, so no stream here starts a Python worker.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# schema of events.parquet with nanos ts read as long (see suite.common.events)
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _stage(sf_dir: str, name: str) -> str:
    """The directory the parquet file source streams
    ``<sf_dir>/<name>.parquet`` from. The source requires a directory,
    so a single file is exposed by a symlink inside the temp dir
    ``<name>_stream_<md5 tag of its path>``."""
    # abspath: a relative sf_dir would otherwise produce a symlink whose
    # relative target resolves against /tmp — a broken link the parquet
    # stream source reads as an EMPTY directory (0 rows, no error)
    src = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    if os.path.isdir(src):
        # already a directory of part files (Spark-written layout) —
        # stream straight from it; a nested symlink would be invisible
        # to the file source (non-partition subdirs are not recursed)
        return src
    tag = hashlib.md5(src.encode()).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"{name}_stream_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{name}.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(src):
        os.remove(link)  # stale/broken link from an earlier process
    if not os.path.lexists(link):
        os.symlink(src, link)
    return stage


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (bounded; use
    availableNow trigger for batch-equivalence runs)."""
    stage = _stage(sf_dir, "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file stream source needs an explicit schema; the physical ts
    # type varies by writer (driver testdata: INT64 nanos -> long under
    # nanosAsLong; Spark-written copies: INT96/INT64 timestamps), so
    # probe it with a batch footer read and adapt like suite.common.events
    ts_type = dict(spark.read.parquet(stage).dtypes).get("ts")
    if ts_type == "bigint":
        raw = spark.readStream.schema(EVENTS_RAW_SCHEMA).format("parquet").load(stage)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    schema = StructType(
        [
            f if f.name != "ts" else StructField("ts", TimestampType())
            for f in EVENTS_RAW_SCHEMA.fields
        ]
    )
    return spark.readStream.schema(schema).format("parquet").load(stage)


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on event_id within the watermark horizon — the
    streaming analog of ON CONFLICT DO NOTHING idempotency.

    Uses ``dropDuplicatesWithinWatermark``, not ``dropDuplicates``:
    with a key subset that excludes the event-time column, plain
    dropDuplicates NEVER evicts its state (the watermark only bounds
    state when event time is part of the key), so on an unbounded
    stream the dedup map grows with total distinct keys — the classic
    silent OOM at cluster scale. The WithinWatermark variant evicts a
    key once the watermark passes its first-seen timestamp, trading
    "exact forever" for "exact within the deduplication horizon",
    which is the contract replays actually need (a source that can
    replay an event a day later needs a day's watermark, not an
    unbounded map). Duplicate handling verified by
    tests/test_streaming.py::test_dedup_within_watermark_drops_replays.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def attribution_join_outer(
    events: DataFrame, window: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, matched to same-user
    views in the preceding ``window`` — clicks with no qualifying view
    emit a NULL-view row (the unattributed-click feed).

    Outer rows cannot be emitted eagerly: a matching view may still
    arrive. Spark buffers the click and emits the NULL-joined row only
    once the global watermark (min across both sides) passes the
    click's last possible match time, so the unmatched feed is exactly
    the clicks provably beyond late-data reach. Both sides carry
    watermarks and the join predicate carries an event-time range, so
    the state store is bounded: O(events per watermark horizon),
    independent of stream length."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    return clicks.join(
        views,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("view_ts") < F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {window}")),
        "leftOuter",
    ).select(
        "click_id",
        F.col("click_user").alias("user_id"),
        "view_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def daily_event_aggregates(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling daily windows per event_type with late-data watermark —
    the streaming form of the reference's nightly (day, campaign) grain."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "approx_users",
            "total_value",
        )
    )


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes
SESSION_GAP = f"{SESSION_GAP_US} microseconds"  # the same gap as an interval


def sessionize_batch(ev: DataFrame) -> DataFrame:
    """Sessions by 30-min inactivity gap over (event_id, user_id, ts,
    value) rows — the gaps-and-islands batch twin of
    :func:`session_window_agg` (lag + running flag-sum; one shuffle on
    user_id, windows stay inside the partition). ``session_end`` is the
    last event, where the session window's end is last event + gap."""
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(order_w))
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(gap_us.isNull() | (gap_us > SESSION_GAP_US), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.withColumn("session_no", F.sum("new_session").over(run_w))
    return (
        numbered.groupBy("user_id", F.col("session_no").cast("long").alias("session_no"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


def session_window_agg(
    events: DataFrame, watermark: str = "1 hour", gap: str = SESSION_GAP
) -> DataFrame:
    """Native session-window sessionization under Structured Streaming,
    with a watermark bounding state; the batch ext_session_window_native
    entry runs the same function (the watermark is a no-op there).
    Append mode emits a session once the watermark passes its end (last
    event + gap) — sessions closer to the head of the stream stay in
    state (a later event could still extend them), which the suite
    oracle mirrors explicitly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
            "total_value",
        )
    )


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over any driver testdata parquet (bounded;
    availableNow for batch-equivalence runs), with the schema probed
    from a batch footer read."""
    stage = _stage(sf_dir, name)
    schema = spark.read.parquet(stage).schema
    return spark.readStream.schema(schema).format("parquet").load(stage)
