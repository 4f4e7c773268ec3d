"""Streaming tests: batch/stream equivalence + stateful operators.

All runs use bounded input with trigger(availableNow=True) so they
terminate; the daily-aggregate stream must reproduce the batch suite
entry's rows exactly (modulo the approx-distinct column).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.streaming import (
    daily_event_aggregates,
    dedup_events,
    read_events_stream,
)
from marketing_etl_analytics_spark.streaming.events_stream import read_table_stream
from marketing_etl_analytics_spark.suite import common
from marketing_etl_analytics_spark.suite.common import events as batch_events

SF = "/root/testdata/sf0.001"


def _one_file_per_batch(spark, tmp_path, frames):
    """A stream over one parquet file per frame, read one file per
    micro-batch (maxFilesPerTrigger=1) in the order of ``frames``."""
    src = tmp_path / "batches"
    os.makedirs(src)
    for i, df in enumerate(frames):
        part_dir = str(tmp_path / f"batch_{i}")
        df.coalesce(1).write.parquet(part_dir)
        pq = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i:04d}.parquet")
        os.rename(os.path.join(part_dir, pq), dst)
        # FileStreamSource orders new files by modification time;
        # spaced mtimes pin the intended batch order deterministically
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def test_daily_aggregates_match_batch(spark):
    stream = read_events_stream(spark, SF)
    q = (
        daily_event_aggregates(stream)
        .writeStream.format("memory")
        .queryName("daily_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.day, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM daily_agg").collect()
    }
    expected = {
        (r.day, r.event_type): (r.n_events, r.total_value)
        for r in batch_events(spark, SF)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").cast("date").alias("day"), "event_type",
                "n_events", "total_value")
        .collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stateful_dedup(spark):
    stream = read_events_stream(spark, SF)
    q = (
        dedup_events(stream)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("dedup_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.sql("SELECT * FROM dedup_counts").collect()[0]
    n_batch = batch_events(spark, SF).count()
    assert row.n == n_batch  # input ids are unique; dedup drops nothing


def test_attribution_join_matches_batch(spark):
    """The matched rows of the stream-stream interval join over a
    bounded stream must equal the batch inner join: watermarks only
    evict state, never drop matches when every row arrives before the
    final watermark advance."""
    from marketing_etl_analytics_spark.streaming.events_stream import (
        attribution_join_outer,
        read_events_stream,
    )
    from marketing_etl_analytics_spark.suite.common import events as batch_events

    sf_dir = "/root/testdata/sf0.001"
    q = (
        attribution_join_outer(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("attrib_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.click_id, r.view_id, r.user_id, r.gap_us)
        for r in spark.sql(
            "SELECT * FROM attrib_test WHERE view_id IS NOT NULL"
        ).collect()
    }

    ev = batch_events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").selectExpr(
        "event_id AS click_id", "user_id AS cu", "ts AS cts"
    )
    v = ev.filter(F.col("event_type") == "view").selectExpr(
        "event_id AS view_id", "user_id", "ts AS vts"
    )
    want = {
        (r.click_id, r.view_id, r.user_id, r.gap_us)
        for r in c.join(
            v,
            (F.col("cu") == F.col("user_id"))
            & (F.col("vts") < F.col("cts"))
            & (F.col("vts") >= F.col("cts") - F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "click_id", "view_id", "user_id",
            (F.unix_micros("cts") - F.unix_micros("vts")).alias("gap_us"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_sessionize_equals_batch(spark):
    """The availableNow streaming sessionizer (the stream_session_window
    entry: native session_window, 1 h watermark) must emit exactly the
    batch gaps-and-islands sessions whose window end (last event + gap)
    lies before the final watermark (sessions still 'open' at
    end-of-stream stay in state). The entry's DuckDB oracle checks the
    same set; this pins it to the Spark batch twin as well."""
    from marketing_etl_analytics_spark.streaming.events_stream import (
        SESSION_GAP_US,
        sessionize_batch,
    )
    from marketing_etl_analytics_spark.suite.udf import stream_session_window

    streamed = {
        (r.user_id, r.session_start, r.last_us, r.n_events): r.total_value
        for r in stream_session_window(spark, SF)
        .withColumn("last_us", F.unix_micros("session_end") - SESSION_GAP_US)
        .collect()
    }

    ev = batch_events(spark, SF)
    batch_rows = (
        sessionize_batch(ev)
        .withColumn("last_us", F.unix_micros("session_end"))
        .collect()
    )
    # final watermark: global max event time minus the 1 h delay
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    wm_us = max_us - 3600 * 1_000_000

    closed, still_open = {}, set()
    for r in batch_rows:
        key = (r.user_id, r.session_start, r.last_us, r.n_events)
        if r.last_us + SESSION_GAP_US < wm_us:
            closed[key] = float(r.total_value)
        else:
            still_open.add(key)

    assert len(streamed) > 0 and len(closed) > 0 and still_open
    assert set(streamed) == set(closed)
    # money: both sides round the same decimal(18,2) sum
    for key, got in streamed.items():
        assert got == closed[key], (key, got, closed[key])


def test_dedup_within_watermark_drops_replays(spark, tmp_path):
    """dropDuplicatesWithinWatermark must swallow replayed events whose
    duplicate arrives inside the watermark horizon (the bounded-state
    dedup contract; plain dropDuplicates would too, but by holding
    every key forever)."""
    base = (
        batch_events(spark, SF)
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    replays = base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 MINUTES"))
    src = str(tmp_path / "dup_events")
    base.unionAll(replays).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(base.schema).parquet(src)
    deduped = dedup_events(stream, watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_replays")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS nd FROM dedup_replays"
    ).collect()[0]
    assert out.n == out.nd == 100


def test_stream_session_window_multibatch(spark, tmp_path):
    """Sessions must merge ACROSS micro-batches: events are split into
    four time-range files processed one per trigger
    (maxFilesPerTrigger=1), so sessions spanning a file boundary only
    come out right if the session-window state carries between
    batches. The closed-session set (end strictly before the final
    watermark) must equal the batch gaps-and-islands computation."""
    from marketing_etl_analytics_spark.streaming.events_stream import (
        SESSION_GAP,
        session_window_agg,
        sessionize_batch,
    )

    ev = batch_events(spark, SF).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 4
    parts = []
    for i in range(4):
        a = lo + i * span
        b = hi if i == 3 else lo + (i + 1) * span
        cond = (F.col("ts") >= F.lit(a)) & (
            (F.col("ts") <= F.lit(b)) if i == 3 else (F.col("ts") < F.lit(b))
        )
        parts.append(ev.filter(cond))

    stream = _one_file_per_batch(spark, tmp_path, parts)
    q = (
        session_window_agg(stream)
        .writeStream.format("memory")
        .queryName("sess_multibatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    wm = hi - __import__("datetime").timedelta(hours=1)
    got = sorted(
        map(
            tuple,
            spark.sql("SELECT * FROM sess_multibatch")
            .filter(F.col("session_end") < F.lit(wm))
            .select("user_id", "session_start", "n_events")
            .collect(),
        )
    )
    expected = sorted(
        map(
            tuple,
            sessionize_batch(ev)
            .withColumn(
                "session_end_w",
                F.col("session_end") + F.expr(f"INTERVAL {SESSION_GAP}"),
            )
            .filter(F.col("session_end_w") < F.lit(wm))
            .select("user_id", "session_start", "n_events")
            .collect(),
        )
    )
    assert len(expected) > 50
    assert got == expected


def test_dedup_within_watermark_drops_cross_batch_replays(spark, tmp_path):
    """A replay that arrives in a LATER micro-batch (still inside the
    watermark horizon) must be dropped — the dedup state has to carry
    across batches, not just within one."""
    base = (
        batch_events(spark, SF)
        .limit(50)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    replays = base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    stream = _one_file_per_batch(spark, tmp_path, [base, replays])
    q = (
        dedup_events(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_xbatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS nd FROM dedup_xbatch"
    ).collect()[0]
    assert out.n == out.nd == 50


def test_rocksdb_state_store_backend_equivalent(spark, tmp_path):
    """The stateful dedup produces identical results on the RocksDB
    state-store provider — the bounded-memory backend a production
    cluster runs (state spills to local disk instead of executor
    heap). Backend choice must be a pure operational knob, never a
    semantics change."""
    from pyspark.sql import functions as F

    from marketing_etl_analytics_spark.streaming.events_stream import (
        dedup_events,
        read_events_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            dedup_events(read_events_stream(spark, sf_dir))
            .writeStream.format("memory")
            .queryName("rocks_dedup")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = spark.table("rocks_dedup")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert got.count() == batch.select("event_id").distinct().count()
    assert got.select(F.countDistinct("event_id")).collect()[0][0] == got.count()


def test_session_window_boundary_is_inclusive(spark):
    """An event at exactly last_ts + gap MERGES into the session:
    Spark's session_window end bound is inclusive (verified here, not
    assumed from the docs). This pins the strict > rule the
    ext_session_window_native oracle uses — the same rule as the
    gaps-and-islands twin."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=30)),       # == gap -> merges
        (1, t0 + dt.timedelta(minutes=90)),       # > gap after prev -> new
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w.start", "n")
        .orderBy("start")
        .collect()
    )
    assert [(r.start, r.n) for r in got] == [
        (t0, 2),
        (t0 + dt.timedelta(minutes=90), 1),
    ]


def test_stream_session_window_merges_late_batches(spark, tmp_path):
    """Out-of-order micro-batches inside the watermark, one file per
    trigger. After the first batch user 1 has two open sessions
    (minutes 0-10 and 50-55) and user 2 one (120-125); the watermark
    is minute 20. A late batch with one event at minute 30 lies within
    the gap of both user-1 sessions, which must merge into one. A
    second late batch (user 2, minutes 60-70) lies wholly before
    user 2's open session, 50 minutes from it, and must stay a session
    of its own. A last batch moves the watermark past every earlier
    session, and the closed sessions must equal sessionize_batch over
    the union of the batches."""
    import datetime as dt

    from marketing_etl_analytics_spark.streaming.events_stream import (
        SESSION_GAP,
        session_window_agg,
        sessionize_batch,
    )

    def at(minute):
        return dt.datetime(2024, 1, 1, 12, 0, 0) + dt.timedelta(minutes=minute)

    batches = [
        [(1, 1, 0, 1.10), (2, 1, 10, 2.20), (3, 1, 50, 0.30), (4, 1, 55, 0.05),
         (5, 2, 120, 7.00), (6, 2, 125, 0.01), (7, 3, 200, 1.00)],
        [(8, 1, 30, 0.15)],                     # straddles user 1's sessions
        [(9, 2, 60, 3.33), (10, 2, 70, 0.67)],  # wholly before user 2's
        [(11, 3, 600, 5.00)],                   # closes everything before
    ]
    schema = "event_id long, ts timestamp, user_id long, value double"

    def frame(rows):
        return spark.createDataFrame(
            [(e, at(m), u, v) for e, u, m, v in rows], schema
        )

    stream = _one_file_per_batch(spark, tmp_path, [frame(b) for b in batches])
    q = (
        session_window_agg(stream, watermark="3 hours")
        .writeStream.format("memory")
        .queryName("sess_late_batches")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    gap = F.expr(f"INTERVAL {SESSION_GAP}")
    got = sorted(
        map(
            tuple,
            spark.table("sess_late_batches")
            .select("user_id", "session_start", (F.col("session_end") - gap)
                    .alias("session_end"), "n_events", "total_value")
            .collect(),
        )
    )

    wm = at(600) - dt.timedelta(hours=3)  # the final watermark
    union = frame([row for b in batches for row in b])
    expected = sorted(
        map(
            tuple,
            sessionize_batch(union)
            .filter(F.col("session_end") + gap <= F.lit(wm))
            .select("user_id", "session_start", "session_end", "n_events", "total_value")
            .collect(),
        )
    )
    assert expected == [
        (1, at(0), at(55), 5, 3.80),
        (2, at(60), at(70), 2, 4.00),
        (2, at(120), at(125), 2, 7.01),
        (3, at(200), at(200), 1, 1.00),
    ]
    assert got == expected



READERS = {
    "events": lambda spark, sf_dir: read_events_stream(spark, sf_dir),
    "documents": lambda spark, sf_dir: read_table_stream(spark, sf_dir, "documents"),
}


@pytest.mark.parametrize("case", ["relative_dir", "stale_link", "part_files"])
@pytest.mark.parametrize("name", sorted(READERS))
def test_file_source_staging(spark, tmp_path, monkeypatch, name, case):
    """Both readers stage ``<sf_dir>/<name>.parquet`` for the file
    source the same way, and a bounded drain returns every row of the
    batch read: from a relative ``sf_dir``, over a stage dir whose
    link of the right name points at another file (an earlier
    process's), and from a directory of part files."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    batch = common.t(spark, SF, name)
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / f"{name}.parquet"
    if case == "part_files":
        batch.write.parquet(str(src))
    else:
        shutil.copy(f"{SF}/{name}.parquet", src)
    sf_dir = str(sf)
    if case == "relative_dir":
        monkeypatch.chdir(tmp_path)
        sf_dir = "sf"
    elif case == "stale_link":
        tag = hashlib.md5(str(src).encode()).hexdigest()[:8]
        stage = tmp_path / "tmp" / f"{name}_stream_{tag}"
        stage.mkdir()
        os.symlink(f"{SF}/customer.parquet", stage / f"{name}.parquet")
    stream = READERS[name](spark, sf_dir)
    got = common.drain_memory(spark, sf_dir, stream, f"staged_{name}").count()
    assert got == batch.count() > 0


def test_drain_timeout_stops_the_query(spark, tmp_path, monkeypatch):
    """A stream still running at the timeout is stopped and raises,
    so no caller reads its partial sink; the shuffle partitions the
    drain sized for the run are restored either way."""
    monkeypatch.setattr(common, "STREAM_TIMEOUT_S", 1)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    started, during = [], []

    def start():
        during.append(spark.conf.get("spark.sql.shuffle.partitions"))
        q = (
            read_events_stream(spark, SF)
            .writeStream.queryName("slow_drain")
            .foreachBatch(lambda batch_df, batch_id: time.sleep(4))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        started.append(q)
        return q

    with pytest.raises(TimeoutError, match="slow_drain"):
        common.drain(spark, SF, start)
    assert not started[0].isActive
    assert during == [str(common._stream_state_partitions(spark, SF))]
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
