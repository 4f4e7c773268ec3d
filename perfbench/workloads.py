"""The benchmark's workloads, each driving the package's public functions.

A workload has three phases. ``setup`` does its program-side set-up
and warm-up (first-run codegen and JIT happen there, never in a timed
operation). ``run`` issues timed operations, checking each one's
output; a failed check or an exception counts as a failed operation.
The listed workloads issue a fixed number of operations, so that runs
compare; the companions run until the deadline. ``finish`` makes the
end-of-run checks and returns the workload's end-to-end values.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import numpy as np

import gen
from tracing import median

WAREHOUSE_TABLES = ("dim_date", "dim_customers", "dim_products", "dim_campaigns",
                    "fact_sales", "fact_spend")
FACT_KEYS = {"fact_sales": "sale_id", "fact_spend": "spend_id"}
SETUP_THREADS = 4


def cpu_jiffies() -> tuple[int, int]:
    """(run, stolen) clock ticks summed over all CPUs, from /proc/stat.

    ``stolen`` is time a runnable virtual CPU waited for the hypervisor.
    """
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def unstolen(seconds: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """``seconds`` of wall time less the share the hypervisor stole.

    On a shared host a run's CPUs can lose half their runnable time to
    other guests; that share, not the program, then sets the wall time.
    """
    run, stolen = after[0] - before[0], after[1] - before[1]
    return seconds * (1 - stolen / (run + stolen)) if run + stolen else seconds


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows; floats keep 9 significant
    digits so summation order across partitions cannot change it."""
    def norm(v):
        if isinstance(v, float):
            return float(f"{v:.9g}")
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v
    canon = sorted(repr(tuple(norm(x) for x in r)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class Workload:
    """Shared op loop, failure accounting and latency bookkeeping."""

    name = ""
    unit_op = ""  # what one timed operation is, for the printed summary
    # workloads a traced run of this one also runs, after its own
    # measured part, for their per-layer metrics
    companions: tuple[str, ...] = ()

    def __init__(self, spark, tracer, work: str, seed: int, traced: bool):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.traced = traced
        self.ops: list[dict] = []  # {kind, key, ms, wall_ms, ok, traced}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- helpers -----------------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"[perfbench] check failed: {msg}", file=sys.stderr)

    def timed(self, kind: str, fn, *args, check=None, key=None) -> bool:
        """Run one operation, then its output ``check`` (a function and its
        arguments) untimed. A traced run traces every other operation of
        the same ``key`` (default: the kind), so the untraced half gives
        the tracing overhead."""
        key = kind if key is None else key
        n_key = sum(1 for o in self.ops if o["key"] == key)
        traced = self.traced and n_key % 2 == 0
        self.tr.enabled = traced
        before = len(self.failures)
        j0, t0 = cpu_jiffies(), time.perf_counter()
        try:
            fn(*args)
            wall_ms = (time.perf_counter() - t0) * 1e3
            j1 = cpu_jiffies()
            self.tr.enabled = False
            if check:
                check[0](*check[1:])
            ok = len(self.failures) == before
        except Exception:  # a failed operation is counted, the run goes on
            traceback.print_exc()
            self.failures.append(f"{kind} raised")
            ok = False
            wall_ms, j1 = (time.perf_counter() - t0) * 1e3, cpu_jiffies()
        self.tr.enabled = False
        self.ops.append({"kind": kind, "key": key, "ms": unstolen(wall_ms, j0, j1),
                         "wall_ms": wall_ms, "ok": ok, "traced": traced})
        self.attempted += 1
        self.failed += 0 if ok else 1
        return ok

    def check(self, fn, *args) -> None:
        """An end-of-run output check, counted as one operation."""
        before = len(self.failures)
        try:
            fn(*args)
        except Exception:
            traceback.print_exc()
            self.failures.append("end-of-run check raised")
        self.attempted += 1
        self.failed += 0 if len(self.failures) == before else 1

    def latencies(self, kind: str, traced: bool | None = False, field: str = "ms") -> list[float]:
        return [o[field] for o in self.ops
                if o["kind"] == kind and (traced is None or o["traced"] == traced)]

    def op_latencies(self, kind: str, field: str = "ms") -> list[float]:
        """Latencies for the end-to-end metrics: untraced operations only."""
        lat = self.latencies(kind, False, field)
        return lat or self.latencies(kind, None, field)

    def tracing_overhead_ms(self, kind: str) -> float:
        on, off = self.latencies(kind, True), self.latencies(kind, False)
        return median(on) - median(off) if on and off else 0.0


# --- nightly ETL ------------------------------------------------------------

class NightlyEtl(Workload):
    """Full builds from raw CSVs, then a sequence of small deltas."""

    name = "nightly_etl"
    unit_op = "delta refresh"
    companions = ("event_stream",)
    N_TX = gen.N_TRANSACTIONS
    DELTA_TX = N_TX // 100
    # on 4 vCPUs the first deltas of a process take 9.3, 7.2 and 5.7 s and
    # later ones 4.8-5.6 s: set-up applies WARM_DELTAS before any is timed
    WARM_DELTAS = 3
    # a fixed amount of timed work, so that every metric compares across
    # runs (how many deltas were applied changes the stored bytes); two
    # deltas are what the time allowed for a comparison leaves room for
    TIMED_DELTAS = 2

    def generate(self) -> None:
        self.truth = gen.marketing(self.path("in"), self.seed, self.N_TX,
                                   self.TIMED_DELTAS, self.DELTA_TX)
        self.warm_truth = gen.marketing(self.path("warm-in"), self.seed + 7919,
                                        self.N_TX, self.WARM_DELTAS, self.DELTA_TX)

    def setup(self) -> None:
        from marketing_etl_analytics_spark import etl, schemas, views
        from marketing_etl_analytics_spark.sources import acid
        from marketing_etl_analytics_spark.sources.csv import read_csv
        self.etl, self.schemas, self.views, self.acid, self.read_csv = (
            etl, schemas, views, acid, read_csv)
        # warm-up: one build and WARM_DELTAS deltas on an input of the same size
        tdir = self.path("warm-tables")
        t0 = time.perf_counter()
        self._build(self.warm_truth, tdir)
        self.warm_ms: list[float] = [(time.perf_counter() - t0) * 1e3]
        for k in range(self.WARM_DELTAS):
            t0 = time.perf_counter()
            self._delta(self.warm_truth, tdir, k)
            self.warm_ms.append((time.perf_counter() - t0) * 1e3)
        print("[perfbench] warm-up build and deltas (ms): "
              + ", ".join(f"{x:.0f}" for x in self.warm_ms), file=sys.stderr)

    def _tables(self, tdir: str) -> dict:
        return {t: self.acid.read(self.spark, os.path.join(tdir, t)) for t in WAREHOUSE_TABLES}

    def _build(self, truth: dict, tdir: str) -> None:
        spark, acid, views, tr = self.spark, self.acid, self.views, self.tr
        with tr.span("nightly.build") as b:
            with tr.span("etl.run_etl"):
                wh = self.etl.run_etl(spark, truth["raw_dir"])
            for t in WAREHOUSE_TABLES:
                with tr.span("sources.acid.create", table=t) as a:
                    acid.create(spark, os.path.join(tdir, t), wh[t],
                                stats_cols=[FACT_KEYS[t]] if t in FACT_KEYS else None)
                    a["bytes_written"] = dir_bytes(os.path.join(tdir, t))
            for t in ("dim_date", "dim_customers", "dim_products", "dim_campaigns"):
                wh[t].unpersist()
            r = self._tables(tdir)
            with tr.span("views.create_kpi_totals"):
                views.create_kpi_totals(spark, os.path.join(tdir, "kpi_channel_totals"),
                                        r["fact_sales"], r["fact_spend"], r["dim_campaigns"],
                                        views.KPI_CHANNEL_GRAIN)
            with tr.span("views.create_channel_daily"):
                acid.create(spark, os.path.join(tdir, "mv_channel_daily"),
                            views.channel_daily(r["fact_sales"], r["fact_spend"],
                                                r["dim_campaigns"], r["dim_date"]))
            b["raw_rows"] = truth["base"]["tx"] + truth["base"]["spend_rows"]

    def _merge(self, tdir: str, table: str, df) -> None:
        path = os.path.join(tdir, table)
        with self.tr.span("sources.acid.merge", table=table) as a:
            before = self.acid.read_manifest(path, self.acid.current_version(path)).files
            t0 = time.perf_counter()
            v = self.acid.merge(self.spark, path, df, [FACT_KEYS[table]])
            a["ms"] = (time.perf_counter() - t0) * 1e3
            after = set(self.acid.read_manifest(path, v).files)
            a["files_carried"] = sum(1 for f in before if f in after)
            a["files_rewritten"] = len(before) - a["files_carried"]
            a["live_files"] = len(after)

    def _delta(self, truth: dict, tdir: str, k: int) -> None:
        from pyspark.sql import functions as F
        spark, tr, views, schemas = self.spark, self.tr, self.views, self.schemas
        d = truth["deltas"][k]["dir"]
        with tr.span("nightly.delta", k=k):
            r = self._tables(tdir)
            stg = {n: self.read_csv(spark, os.path.join(d, schemas.RAW_CSV_FILES[n][0]),
                                    schema=schemas.RAW_CSV_FILES[n][1])
                   for n in ("transactions", "spend")}
            # delta surrogate keys live in their own range above the base keys
            offset = F.lit((k + 1) << 40)
            fs = self.etl.build_fact_sales(stg["transactions"], r["dim_date"],
                                           r["dim_products"], r["dim_campaigns"])
            # the delta's facts are staged once, then merged and folded
            # into the views; a delta carries no spend rows, so fact_spend
            # is not merged and the KPI refresh folds in an empty spend delta
            fs = fs.withColumn("sale_id", F.col("sale_id") + offset).localCheckpoint()
            sp = self.etl.build_fact_spend(stg["spend"], r["dim_date"],
                                           r["dim_campaigns"]).localCheckpoint()
            self._merge(tdir, "fact_sales", fs)
            with tr.span("views.incremental_refresh_kpi"):
                views.incremental_refresh_kpi(spark, os.path.join(tdir, "kpi_channel_totals"),
                                              fs, sp, r["dim_campaigns"], views.KPI_CHANNEL_GRAIN)
            with tr.span("views.incremental_refresh_channel_daily"):
                wh = self._tables(tdir)
                views.incremental_refresh_channel_daily(
                    spark, os.path.join(tdir, "mv_channel_daily"), wh,
                    fs.select("date_id").union(sp.select("date_id")))

    def _check_sums(self, tdir: str, truth: dict, n_deltas: int) -> None:
        """Row counts and money totals equal the generator's, exactly."""
        from pyspark.sql import functions as F
        parts = [truth["base"]] + truth["deltas"][:n_deltas]
        want_s = (sum(p["tx"] for p in parts), Decimal(sum(p["revenue"] for p in parts)),
                  Decimal(sum(p["cost"] for p in parts)))
        want_p = (sum(p["spend_rows"] for p in parts), sum(p["spend"] for p in parts))
        read = lambda t: self.acid.read(self.spark, os.path.join(tdir, t))  # noqa: E731
        s = read("fact_sales").agg(F.count(F.lit(1)), F.sum("revenue"), F.sum("cost")).first()
        p = read("fact_spend").agg(F.count(F.lit(1)), F.sum("spend")).first()
        if tuple(s) != want_s or tuple(p) != want_p:
            self.fail(f"{tdir} after {n_deltas} deltas: sales {tuple(s)} != {want_s} "
                      f"or spend {tuple(p)} != {want_p}")

    def run(self, deadline: float) -> None:
        # fixed work, deadline unused; each check runs after its timer stops
        self.tdir = self.path("tables")
        self.timed("build", self._build, self.truth, self.tdir,
                   check=(self._check_sums, self.tdir, self.truth, 0))
        for k in range(self.TIMED_DELTAS):
            self.timed("delta", self._delta, self.truth, self.tdir, k,
                       check=(self._check_sums, self.tdir, self.truth, k + 1))
        self.applied = self.TIMED_DELTAS

    def _check_views(self) -> None:
        """Incremental KPI totals and channel_daily equal full recomputes."""
        views = self.views
        tdir = self.tdir
        r = self._tables(tdir)
        inc = views.kpi_from_totals(self.acid.read(self.spark, os.path.join(tdir, "kpi_channel_totals")),
                                    views.KPI_CHANNEL_GRAIN).collect()
        full = views.kpi_channel(r["fact_sales"], r["fact_spend"], r["dim_campaigns"]).collect()
        if rows_digest(inc) != rows_digest(full):
            self.fail("incremental KPI totals differ from a full kpi_channel recompute")
        inc = self.acid.read(self.spark, os.path.join(tdir, "mv_channel_daily")).collect()
        full = views.channel_daily(r["fact_sales"], r["fact_spend"], r["dim_campaigns"],
                                   r["dim_date"]).collect()
        if rows_digest(inc) != rows_digest(full):
            self.fail("incremental channel_daily differs from a full recompute")

    def finish(self) -> dict:
        self.check(self._check_views)
        rows = self.truth["base"]["tx"] + self.truth["base"]["spend_rows"]
        build_s = self.op_latencies("build")[0] / 1e3
        delta = self.op_latencies("delta")
        # throughput over the whole timed part: every raw row the build and
        # the deltas loaded, per second of their summed time
        deltas = self.truth["deltas"][:self.applied]
        all_rows = rows + sum(d["tx"] + d["spend_rows"] for d in deltas)
        all_s = build_s + sum(o["ms"] for o in self.ops if o["kind"] == "delta") / 1e3
        raw = self.truth["raw_bytes"] + sum(dir_bytes(d["dir"]) for d in deltas)
        stored = dir_bytes(self.tdir)
        return {
            "latency_ms": delta,
            "items_per_s": all_rows / all_s,
            "stored_bytes_per_input_byte": stored / raw,
            "named": {
                "etl_rows_per_s": (rows / build_s, "rows/s", 1),
                "refresh_p50_ms": (median(delta), "ms", len(delta)),
                "last_warm_up_delta_ms": (self.warm_ms[-1], "ms", 1),
                "stored_bytes_per_input_byte": (stored / raw, "ratio", 1),
            },
            "latency_kind": "delta",
        }


# --- dashboard --------------------------------------------------------------

class Dashboard(Workload):
    """A seeded, shuffled stream of the 12 library queries and the 3 views."""

    name = "dashboard"
    unit_op = "query"
    companions = ("curation",)
    N_TX = gen.N_TRANSACTIONS
    # fixed work: one round, two in a traced run (each query traced once
    # and untraced once)
    ROUNDS = 1

    def generate(self) -> None:
        self.truth = gen.marketing(self.path("in"), self.seed, self.N_TX, 0, 0)

    def setup(self) -> None:
        from marketing_etl_analytics_spark import etl, queries, views
        from marketing_etl_analytics_spark.sources import acid
        self.acid, self.views, self.queries = acid, views, queries
        self.names = list(queries.ALL_QUERIES) + ["mv_channel_daily", "mv_kpi_channel",
                                                  "mv_kpi_campaign"]
        wh = etl.run_etl(self.spark, self.path("in", "raw"))
        # set-up work runs on a few threads: cold planning and codegen are
        # mostly single-threaded, so this shortens set-up, not the timed part
        with ThreadPoolExecutor(SETUP_THREADS) as pool:
            list(pool.map(lambda t: acid.create(
                self.spark, self.path("warehouse", t), wh[t],
                stats_cols=[FACT_KEYS[t]] if t in FACT_KEYS else None), WAREHOUSE_TABLES))
            for t in ("dim_date", "dim_customers", "dim_products", "dim_campaigns"):
                wh[t].unpersist()
            # warm-up: every query once; its result is the reference for repeats
            digests = pool.map(lambda n: rows_digest(self._query(n)), self.names)
            self.first = dict(zip(self.names, digests))
        self.rng = np.random.default_rng(self.seed)

    def _query(self, name: str):
        tr = self.tr
        with tr.span("dashboard.query", query=name):
            with tr.span("sources.acid.read"):
                wh = {t: self.acid.read(self.spark, self.path("warehouse", t))
                      for t in WAREHOUSE_TABLES}
            with tr.span("views.build"):
                wh.update(self.views.build_views(wh))
            with tr.span("queries.plan", query=name):
                fn = self.queries.ALL_QUERIES.get(name)
                df = fn(wh) if fn else wh[name]
                if tr.enabled:  # split planning from execution in traced runs
                    df._jdf.queryExecution().executedPlan()
            with tr.span("queries.exec", query=name):
                return df.collect()

    def _issue(self, name: str) -> None:
        got = rows_digest(self._query(name))
        if got != self.first[name]:
            self.fail(f"{name} result differs from its first run")

    def run(self, deadline: float) -> None:
        # whole rounds only, so every query weighs the same in every run;
        # a traced run traces each query on every other issue
        for _ in range(2 * self.ROUNDS if self.traced else self.ROUNDS):
            for i in self.rng.permutation(len(self.names)):
                self.timed("query", self._issue, self.names[i], key=self.names[i])

    def finish(self) -> dict:
        lat = self.op_latencies("query")
        stored = dir_bytes(self.path("warehouse"))
        return {
            "latency_ms": lat,
            "items_per_s": len(lat) / (sum(lat) / 1e3),
            "stored_bytes_per_input_byte": stored / self.truth["raw_bytes"],
            "named": {
                "query_p50_ms": (median(lat), "ms", len(lat)),
                "query_p90_ms": (float(np.percentile(lat, 90)), "ms", len(lat)),
                "queries_per_s": (len(lat) / (sum(lat) / 1e3), "1/s", len(lat)),
            },
            "latency_kind": "query",
        }


# --- curation ---------------------------------------------------------------

class Curation(Workload):
    """Exact dedup -> MinHash bands -> LSH pairs -> quality filter -> SemDeDup."""

    name = "curation"
    unit_op = "pipeline pass"
    N_DOCS = 1200
    # cosine at or above this marks a semantic duplicate; random 32-dim
    # vectors stay far below it, planted near duplicates far above
    SEMANTIC_THRESHOLD = 0.95

    def generate(self) -> None:
        self.truth = gen.corpus(self.path("in"), self.seed, self.N_DOCS)
        self.warm_truth = gen.corpus(self.path("warm-in"), self.seed + 7919, self.N_DOCS // 8)
        self.passes: list[dict] = []

    def setup(self) -> None:
        from marketing_etl_analytics_spark.ext import curation, dedup
        self.dedup, self.curation = dedup, curation
        self._pass(self.path("warm-in"), self.warm_truth, self.path("warm-out"))

    def _stage(self, name: str, df, out: str):
        """Materialize a stage's output as parquet before the next stage."""
        with self.tr.span(name) as a:
            df.write.mode("overwrite").parquet(out)
            back = self.spark.read.parquet(out)
            a["rows"] = back.count()
        return back

    def _pass(self, in_dir: str, truth: dict, out: str) -> dict:
        from pyspark.sql import functions as F
        dedup, cur = self.dedup, self.curation
        docs = self.spark.read.parquet(os.path.join(in_dir, "documents.parquet"))
        emb = self.spark.read.parquet(os.path.join(in_dir, "embeddings.parquet"))
        res: dict = {}
        with self.tr.span("curation.pass"):
            exact = self._stage("ext.dedup.exact", dedup.exact_dedup(docs, "doc_id", "text"),
                                os.path.join(out, "exact"))
            kept = docs.join(exact.filter("is_dup = 0").select("doc_id"), "doc_id", "left_semi")
            bands = self._stage("ext.dedup.minhash", dedup.minhash_bands(kept, "doc_id", "text"),
                                os.path.join(out, "bands"))
            pairs = self._stage("ext.dedup.lsh", dedup.lsh_candidate_pairs(bands, "doc_id"),
                                os.path.join(out, "pairs"))
            toks = F.split(F.lower("text"), " ")
            scored = kept.join(pairs.select(F.col("doc_id_b").alias("doc_id")).distinct(),
                               "doc_id", "left_anti")
            good = self._stage(
                "ext.curation.quality",
                scored.filter(cur.quality_logit_1e4(toks, F.col("n_chars")) >= cur.QUALITY_KEEP_1E4)
                .select("doc_id"),
                os.path.join(out, "quality"))
            sem = self._stage(
                "ext.curation.semantic_dedup",
                cur.semantic_dedup(emb.join(good.withColumnRenamed("doc_id", "vec_id"), "vec_id",
                                            "left_semi"), threshold=self.SEMANTIC_THRESHOLD),
                os.path.join(out, "semantic"))
            res["flagged"] = {r[0] for r in exact.filter("is_dup = 1").select("doc_id").collect()}
            res["pairs"] = {(r[0], r[1]) for r in pairs.select("doc_id_a", "doc_id_b").collect()}
            res["kept"] = good.count()
            res["semantic_dups"] = sem.filter("NOT is_kept").count()
        missed = [i for _, i in truth["exact_pairs"] if i not in res["flagged"]]
        if missed:
            self.fail(f"{len(missed)} planted exact duplicates not flagged, e.g. {missed[:3]}")
        near = truth["near_pairs"]
        res["recall"] = sum(1 for p in near if p in res["pairs"]) / max(1, len(near))
        res["precision"] = sum(1 for p in res["pairs"] if p in set(near)) / max(1, len(res["pairs"]))
        return res

    def _timed_pass(self, i: int) -> None:
        out = self.path("out", f"pass-{i}")
        self.passes.append(self._pass(self.path("in"), self.truth, out) | {"dir": out})

    def run(self, deadline: float) -> None:
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            self.timed("pass", self._timed_pass, i)
            if i > 0:  # keep one pass's outputs for the stored-bytes ratio
                shutil.rmtree(self.path("out", f"pass-{i}"), ignore_errors=True)
            i += 1

    def finish(self) -> dict:
        lat = self.op_latencies("pass")
        recall = median(p["recall"] for p in self.passes)
        stored = dir_bytes(self.passes[0]["dir"])
        return {
            "latency_ms": lat,
            "items_per_s": self.truth["n_docs"] / (median(lat) / 1e3),
            "stored_bytes_per_input_byte": stored / self.truth["input_bytes"],
            "named": {
                "docs_per_s": (self.truth["n_docs"] / (median(lat) / 1e3), "1/s", len(lat)),
                "near_dup_recall": (recall, "ratio", len(self.passes)),
            },
            "latency_kind": "pass",
        }


# --- event stream -----------------------------------------------------------

def _utc_s(iso: str) -> float:
    """Epoch seconds of a progress timestamp such as 2025-01-01T00:00:00.123Z."""
    import datetime as dt
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class EventStream(Workload):
    """Event part-files dropped at a fixed rate into a directory that
    ``streaming.read_events_stream`` follows into ``daily_event_aggregates``
    (open loop); then a fresh query drains the whole directory through
    ``dedup_events`` under ``availableNow`` (catch-up).

    The two operators run in separate queries: both define a watermark
    on ``ts``, and Spark refuses a second watermark on one stream.
    """

    name = "event_stream"
    unit_op = "part-file"
    PER_FILE = 2000
    # one part-file a second; on 4 vCPUs a micro-batch takes about half of that
    INTERVAL_S = 1.0
    MAX_FILES = 40
    WARM_FILES = 3

    def generate(self) -> None:
        self.truth = gen.events(self.path("staged"), self.seed, self.MAX_FILES, self.PER_FILE)
        self.warm_truth = gen.events(self.path("warm", "events.parquet"), self.seed + 7919,
                                     self.WARM_FILES, self.PER_FILE)
        self.progress: list[dict] = []

    def _query(self, sf_dir: str, name: str, catchup: bool):
        """Start the open-loop aggregation, or the catch-up dedup drain."""
        from marketing_etl_analytics_spark.streaming import events_stream as es
        with self.tr.span("streaming.read_events_stream"):
            events = es.read_events_stream(self.spark, sf_dir)
        if catchup:
            w = es.dedup_events(events).writeStream.outputMode("append").trigger(availableNow=True)
        else:
            w = es.daily_event_aggregates(events).writeStream.outputMode("complete")
        return (w.format("memory").queryName(name)
                .option("checkpointLocation", self.path("checkpoints", name)).start())

    def setup(self) -> None:
        # warm-up: both queries once on other files, so the first query of
        # the process, and its codegen, are not timed
        warm, files = self.path("warm"), self.path("warm", "events.parquet")
        q = self._query(warm, "pb_warm_agg", False)
        q.processAllAvailable()
        q.stop()
        self._check_aggregates("pb_warm_agg", files, self.warm_truth["rows"])
        self._query(warm, "pb_warm_dedup", True).awaitTermination()
        self._check_dedup("pb_warm_dedup", self.warm_truth["distinct"])

    def _batch_of_file(self, name: str) -> dict[str, int]:
        """File name -> id of the micro-batch that read it, from the file
        source's log in the checkpoint (plain and compacted entries)."""
        log = self.path("checkpoints", name, "sources", "0")
        out = {}
        for entry in os.listdir(log):
            if entry.startswith("."):  # checksum files
                continue
            with open(os.path.join(log, entry)) as f:
                for line in f:
                    if line.startswith("{"):
                        rec = json.loads(line)
                        out[os.path.basename(rec["path"])] = rec["batchId"]
        return out

    def run(self, deadline: float) -> None:
        staged = self.truth["paths"]
        src = self.path("stream", "events.parquet")
        os.makedirs(src)
        # the source needs one file to start; it is not a timed drop
        os.rename(staged[0], os.path.join(src, os.path.basename(staged[0])))
        self.dropped = 1
        drops = []  # (file, scheduled, actual), wall-clock seconds
        self.tr.enabled = self.traced
        with self.tr.span("streaming.open_loop"):
            q = self._query(self.path("stream"), "pb_open", False)
            j0, t0 = cpu_jiffies(), time.time() + self.INTERVAL_S
            while self.dropped < len(staged) and time.perf_counter() < deadline:
                sched = t0 + (self.dropped - 1) * self.INTERVAL_S
                time.sleep(max(0.0, sched - time.time()))
                name = os.path.basename(staged[self.dropped])
                os.rename(staged[self.dropped], os.path.join(src, name))
                drops.append((name, sched, time.time()))
                self.dropped += 1
            q.processAllAvailable()
            j1 = cpu_jiffies()
            self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            q.stop()
        self.tr.enabled = False
        batch_end = {p["batchId"]: _utc_s(p["timestamp"])
                     + p["durationMs"]["triggerExecution"] / 1e3 for p in self.progress}
        batch_of = self._batch_of_file("pb_open")
        for name, sched, actual in drops:
            b = batch_of.get(name)
            ok = b in batch_end
            wall_ms = (batch_end[b] - sched) * 1e3 if ok else 0.0
            if not ok:
                self.fail(f"{name} was never read by the stream")
            self.ops.append({"kind": "file", "key": "file", "ms": unstolen(wall_ms, j0, j1),
                             "wall_ms": wall_ms, "ok": ok, "traced": False,
                             "late_ms": (actual - sched) * 1e3})
            self.attempted += 1
            self.failed += 0 if ok else 1
        self.timed("catchup", self._catchup, check=(
            self._check_dedup, "pb_catchup", self.truth["new_per_file"] * self.dropped))

    def _catchup(self) -> None:
        with self.tr.span("streaming.catchup"):
            self._query(self.path("stream"), "pb_catchup", True).awaitTermination()

    def _check_aggregates(self, name: str, files_dir: str, rows: int) -> None:
        """The stream's sink equals batch ``daily_event_aggregates`` over
        the same files."""
        from marketing_etl_analytics_spark.streaming import events_stream as es
        cols = ("day", "event_type", "n_events", "total_value")
        got = self.spark.table(name).select(*cols).collect()
        want = es.daily_event_aggregates(self.spark.read.parquet(files_dir)).select(*cols).collect()
        if rows_digest(got) != rows_digest(want):
            self.fail(f"stream sink {name} differs from the batch aggregates")
        if sum(r.n_events for r in got) != rows:
            self.fail(f"stream sink {name} counts {sum(r.n_events for r in got)} rows, not {rows}")

    def _check_dedup(self, name: str, distinct: int) -> None:
        """Every distinct event comes out once; every replay is dropped."""
        from pyspark.sql import functions as F
        n, ids = self.spark.table(name).agg(F.count(F.lit(1)), F.count_distinct("event_id")).first()
        if (n, ids) != (distinct, distinct):
            self.fail(f"dedup sink {name} has {n} rows and {ids} ids, not {distinct}")

    def finish(self) -> dict:
        src = self.path("stream", "events.parquet")
        self.check(self._check_aggregates, "pb_open", src, self.PER_FILE * self.dropped)
        lat = self.op_latencies("file")
        rows = self.PER_FILE * self.dropped
        catch_s = self.op_latencies("catchup")[0] / 1e3
        stored = dir_bytes(self.path("checkpoints", "pb_catchup"))
        return {
            "latency_ms": lat,
            "items_per_s": rows / catch_s,
            "stored_bytes_per_input_byte": stored / dir_bytes(src),
            "named": {
                "stream_latency_p50_ms": (median(lat), "ms", len(lat)),
                "stream_latency_p90_ms": (float(np.percentile(lat, 90)), "ms", len(lat)),
                "stream_catchup_events_per_s": (rows / catch_s, "1/s", 1),
            },
            "latency_kind": "file",
        }


WORKLOADS = {w.name: w for w in (NightlyEtl, Dashboard, Curation, EventStream)}
