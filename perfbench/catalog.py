"""Metric catalog: every metric the benchmark prints, and how it is derived.

``END_TO_END`` and the names ``per_layer`` returns are the metric
lists ``BENCHMARK.json`` declares; the benchmark's tests keep them in
step. Each per-layer metric names the end-to-end metric it should move
and the workload on which it does (``LAYER_MOVES``). The ``ext`` and
``streaming`` metrics come from the companion workloads that traced
runs also run: curation in a traced dashboard run, event_stream in a
traced nightly_etl run.
"""

from __future__ import annotations

from collections import defaultdict

from tracing import median

# name -> (unit, better); the run prints exactly these with --trace 0
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p90_ms": ("ms", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "stored_bytes_per_input_byte": ("ratio", "lower"),
}

QUERY_NAMES = (
    "q0_pnl_summary", "q1_best_sellers", "q2_profit_products", "q3_margin_products",
    "q4_channel_performance", "q5_repeat_drivers", "q6_category_performance",
    "q7_product_quadrant", "q8_spend_waste", "q9_retention", "q10_demographics",
    "q11_frequency_segments", "mv_channel_daily", "mv_kpi_channel", "mv_kpi_campaign",
)
ROOT_SPANS = ("nightly.build", "nightly.delta", "dashboard.query")


def _dur(spans, scale=1e3):
    return median((s["end"] - s["start"]) * scale for s in spans)


def _ev(spans, field, scale=1.0):
    return median(s["events"][field] * scale for s in spans)


def _attr(spans, key):
    return median(s["attrs"].get(key, 0) for s in spans)


def _per_trace(spans, fn):
    """Median over traces (one build, one query...) of ``fn`` of its spans."""
    by = defaultdict(list)
    for s in spans:
        by[s["trace"]].append(s)
    return median(fn(group) for group in by.values())


def _sum_ev(field, scale=1.0):
    return lambda group: sum(s["events"][field] for s in group) * scale


def per_layer(tr, run_info: dict, companions: dict | None = None) -> dict[str, float]:
    """Every per-layer metric; 0 where the run does not use the layer.

    ``companions`` maps a companion workload's name to (workload, the
    result of its ``finish``).
    """
    companions = companions or {}
    n = tr.named
    create = n("sources.acid.create")
    merge = n("sources.acid.merge")
    build = n("nightly.build")
    query = n("dashboard.query")
    roots = [s for s in tr.spans if s["name"] in ROOT_SPANS]
    m = {
        "session.get_spark_s": run_info["get_spark_s"],
        # nightly_etl: full build
        "sources.csv.input_bytes": _ev(build, "csv_input_bytes"),
        "sources.csv.records_read": _ev(build, "csv_records_read"),
        "sources.csv.scan_task_s": _ev(build, "csv_run_ms", 1e-3),
        "etl.plan_ms": _dur(n("etl.run_etl")),
        "etl.task_s": _per_trace(create, _sum_ev("run_ms", 1e-3)),
        "etl.shuffle_write_bytes": _per_trace(create, _sum_ev("shuffle_write_bytes")),
        "sources.acid.create_s": _per_trace(
            create, lambda g: sum(s["end"] - s["start"] for s in g)),
        "sources.acid.create_bytes_written": _per_trace(
            create, lambda g: sum(s["attrs"]["bytes_written"] for s in g)),
        "views.create_kpi_totals_s": _dur(n("views.create_kpi_totals"), 1.0),
        # nightly_etl: deltas
        "sources.acid.merge_ms": _attr(merge, "ms"),
        "sources.acid.merge_jobs": _ev(merge, "jobs"),
        "sources.acid.merge_files_rewritten": _attr(merge, "files_rewritten"),
        "sources.acid.merge_files_carried": _attr(merge, "files_carried"),
        "sources.acid.merge_bytes_written": _ev(merge, "output_bytes"),
        "sources.acid.live_files": _attr(merge, "live_files"),
        "views.incremental_refresh_kpi_ms": _dur(n("views.incremental_refresh_kpi")),
        "views.incremental_refresh_channel_daily_ms": _dur(
            n("views.incremental_refresh_channel_daily")),
        # dashboard
        "sources.acid.read_ms": _dur(n("sources.acid.read")),
        "views.build_ms": _dur(n("views.build")),
        "queries.plan_ms": _dur(n("queries.plan")),
        "queries.exec_ms": _dur(n("queries.exec")),
        "queries.jobs_per_query": _ev(query, "jobs"),
        "queries.tasks_per_query": _ev(query, "tasks"),
        "queries.task_wait_ms": _ev(query, "wait_ms"),
        "queries.executor_cpu_ms": _ev(query, "cpu_ms"),
        "queries.input_bytes_per_query": _ev(query, "input_bytes"),
        "queries.shuffle_bytes_per_query": _ev(query, "shuffle_write_bytes"),
    }
    for q in QUERY_NAMES:
        m[f"queries.{q}_ms"] = _dur([s for s in query if s["attrs"].get("query") == q])
    m.update({
        # every workload, per timed operation
        "spark.jobs": _ev(roots, "jobs"),
        "spark.tasks": _ev(roots, "tasks"),
        "spark.task_wait_s": _ev(roots, "wait_ms", 1e-3),
        "spark.executor_cpu_s": _ev(roots, "cpu_ms", 1e-3),
        "spark.gc_s": _ev(roots, "gc_ms", 1e-3),
        "spark.spill_bytes": _ev(roots, "spill_bytes"),
        "spark.failed_tasks": float(sum(s["events"]["failed_tasks"] for s in roots)),
        "spark.jvm_heap_peak_mb": run_info["jvm_heap_peak_mb"],
        "trace.overhead_ms": run_info["overhead_ms"],
    })
    m.update(ext_layer(tr, *companions.get("curation", (None, None))))
    m.update(stream_layer(*companions.get("event_stream", (None, None))))
    return m


def ext_layer(tr, cur, res) -> dict[str, float]:
    """Per-layer metrics of the ``ext`` layer, from the curation companion."""
    n = tr.named
    cpass = n("curation.pass")
    passes = cur.passes if cur else []
    return {
        "ext.docs_per_s": res["items_per_s"] if res else 0.0,
        "ext.dedup.exact_s": _dur(n("ext.dedup.exact"), 1.0),
        "ext.dedup.minhash_s": _dur(n("ext.dedup.minhash"), 1.0),
        "ext.dedup.lsh_s": _dur(n("ext.dedup.lsh"), 1.0),
        "ext.dedup.candidate_pairs": _attr(n("ext.dedup.lsh"), "rows"),
        "ext.dedup.candidate_precision": median(p["precision"] for p in passes),
        "ext.dedup.near_dup_recall": median(p["recall"] for p in passes),
        "ext.curation.quality_s": _dur(n("ext.curation.quality"), 1.0),
        "ext.curation.docs_kept": _attr(n("ext.curation.quality"), "rows"),
        "ext.curation.semantic_dedup_s": _dur(n("ext.curation.semantic_dedup"), 1.0),
        "ext.curation.semantic_dups": median(p["semantic_dups"] for p in passes),
        "ext.shuffle_write_bytes": _ev(cpass, "shuffle_write_bytes"),
        "ext.spill_bytes": _ev(cpass, "spill_bytes"),
        "ext.executor_cpu_s": _ev(cpass, "cpu_ms", 1e-3),
    }


def stream_layer(es, res) -> dict[str, float]:
    """Per-layer metrics of the ``streaming`` layer, from the event_stream
    companion: its open-loop query's micro-batch progress, its per-file
    latencies, the catch-up drain rate and the load generator's lag."""
    prog = es.progress if es else []

    def dur(*keys):
        return median(sum(p["durationMs"].get(k, 0) for k in keys) for p in prog)

    state = prog[-1]["stateOperators"] if prog else []
    return {
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.commit_ms": dur("walCommit", "commitOffsets"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.batches": float(len(prog)),
        "streaming.rows_per_batch": median(p["numInputRows"] for p in prog),
        "streaming.state_rows": float(sum(op["numRowsTotal"] for op in state)),
        "streaming.state_memory_bytes": float(sum(op["memoryUsedBytes"] for op in state)),
        "streaming.file_latency_p50_ms": median(es.op_latencies("file")) if es else 0.0,
        "streaming.catchup_events_per_s": res["items_per_s"] if res else 0.0,
        "loadgen.late_ms": median(o["late_ms"] for o in es.ops if o["kind"] == "file")
        if es else 0.0,
    }


_UNITS = {"_ms": "ms", "_s": "s", "_mb": "MB"}
_RATIOS = {"ext.dedup.candidate_precision", "ext.dedup.near_dup_recall"}
_RATES = {"ext.docs_per_s", "streaming.catchup_events_per_s"}


def layer_unit(name: str) -> tuple[str, str]:
    """(unit, better) of a per-layer metric, read off its name."""
    if name in _RATIOS:
        return "ratio", "higher"
    if name in _RATES:
        return "1/s", "higher"
    if "_bytes" in name:
        return "bytes", "lower"
    for suffix, unit in _UNITS.items():
        if name.endswith(suffix):
            return unit, "lower"
    return "count", "lower"


# which end-to-end metric each layer metric should move, and on which workload
LAYER_MOVES = {
    "session.": ("setup_s", "all"),
    "sources.csv.": ("throughput_per_s", "nightly_etl"),
    "etl.": ("throughput_per_s", "nightly_etl"),
    "sources.acid.create": ("throughput_per_s", "nightly_etl"),
    "views.create_kpi_totals": ("throughput_per_s", "nightly_etl"),
    "sources.acid.merge": ("latency_p50_ms, stored_bytes_per_input_byte", "nightly_etl"),
    "sources.acid.live_files": ("stored_bytes_per_input_byte", "nightly_etl"),
    "views.incremental": ("latency_p50_ms", "nightly_etl"),
    "sources.acid.read": ("latency_p50_ms", "dashboard"),
    "views.build": ("latency_p50_ms", "dashboard"),
    "queries.": ("latency_p50_ms", "dashboard"),
    # the companions run in traced runs only: no end-to-end metric covers them
    "ext.": ("none: curation runs in the traced dashboard run only", "dashboard"),
    "streaming.": ("none: event_stream runs in the traced nightly_etl run only", "nightly_etl"),
    "loadgen.": ("none: the event_stream load generator's lag", "nightly_etl"),
    "spark.": ("throughput_per_s, peak_rss_mb", "each"),
    "trace.": ("none: traced minus untraced operation time", "each"),
}


def moves(name: str) -> tuple[str, str]:
    for prefix, target in LAYER_MOVES.items():
        if name.startswith(prefix):
            return target
    raise KeyError(name)
