"""Benchmark driver: runs the suite's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query executes end-to-end through the noop sink (full plan runs
on the cluster, no driver-side collect overhead in the timing).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from marketing_etl_analytics_spark.session import get_spark  # noqa: E402
from marketing_etl_analytics_spark.suite import SUITE  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # memoize+persist the 10 shared tables (suite/common.py): 64 queries
    # in one session shouldn't each re-pay the same scan + spread
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")

    spark = get_spark(app_name="bench")
    # warm-up actions so one-time session costs (JVM, codegen compiler,
    # parquet reader init + footer reads, Python UDF worker pool) aren't
    # billed to the first query that happens to need them
    spark.range(1).count()
    # touch EVERY table (footer + first scan), not just lineitem —
    # otherwise whichever query first reads events/documents/part pays
    # the cold scan inside its timing
    from marketing_etl_analytics_spark.suite.common import t as _t

    for _tbl in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        _t(spark, sf_dir, _tbl).count()
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(64).repartition(32).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()
    # streaming-engine warmup (r10): the first streaming query in a
    # session pays ~2.3 s of one-time StreamExecution/state-store
    # class loading + codegen (measured: rate-source warm query 2.4 s,
    # after which a real entry's query start is ~0.4 s) — without
    # this, whichever stream_* entry the registry rotation puts first
    # absorbs that machinery cost into its timing. A 1-row rate-source
    # stateful query touches the same engine paths and no entry data.
    # Timed into `warmup`, so its cost shows in value_plus_warmup_sec.
    import uuid as _uuid

    warmup: dict[str, float] = {}
    _wname = f"warm_stream_{_uuid.uuid4().hex[:6]}"
    t0 = time.perf_counter()
    _wq = (
        spark.readStream.format("rate").option("numPartitions", 1).load()
        .dropDuplicates(["value"])
        .writeStream.format("memory")
        .queryName(_wname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _wq.awaitTermination(120)
    warmup["_stream_engine"] = round(time.perf_counter() - t0, 3)
    spark.catalog.dropTempView(_wname)

    # Shared-artifact warmup (VERDICT r8 #2 / Next #4): several entry
    # families consume one-time memoized artifacts (suite.common.memo_df
    # tables: shingle index, embedding norms, IVF/semantic assignment,
    # PQ codes, graph edge index; the persisted bucketed term index;
    # the incremental-view base state). The registry window rotation
    # reorders the suite every round, so without a warmup the build
    # cost lands on whichever family entry happens to run first —
    # making round-over-round per-entry comparisons noise. Build them
    # HERE, untimed-per-entry but reported as separate named rows, so
    # the timed loop below measures warm plans regardless of registry
    # order. A targeted probe (SPARK_GRAFT_BENCH_ONLY) warms only the
    # owners it will time — paying all 15 owners at a 100x-class SF to
    # probe one entry made targeted large-SF runs impractical.
    #   SPARK_GRAFT_BENCH_ONLY=a,b,c -> run only the named entries
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    only = (
        {n.strip() for n in only_env.split(",") if n.strip()}
        if only_env else None
    )
    WARMUP_OWNERS = [
        # entry -> shared artifact it builds (comment = memo name)
        "ext_dedup_ngram_jaccard",    # ngram_sets (shared shingle index)
        "ext_dedup_embedding_cosine", # emb_norms + emb_buckets
        "ext_coreset_kcenter",        # emb_norms_lattice
        "ext_sketch_suite",           # kmv_sketch_sets / kmv_hash_sets
        "ext_dedup_containment",      # containment_shingles
        "ext_quality_dsir",           # dsir_feats (memoized bigram stage)
        "ext_graph_pagerank",         # pagerank_edges (shared edge index)
        "ext_dedup_simhash",          # simhash_pairs
        "ext_dedup_cluster",          # simhash_clusters
        "ext_ann_ivf_suite",          # ann_ground_truth (recall branch, r9 fold)
        "ext_quality_perceptron",     # pctr_docvec (hashed-count vectors)
        "ext_ann_pq_adc",             # pq_codes + pq_lut
        "ext_semantic_dedup",         # sem_assign
        "ext_semantic_dedup_ivf",     # IVF centroids
        "ext_search_suite",           # persisted bucketed term index
        "mv_channel_daily_incremental",  # the refreshed view table
    ]
    for wname in WARMUP_OWNERS:
        if wname not in SUITE:
            continue
        if only is not None and wname not in only:
            continue
        t0 = time.perf_counter()
        SUITE[wname].fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        warmup[wname] = round(time.perf_counter() - t0, 3)
        print(f"[bench] warmup {wname}: {warmup[wname]:.3f}s",
              file=sys.stderr, flush=True)

    # best-of-2 per query: the first run carries per-plan codegen
    # compilation and any transient machine noise; min() reports the
    # reproducible steady-state cost of the plan itself
    # per-entry progress on stderr (stdout stays the single JSON line):
    # at large SFs a failure/OOM mid-run must be attributable to an entry
    names = list(SUITE)
    if only is not None:
        unknown = only - set(SUITE)
        if unknown:
            raise SystemExit(f"unknown bench entries: {sorted(unknown)}")
        names = [n for n in names if n in only]

    timings: dict[str, float] = {}
    for name in names:
        entry = SUITE[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            entry.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
            # best-of-2 exists to amortize per-plan codegen compilation
            # AND one-time memoized-index builds; for a genuinely slow
            # entry the repeat would double large-SF wall for nothing.
            # The cut is 60 s (was 30): entries whose COLD run is
            # 30-60 s but whose warm plan is seconds (memoized cluster/
            # shingle indexes, e.g. ext_semantic_dedup_ivf at sf1)
            # were recording the cold number whenever host drift pushed
            # run 1 past the cut — a 10x discontinuity in the recorded
            # figure for identical code.
            if best > 60.0:
                break
        timings[name] = round(best, 3)
        print(f"[bench] {name}: {timings[name]:.3f}s", file=sys.stderr, flush=True)

    value = round(sum(timings.values()), 3)
    warmup_sec = round(sum(warmup.values()), 3)
    out = {
        "metric": "suite_wall_seconds",
        "value": value,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # one-time shared-artifact build costs, kept OUT of the
        # per-entry figures and the headline value so both stay
        # comparable across registry rotations (VERDICT r8 Next #4)
        "warmup": warmup,
        "warmup_sec": warmup_sec,
        # co-headline (VERDICT r9 Next #2): value + warmup as a
        # FIRST-CLASS field so cost can never silently migrate into
        # the untimed warmup phase between rounds — compare both.
        "value_plus_warmup_sec": round(value + warmup_sec, 3),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
