"""Contract of ``__spark_entry__.py``: ``entry(spark)``, ``queries()`` and
``oracle_sql()`` expose the suite registry, and importing the module
has no side effect."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as contract
from marketing_etl_analytics_spark.suite import SUITE

REPO = Path(__file__).resolve().parent.parent

# The registered suite: 99 entries, named here in sorted order.
SUITE_NAMES = """
    etl_dim_campaigns etl_dim_customers etl_dim_date etl_dim_products
    etl_fact_sales etl_fact_spend etl_scd2 etl_upsert_dedup
    ext_ann_ivf_suite ext_ann_pq_adc ext_ann_scan_suite
    ext_attribution_multitouch ext_bpe_encode ext_bpe_suite
    ext_chunk_balance ext_cluster_kmeans ext_coreset_kcenter
    ext_curation_pipeline ext_data_quality ext_dau_anomaly
    ext_dedup_cluster ext_dedup_containment ext_dedup_embedding_cosine
    ext_dedup_eval ext_dedup_exact ext_dedup_incremental
    ext_dedup_ingest_capped ext_dedup_minhash_lsh
    ext_dedup_ngram_jaccard ext_dedup_paragraph ext_dedup_simhash
    ext_dedup_substring ext_doc_filters ext_embed_transform
    ext_funnel_cohort ext_fuzzy_linkage ext_graph_label_propagation
    ext_graph_pagerank ext_graph_triangles ext_hybrid_search
    ext_lm_kneser_ney ext_lm_perplexity ext_mix_unimax
    ext_multimodal_meta ext_pack_sequences ext_quality_dsir
    ext_quality_perceptron ext_quality_score ext_rfm
    ext_sample_stratified ext_sampling_suite ext_search_suite
    ext_semantic_dedup ext_semantic_dedup_ivf
    ext_session_window_native ext_sessionize ext_shuffle_split
    ext_sketch_bloom ext_sketch_suite ext_text_metrics
    ext_text_profile mv_channel_daily mv_channel_daily_incremental
    mv_kpi_campaign mv_kpi_channel q0_pnl_summary q10_demographics
    q11_frequency_segments q1_best_sellers q2_profit_products
    q3_margin_products q4_channel_performance q5_repeat_drivers
    q6_category_performance q7_product_quadrant q8_spend_waste
    q9_retention rel_join_variants rel_pandas_suite rel_reshape_suite
    rel_salted_join rel_scalar_funcs rel_scalar_subquery
    rel_semistructured rel_setops rel_setops_all rel_stats_suite
    rel_temporal_joins rel_timeseries_suite rel_udf_tiers
    rel_window_suite stream_attribution_outer stream_cdc_apply
    stream_dedup stream_dedup_ingest stream_enrich_join
    stream_session_window stream_sketch_suite stream_topk_trending
""".split()

# sha256 over the sorted (name, fn module, fn qualname, oracle SQL)
# tuples; an edit to any entry's function binding or oracle moves it.
SUITE_DIGEST = "d0928704a5c47de24b16a2439f2e695d72cfd51aed76b5c905d00c47a5be21e4"

# Runs in a fresh interpreter: records every file write, delete, rename
# or mkdir the import makes, then prints them as JSON.
_IMPORT_PROBE = r"""
import json, sys
events = []
MUTATORS = {"os.remove", "os.rmdir", "os.rename", "os.mkdir", "os.truncate",
            "os.utime", "os.chmod", "os.symlink", "os.link", "shutil.rmtree"}
def hook(ev, args):
    if ev == "open" and len(args) >= 3:
        path, mode, flags = args[:3]
        if any(c in str(mode or "") for c in "wax+") or (flags or 0) & 3:
            events.append([ev, str(path)])
    elif ev in MUTATORS:
        events.append([ev, str(args[0])])
sys.addaudithook(hook)
sys.path.insert(0, sys.argv[1])
import __spark_entry__
print(json.dumps(events))
"""


def test_import_touches_no_file_and_prints_nothing(tmp_path):
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
    r = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE, str(REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr
    assert json.loads(r.stdout) == []
    assert r.stderr == ""
    assert list(tmp_path.iterdir()) == []


def test_queries_are_the_suite():
    queries = contract.queries()
    assert list(queries) == list(SUITE)
    assert all(queries[n] is e.fn for n, e in SUITE.items())
    assert set(contract.oracle_sql()) <= set(queries)


def test_suite_registry_unchanged():
    assert sorted(SUITE) == SUITE_NAMES
    h = hashlib.sha256()
    for name in sorted(SUITE):
        e = SUITE[name]
        h.update(repr((name, e.fn.__module__, e.fn.__qualname__, e.oracle)).encode())
    assert h.hexdigest() == SUITE_DIGEST


def test_entry_returns_rows(spark):
    assert contract.entry(spark).count() > 0
