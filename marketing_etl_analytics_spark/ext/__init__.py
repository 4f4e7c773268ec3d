"""LLM-data-pipeline extension library (engine-facing API).

Column-parameterized operators: deduplication, embedding similarity,
text analysis, corpus curation, sketches, search and multimodal
payload handling. The suite's dedup, curation, sketch, ANN and
text-profile entries are thin ``(spark, sf_dir)`` adapters over
``ext.dedup``, ``ext.curation``, ``ext.sketches``, ``ext.similarity``
and ``ext.text``; this package imports nothing from the suite.
"""

from marketing_etl_analytics_spark.ext.dedup import (  # noqa: F401
    exact_dedup,
    lsh_candidate_pairs,
    minhash_bands,
    shingles,
    simhash_candidate_pairs,
    simhash_fingerprints,
)
from marketing_etl_analytics_spark.ext.similarity import (  # noqa: F401
    cosine_topk,
    sign_bucket,
)
from marketing_etl_analytics_spark.ext.text import (  # noqa: F401
    lm_bigram_counts,
    lm_perplexity_scores,
    quality_features,
    token_counts,
)
from marketing_etl_analytics_spark.ext.multimodal import (  # noqa: F401
    attach_payload,
    audio_near_dups,
    dhash_near_dups,
    extract_features,
    resize_images,
    sample_frames,
)
from marketing_etl_analytics_spark.ext.curation import (  # noqa: F401
    chunk_documents,
    domain_balance,
    semantic_dedup,
    temperature_sample,
)
from marketing_etl_analytics_spark.ext.sketches import (  # noqa: F401
    bloom_bits,
    bloom_might_contain,
    countmin_counters,
    countmin_query,
    hll_estimate,
    hll_merge,
    hll_registers,
)
from marketing_etl_analytics_spark.ext.search import (  # noqa: F401
    bm25_search,
    build_term_index,
    search_terms,
    term_stats,
)

