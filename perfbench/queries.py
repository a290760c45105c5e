"""Query lists of the catalog workloads.

``CATALOG_ITER`` holds callables whose build runs many Spark jobs
(iterative dedup, connectivity and rating loops); ``CATALOG_SCAN`` is
``bench.py``'s r01 headline basis (``HEADLINE`` minus ``_POST_R02``),
where the noop-sink execution dominates at sf0.1. A run times and
checks only the ``*_PASS`` subsets, so it fits the benchmark's time
budget; ``digests.json`` holds oracle answers for both full lists.
"""

CATALOG_ITER = (
    "q117_semantic_dedup",
    "q394_bradley_terry",
    "q78_dedup_clusters",
    "q199_dedup_keep_best",
    "q99_dedup_incremental",
    "q263_crossdoc_span_excise",
)

CATALOG_SCAN = (
    "q01_pricing_summary",
    "q02_top_customers",
    "q03_shipping_priority",
    "q05_region_nation_revenue",
    "q13_explode_terms",
    "q14_window_topk",
    "q26_search_bm25",
    "q32_dedup_minhash_pairs",
    "q37_embedding_cosine_topk",
    "q44_tumbling_window",
    "q46_sessionize",
    "q49_multimodal_features",
    "q35_dedup_simhash_pairs",
    "q68_search_bm25_indexed",
    "q75_item_item_similarity",
    "q82_embedding_ann_ivf",
    "q84_range_join",
    "q85_ann_batch",
    "q86_curation_pipeline",
    "q88_sequence_packing",
    "q91_multimodal_frames",
)

# Timed-pass subsets (see the module docstring).
ITER_PASS = ("q78_dedup_clusters", "q263_crossdoc_span_excise")
SCAN_PASS = (
    "q01_pricing_summary",
    "q05_region_nation_revenue",
    "q49_multimodal_features",
    "q85_ann_batch",
)

# Tables each pass reads (loaded in set-up and probed by traced runs).
ITER_TABLES = ("documents",)
SCAN_TABLES = ("customer", "documents", "embeddings", "lineitem", "nation", "orders", "region")
