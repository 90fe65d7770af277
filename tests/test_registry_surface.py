"""Invariants of the curated driver surface (registry/__init__.py).

The driver records ~50 correctness rows per round, so the curated
registry must stay within that budget, every entry must carry a DuckDB
oracle (zero rows-only checks), and every fine-grained operator entry
must either be curated directly or be a member of a fold documented in
COVERAGE.md.
"""

from __future__ import annotations

from similarity_search_with_hadoop_mapreduce_spark.registry import (
    CURATED_NAMES,
    CURATED_ORACLES,
    CURATED_QUERIES,
    ORACLES,
    QUERIES,
)

# full-registry name -> curated entry that folds it (COVERAGE.md table)
FOLDED = {
    "tokenize": "sim_doc_profile",
    "shingle": "sim_doc_profile",
    "shingle_distinct": "sim_doc_profile",
    "semi_join_filter": "sim_doc_profile",
    "intersection_size": "sim_doc_profile",
    "dedup_simhash": "dedup_simhash_suite",
    "dedup_simhash_pairs": "dedup_simhash_suite",
    "dedup_simhash_pairs_capped": "dedup_simhash_suite",
    "curation_pipeline": "curation_suite",
    "curation_pipeline_neardup": "curation_suite",
    "text_decontamination": "curation_suite",
    "curation_semantic_dedup": "curation_suite",
    "curation_recipe_v2": "curation_suite",
    "sample_pack_sequences": "sample_splits",
    "sample_mixture": "sample_splits",
    "sample_mixture_tokens": "sample_splits",
    "ann_knn_graph": "ann_ivf_suite",
    "ann_knn_graph_lsh": "ann_ivf_suite",
    "ann_knn_graph_lsh_capped": "ann_ivf_suite",
    "ann_knn_graph_recall": "ann_ivf_suite",
    "dedup_minhash_lsh": "dedup_minhash_lsh_suite",
    "dedup_minhash_lsh_capped": "dedup_minhash_lsh_suite",
    "dedup_ngram_containment": "dedup_minhash_lsh_suite",
    "dedup_incremental": "dedup_incremental_suite",
    "dedup_intra_batch": "dedup_incremental_suite",
    "dedup_intra_batch_capped": "dedup_incremental_suite",
    "dedup_embedding_cosine": "dedup_embedding_suite",
    "dedup_embedding_lsh": "dedup_embedding_suite",
    "dedup_embedding_lsh_multiband": "dedup_embedding_suite",
    "dedup_embedding_recall": "dedup_embedding_suite",
    "ann_ivf_topk": "ann_ivf_suite",
    "ann_ivf_recall": "ann_ivf_suite",
    "ann_ivf_recall_sampled": "ann_ivf_suite",
    "ann_ivfpq_residual_topk": "ann_ivf_suite",
    "ann_ivfpq_recall": "ann_ivf_suite",
    "ann_ivfpq_residual_recall": "ann_ivf_suite",
    "ann_pq_topk": "ann_ivf_suite",
    "ann_ivfpq_topk": "ann_ivf_suite",
    "ann_pq_recall": "ann_ivf_suite",
    "ann_ivfpq_refined_topk": "ann_ivf_suite",
    "ann_ivfpq_refined_recall": "ann_ivf_suite",
    "ann_sq8_topk": "ann_ivf_suite",
    "ann_sq8_recall": "ann_ivf_suite",
    "ann_ivfsq_topk": "ann_ivf_suite",
    "ann_ivfsq_recall": "ann_ivf_suite",
    "dedup_embedding_lsh_multiband_capped": "dedup_embedding_suite",
    "ann_ivfsq_refined_topk": "ann_ivf_suite",
    "ann_ivfsq_refined_recall": "ann_ivf_suite",
    "text_token_count": "text_doc_metrics",
    "text_lang_id": "text_doc_metrics",
    "text_quality": "text_doc_metrics",
    "text_fingerprint": "text_doc_metrics",
    "text_repetition": "text_doc_metrics",
    "text_dup_spans": "text_doc_metrics",
    "text_remove_dup_spans": "text_doc_metrics",
    "sample_cluster_safe_split": "sample_splits",
    "sample_source_cap": "sample_splits",
    "text_pii_scrub": "text_doc_metrics",
    "text_lm_score": "text_doc_metrics",
    "text_nb_source": "text_doc_metrics",
    "text_gopher_rules": "text_doc_metrics",
    "text_corpus_composition": "text_corpus_stats",
    "text_vocab_stats": "text_corpus_stats",
    "text_tfidf_keywords": "text_corpus_stats",
    "text_lm_heldout": "text_corpus_stats",
    "text_vocab_coverage": "text_corpus_stats",
    "text_term_drift": "text_corpus_stats",
    "text_corpus_drift": "text_corpus_stats",
    "text_drift_stored": "text_corpus_stats",
    "text_encode_vocab": "text_doc_metrics",
    "text_chunk_documents": "text_corpus_stats",
    "dedup_snapshot_diff": "dedup_incremental_suite",
    "multimodal_image_ahash": "multimodal_decode_meta",
    "multimodal_image_dedup": "multimodal_frame_sample",
    "multimodal_audio_hash": "multimodal_decode_meta",
    "multimodal_audio_dedup": "multimodal_frame_sample",
    "multimodal_video_frames": "multimodal_frame_sample",
    "multimodal_video_dedup": "multimodal_frame_sample",
    "multimodal_image_resize": "multimodal_frame_sample",
    "multimodal_image_ahash_jpeg": "multimodal_frame_sample",
    "multimodal_image_dedup_capped": "multimodal_frame_sample",
    "multimodal_video_dedup_capped": "multimodal_frame_sample",
    "multimodal_image_resize_jpeg": "multimodal_frame_sample",
    "multimodal_audio_resample": "multimodal_frame_sample",
    "multimodal_video_subsample": "multimodal_frame_sample",
    "dedup_incremental_refresh": "curation_suite",
    "curation_recipe_v3": "curation_suite",
    "validate_rules": "curation_suite",
    "validate_unique_fk": "curation_suite",
    "validate_null_profile": "curation_suite",
    "validate_column_profile": "curation_suite",
    "layout_zorder": "events_time_windows",
    "agg_sketch_distinct": "agg_stats_suite",
    "agg_sketch_merge": "agg_stats_suite",
    "agg_sketch_quantile": "agg_stats_suite",
    "agg_sketch_frequency": "agg_stats_suite",
    "agg_sketch_theta_ops": "agg_stats_suite",
    "agg_sketch_quantile_merged": "agg_stats_suite",
    "events_tumbling_window": "events_time_windows",
    "events_ohlc": "events_time_windows",
    "events_sliding_window": "events_time_windows",
    "sample_hash_split": "sample_splits",
    "sample_stratified": "sample_splits",
    "sample_quality_weighted": "sample_splits",
    "window_row_number_topn": "window_suite",
    "window_rank_dense": "window_suite",
    "window_lag_lead": "window_suite",
    "window_running_sum": "window_suite",
    "window_range_frame": "window_suite",
    "window_distribution": "window_suite",
    "join_inner": "join_shapes",
    "join_left_outer": "join_shapes",
    "join_semi": "join_shapes",
    "join_anti": "join_shapes",
    "join_full_outer": "join_shapes",
    "join_cross": "join_shapes",
    "join_broadcast_chain": "join_shapes",
    "join_theta_range": "join_shapes",
    "null_safe_equality": "join_shapes",
    "topk_global": "join_shapes",
    "agg_rollup": "agg_shapes",
    "agg_cube": "agg_shapes",
    "agg_grouping_sets": "agg_shapes",
    "agg_having": "agg_shapes",
    "agg_pivot": "agg_shapes",
    "unpivot_long_form": "agg_shapes",
    "events_value_histogram": "agg_shapes",
    "agg_count_distinct": "agg_stats_suite",
    "agg_stats": "agg_stats_suite",
    "agg_percentile": "agg_stats_suite",
    "agg_argmax": "agg_stats_suite",
    "agg_sketch_theta_ops_estimated": "agg_stats_suite",
    "agg_sketch_bloom_membership": "agg_stats_suite",
    "string_funcs": "scalar_funcs_suite",
    "date_funcs": "scalar_funcs_suite",
    "math_funcs": "scalar_funcs_suite",
    "conditional_funcs": "scalar_funcs_suite",
    "array_funcs": "semistructured_suite",
    "json_funcs": "semistructured_suite",
    "map_funcs": "semistructured_suite",
    "posexplode_ordinality": "semistructured_suite",
    "events_props_variant": "semistructured_suite",
    "set_union_distinct": "set_ops_suite",
    "set_intersect": "set_ops_suite",
    "set_except": "set_ops_suite",
    "set_intersect_all": "set_ops_suite",
    "set_except_all": "set_ops_suite",
    "scalar_subquery": "subquery_suite",
    "subquery_exists": "subquery_suite",
    "q1_pricing_summary": "tpch_scan_agg",
    "q6_forecast_revenue": "tpch_scan_agg",
    "q14_promo_revenue": "tpch_scan_agg",
    "q19_discounted_revenue": "tpch_scan_agg",
    "q3_shipping_priority": "tpch_join_agg",
    "q4_order_priority": "tpch_join_agg",
    "q5_local_supplier_volume": "tpch_join_agg",
    "q10_returned_items": "tpch_join_agg",
    "q12_priority_shipping": "tpch_join_agg",
    "q7_volume_shipping": "tpch_multi_nation",
    "q8_market_share": "tpch_multi_nation",
    "q9_product_type_profit": "tpch_multi_nation",
    "q2_min_cost_supplier": "tpch_partsupp_suite",
    "q11_important_stock": "tpch_partsupp_suite",
    "q15_top_supplier": "tpch_partsupp_suite",
    "q16_supplier_part_counts": "tpch_partsupp_suite",
    "q20_potential_part_promotion": "tpch_partsupp_suite",
    "q13_customer_distribution": "tpch_subquery_suite",
    "q17_small_quantity_revenue": "tpch_subquery_suite",
    "q18_large_volume_customer": "tpch_subquery_suite",
    "q21_suppliers_who_kept_orders_waiting": "tpch_subquery_suite",
    "q22_global_sales_opportunity": "tpch_subquery_suite",
}

# covered by an equivalent curated entry rather than a fold
EQUIVALENT = {
    "flagship_topk": "flagship_multi_query_topk",  # + topk_global in join_shapes
    "flagship_multi_query": "flagship_multi_query_topk",
    "flagship_multi_query_shuffled": "flagship_multi_query_topk",  # forced-plan twin
    "dedup_jaccard_prefix_filter": "dedup_ngram_jaccard",  # result-identical
    # stored-model path, value-identical to text_lm_heldout (itself
    # folded into text_corpus_stats)
    "text_lm_stored": "text_corpus_stats",
    # long-accumulator physical twin, bit-identical to q1_pricing_summary
    # (pinned in test_plans.py::test_q1_production_twin_bit_identical)
    "q1_pricing_summary_production": "tpch_scan_agg",
    # r12: the r1-r11 BigDecimal plan preserved verbatim when
    # q1_pricing_summary moved to _fixed_sum_wide accumulators — same
    # oracle, bit-identical (same test pin as the production twin)
    "q1_pricing_summary_decimal": "tpch_scan_agg",
    # bloom-gated physical twin of text_decontamination (same oracle;
    # r12 — gate is pre-filter only, no false negatives, exact join
    # kills false positives; curation_suite folds the ungated member)
    "text_decontamination_bloom": "curation_suite",
}


def test_curated_fits_driver_budget():
    assert len(CURATED_NAMES) <= 50
    assert len(CURATED_QUERIES) == len(CURATED_NAMES)


def test_every_curated_entry_has_an_oracle():
    assert set(CURATED_ORACLES) == set(CURATED_NAMES)


def test_every_registered_query_is_curated_or_folded():
    for name in QUERIES:
        assert (
            name in CURATED_QUERIES or name in FOLDED or name in EQUIVALENT
        ), f"registry entry {name!r} is invisible to the driver surface"


def test_fold_targets_are_curated():
    for member, target in {**FOLDED, **EQUIVALENT}.items():
        assert member in QUERIES, member
        assert target in CURATED_QUERIES, (member, target)


def test_full_registry_oracles_still_complete():
    # every fine-grained entry keeps its own oracle for --all checking
    missing = [n for n in QUERIES if n not in ORACLES]
    assert missing == [], missing


def test_curated_schemas_are_driver_representable(spark):
    """Every curated entry must expose SCALAR columns only: the driver's
    correctness harness canonicalizes results through a pandas sort,
    which throws `unhashable type: 'list'` on ARRAY/MAP/STRUCT columns —
    the failure that cost round 6's text_doc_metrics row. Project
    non-scalar columns (concat_ws / md5 digest) before curating; the
    fine-grained registry keeps the typed columns. Builds every curated
    DataFrame at sf0.001 (training collects included) and checks the
    analyzed schema."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    sf_dir = "/root/testdata/sf0.001"
    bad = {}
    for name, fn in CURATED_QUERIES.items():
        schema = fn(spark, sf_dir).schema
        non_scalar = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if non_scalar:
            bad[name] = non_scalar
    assert not bad, f"non-scalar columns would crash the driver: {bad}"
