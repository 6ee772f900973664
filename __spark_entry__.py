"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every registered operator
from go_integ_spark (SURVEY.md §2 inventory + the analytics layer)
for the driver's DuckDB correctness gate.

Query order: staleness-driven family round-robin. Pure
cost-ascending order (rounds 1-3) maximized the COUNT of gate rows
but starved the expensive tail; round 4's blind rotation put every
family in front but cycled without memory, so a query the driver
never reached could stay unreached for many rounds. The committed
``CORRECTNESS_r*.json`` files at the repo root ARE the memory: each
query's priority is the last round in which the driver recorded a
GREEN row for it (never-checked or last-seen-failing sorts first),
so a time-budgeted sweep always spends its budget on the least-
recently-verified work. Family round-robin interleaving is kept on
top (rank-k block = every family's k-th stalest member) so even a
tiny budget still touches every operator family.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from go_integ_spark.registry import load_all

# Measured per-query seconds at sf0.01 (warm session, local[8]);
# unlisted queries sort by name at the end of their cost bucket.
# Refresh with: scripts/time_queries.py
_MEASURED_COST = {
    "text_fingerprint": 0.13,
    "curation_shuffle_shards": 0.14,
    "sink_singer_envelope": 0.14,
    "text_repetition_ratio": 0.14,
    "text_token_count": 0.14,
    "window_running_customer_spend": 0.15,
    "window_trailing_spend": 0.15,
    "sample_stratified": 0.16,
    "text_pii_redact": 0.16,
    "text_quality_score": 0.16,
    "text_unigram_entropy": 0.16,
    "cdc_scd2_history": 0.17,
    "curation_weighted_sample": 0.17,
    "embedding_random_projection": 0.17,
    "incremental_cursor_read": 0.17,
    "sink_airbyte_envelope": 0.17,
    "dedup_keep_latest": 0.19,
    "sort_limit_top_lineitems": 0.19,
    "agg_regression": 0.2,
    "agg_sketch_accuracy": 0.2,
    "asof_join_click_attribution": 0.2,
    "asof_join_purchase_click": 0.2,
    "curation_mix_weights": 0.2,
    "dedup_minhash_lsh": 0.2,
    "text_chunk_overlap": 0.21,
    "text_word_stats": 0.21,
    "agg_percentiles": 0.22,
    "curation_domain_cap": 0.22,
    "agg_correlation": 0.23,
    "corpus_token_stats": 0.23,
    "curation_blocklist_filter": 0.23,
    "q6_forecast_revenue": 0.23,
    "connector_file_incremental_read": 0.24,
    "dedup_exact": 0.24,
    "events_hourly_rollup": 0.24,
    "events_sessionize": 0.24,
    "join_anti_customers_without_orders": 0.25,
    "join_semi_customers_with_orders": 0.25,
    "events_funnel": 0.26,
    "contamination_ngram_overlap": 0.27,
    "subquery_orders_above_avg": 0.27,
    "window_top_orders_per_customer": 0.27,
    "dedup_paragraph": 0.28,
    "text_classifier_score": 0.28,
    "agg_cube_status_priority": 0.29,
    "events_pivot_type_counts": 0.29,
    "set_except_rich_not_building": 0.29,
    "text_gopher_quality": 0.29,
    "curation_pack_sequences": 0.3,
    "embedding_health": 0.3,
    "q14_promo_effect": 0.3,
    "set_intersect_rich_building": 0.3,
    "asof_join_tolerance": 0.31,
    "range_join_error_clicks": 0.31,
    "agg_distinct_counts": 0.32,
    "agg_mode_deterministic": 0.32,
    "curation_epoch_schedule": 0.32,
    "events_user_lifetime": 0.32,
    "q1_pricing_summary": 0.32,
    "text_lang_id": 0.32,
    "curation_annotation_agreement": 0.33,
    "set_union_distinct": 0.33,
    "window_order_gaps": 0.33,
    "cdc_snapshot_diff": 0.34,
    "curation_quality_filter": 0.35,
    "events_json_extract": 0.35,
    "agg_grouping_sets": 0.36,
    "events_top_paths": 0.36,
    "curation_holdout_split": 0.37,
    "agg_histogram": 0.38,
    "agg_weighted_median": 0.38,
    "text_embed_hash": 0.38,
    "text_heavy_hitters": 0.39,
    "curation_temperature_sampling": 0.4,
    "dedup_canonical_pick": 0.4,
    "events_unpivot_metrics": 0.4,
    "q17_small_quantity_revenue": 0.4,
    "sink_partition_plan": 0.4,
    "curation_boilerplate_ngrams": 0.41,
    "q13_customer_distribution": 0.41,
    "agg_rollup_nation_segment": 0.42,
    "asof_join_nearest": 0.42,
    "dedup_exact_substring": 0.42,
    "dedup_soft_weights": 0.42,
    "q12_priority_shipping": 0.42,
    "events_bot_gap_regularity": 0.43,
    "q22_idle_customers": 0.43,
    "curation_split_leakage": 0.44,
    "events_rfm": 0.44,
    "text_dup_ngram_fraction": 0.44,
    "window_share_of_segment": 0.44,
    "dedup_containment": 0.45,
    "embedding_dim_profile": 0.45,
    "text_vocab_growth": 0.45,
    "events_attribution_linear": 0.46,
    "q4_late_orders": 0.46,
    "curation_dedup_impact": 0.47,
    "similarity_ivf_cell_balance": 0.47,
    "curation_mirror_blocklist": 0.48,
    "events_transition_matrix": 0.48,
    "graph_triangle_count": 0.49,
    "q15_top_supplier": 0.5,
    "curation_quality_calibration": 0.51,
    "dedup_ngram_jaccard": 0.51,
    "embedding_outliers": 0.51,
    "events_session_stats": 0.51,
    "q19_disjunctive_predicates": 0.51,
    "window_rolling_distinct_hll": 0.51,
    "events_hourly_gapfill": 0.52,
    "events_markov_next": 0.52,
    "events_cohort_retention": 0.53,
    "join_interval_overlap": 0.54,
    "text_zipf_fit": 0.54,
    "similarity_pq_encode": 0.55,
    "window_ewma_value": 0.56,
    "curation_ngram_novelty": 0.57,
    "dedup_threshold_sweep": 0.58,
    "events_changepoint_cusum": 0.58,
    "similarity_sq_encode": 0.59,
    "graph_dup_flow": 0.61,
    "window_rolling_distinct_users": 0.61,
    "events_anomaly_mad": 0.62,
    "curation_diversity_sample": 0.64,
    "join_salted_skew": 0.67,
    "text_collocations": 0.67,
    "q3_shipping_priority": 0.68,
    "text_bpe_vocab": 0.7,
    "q16_supplier_part_count": 0.71,
    "graph_degree_distribution": 0.72,
    "corpus_source_divergence": 0.75,
    "q10_returned_items": 0.75,
    "basket_part_pairs": 0.76,
    "q7_volume_shipping": 0.76,
    "similarity_threshold_join": 0.77,
    "text_rake_keywords": 0.78,
    "connector_graphql_cursor_read": 0.79,
    "curation_dsir_weights": 0.81,
    "text_tfidf_topk": 0.81,
    "ann_bruteforce_topk": 0.83,
    "q5_local_supplier_volume": 0.83,
    "streaming_pk_dedup": 0.92,
    "agg_bloom_prefilter": 0.93,
    "er_blocked_fuzzy_parts": 0.93,
    "q20_promotion_candidates": 0.93,
    "text_bm25_topk": 0.95,
    "q8_market_share": 0.97,
    "text_bpe_apply": 0.97,
    "q18_large_volume_customers": 0.98,
    "dedup_incremental_lsh": 1.0,
    "q9_product_profit": 1.01,
    "text_winnow_fingerprint": 1.01,
    "window_spend_quartiles": 1.01,
    "similarity_hard_negatives": 1.03,
    "er_blocking_quality": 1.04,
    "q21_late_supplier_wait": 1.04,
    "agg_countmin_sketch": 1.05,
    "similarity_matryoshka_recall": 1.08,
    "streaming_chunk_manifest": 1.08,
    "ann_ivf_topk": 1.09,
    "q2_min_cost_supplier": 1.09,
    "curation_token_budget_select": 1.1,
    "text_lang_confusion": 1.14,
    "similarity_mmr_rerank": 1.19,
    "q11_important_part_value": 1.2,
    "streaming_session_window": 1.21,
    "text_bigram_logprob": 1.21,
    "text_perplexity_buckets": 1.21,
    "dedup_embedding_cosine": 1.31,
    "dedup_simhash": 1.31,
    "similarity_pq_search": 1.31,
    "streaming_foreach_batch_merge": 1.38,
    "streaming_hourly_counts": 1.39,
    "streaming_paragraph_dedup": 1.4,
    "dedup_paraphrase_pairs": 1.45,
    "curation_pipeline_funnel": 1.46,
    "similarity_hybrid_rrf": 1.47,
    "dedup_srp_buckets": 1.49,
    "streaming_anomaly_mad": 1.57,
    "similarity_ivf_probe_recall": 1.58,
    "similarity_ndcg_eval": 1.59,
    "streaming_static_enrich": 1.59,
    "dedup_semdedup": 1.62,
    "streaming_histogram": 1.69,
    "streaming_srp_registry": 1.69,
    "similarity_cluster_purity": 1.77,
    "contamination_embedding": 1.8,
    "embedding_knn_graph": 1.81,
    "similarity_pq_agreement": 1.81,
    "streaming_running_max_cursor": 1.84,
    "dedup_embedding_cosine_strict": 1.85,
    "similarity_recall_eval": 1.89,
    "graph_pagerank_sources": 1.91,
    "embedding_kmeans": 1.92,
    "dedup_clusters": 1.97,
    "streaming_stream_join": 2.04,
    "text_winnow_overlap": 2.04,
    "similarity_bitext_pairs": 2.29,
    "contamination_embedding_strict": 2.11,  # r13, timed at sf0.01
    "ann_ivfpq_topk": 2.5,
    "ann_ivfpq_residual_topk": 2.67,
    "streaming_changepoint_cusum": 2.86,
    "events_forecast_eval": 3.13,
    "er_golden_record": 3.77,
    "connector_datasource_distributed_read": 3.85,
    "embedding_communities": 7.51,
}


# Queries whose IMPLEMENTATION OR ORACLE changed since their last
# green row: a past green proves the OLD form, so treat them as
# never-verified and let them lead the sweep. Remove an entry once a
# committed CORRECTNESS file shows the new form green (its fresh
# green round then orders it naturally).
# r10: emptied — CORRECTNESS_r09 shows both r9 entries
# (similarity_bitext_pairs, similarity_threshold_join) green ON
# THEIR NEW FORMS, so their fresh green rounds order them naturally.
# r12: contamination_embedding's scoring moved onto the unified
# capped grid (grid_block_cogroup); its past greens proved the
# one-task-per-cell form.
# r13: emptied — CORRECTNESS_r12 shows contamination_embedding green
# ON the grid form (rows+schema+hash), so its fresh r12 green orders
# it naturally. (The r13 probed-frame persist + caller-supplied cell
# sizes change caching/sizing only — the scored pair set and the
# plan's scoring shape are identical, re-verified vs the DuckDB
# oracle at sf0.01 this round.)
_FORCE_RECHECK: frozenset[str] = frozenset()


def _last_green_rounds() -> dict[str, int]:
    """Per query, the highest round whose committed
    ``CORRECTNESS_r*.json`` records a GREEN row: no error, row count
    and schema match, and the value hash either matches or is absent
    (rows-only queries carry ``hash_match: null``). A query whose only
    rows are errors or hash-fails — like ``events_sessionize``'s stale
    r1 traceback or ``similarity_pq_search``'s r4 fail — stays at -1
    and therefore leads its family in the next sweep. Queries in
    ``_FORCE_RECHECK`` are dropped from the map (old greens proved a
    form that no longer exists).
    """
    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        stem = os.path.basename(path)
        try:
            rnd = int(stem.removeprefix("CORRECTNESS_r").removesuffix(".json"))
            with open(path) as f:
                rows = json.load(f)
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            green = (
                isinstance(row, dict)
                and row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is not False
            )
            if green:
                last[name] = max(last.get(name, -1), rnd)
    for name in _FORCE_RECHECK:
        last.pop(name, None)
    return last


_ORDER_CACHE: list[str] | None = None


def _ordered_names() -> list[str]:
    """Staleness-driven family round-robin (see module docstring).

    Primary key is the last-green round itself: the ENTIRE
    never-verified bucket precedes everything already green (a family
    with a deep unverified tail — the ten TPC-H joins in round 4 —
    must not queue behind other families' already-green members).
    Within a staleness bucket, families interleave via
    rank-within-family, cheapest first, so the sweep still spreads
    across operator families. Memoized for the process lifetime: the
    driver may write this round's CORRECTNESS file mid-run, and
    re-deriving the order from it would shift the sequence between
    ``queries()`` and ``oracle_sql()``.
    """
    global _ORDER_CACHE
    if _ORDER_CACHE is not None:
        return _ORDER_CACHE
    registry = load_all()
    last_green = _last_green_rounds()
    families: dict[str, list[str]] = {}
    for name, spec in registry.items():
        families.setdefault(spec.tags[0] if spec.tags else "misc", []).append(name)
    keyed: list[tuple[int, int, float, str]] = []
    for members in families.values():
        members.sort(
            key=lambda n: (last_green.get(n, -1), _MEASURED_COST.get(n, 99.0), n)
        )
        keyed.extend(
            (last_green.get(name, -1), rank, _MEASURED_COST.get(name, 99.0), name)
            for rank, name in enumerate(members)
        )
    keyed.sort()
    _ORDER_CACHE = [name for _, _, _, name in keyed]
    return _ORDER_CACHE


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    registry = load_all()
    return registry["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry = load_all()
    return {name: registry[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    registry = load_all()
    return {
        name: registry[name].oracle
        for name in _ordered_names()
        if registry[name].oracle is not None
    }
