"""Registry of the engine's public queries + their DuckDB oracle SQL.

Every operator from SURVEY.md §2 that the engine claims as done gets a
``@register("name", oracle=...)`` entry here; ``__spark_entry__.py``
exposes them to the driver. Column names are aliased identically on both
sides (the driver's compare sorts columns by name before hashing).

Queries with no SQL-expressible oracle (stateful streaming, iterative
algorithms) register with ``oracle=None`` → driver records rows-only.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, RegisteredQuery] = {}

# Latest round in which the DRIVER recorded a green hash-exact row for each
# query (from CORRECTNESS_r{N}.json). Regenerate with
# ``python tools/update_certified.py`` after each round — do not hand-edit.
# Queries absent here have never been driver-certified (or were invalidated
# after a material implementation change) and sort FIRST in the derived
# presentation order, so the driver's 50-slot gate always certifies the
# least-certified surface. Rows-only (oracle=None) queries sort last: a
# driver slot spent there yields no hash signal.
CERTIFIED: dict[str, int] = {
    # r8-certified
    "daily_counts_per_user": 8,
    "dow_entropy_per_user": 8,
    "interarrival_stats_per_user": 8,
    "mktsegment_acctbal_summary": 8,
    "pricing_summary": 8,
    "quantiles_by_event_type": 8,
    "regional_revenue": 8,
    "sequence_lag_features": 8,
    # "streaming_per_event_features" invalidated r12: adaptive bucket count for bounded runs (stream==batch pinned) — re-certify
    "time_bucket_rollup": 8,
    "top_orders_per_customer": 8,
    # "trailing_1h_features" invalidated r12: selectExpr-batched build (bit-equal pinned) — re-certify
    "windowed_gini_24h": 8,
    # "windowed_hhi_24h" invalidated r13: router moved into windows.trailing_flag_counts — re-certify
    # r9-certified
    "behavioral_feature_vector": 9,
    "bloom_membership_validation": 9,
    "bm25_index_topk": 9,
    "chi2_drift_event_type": 9,
    "cohort_retention_weekly": 9,
    "countmin_frequency_validation": 9,
    "cusum_changepoint": 9,
    "data_quality_profile": 9,
    "embedding_pca_component": 9,
    "embedding_pca_scores": 9,
    "event_type_transitions": 9,
    "funnel_conversion": 9,
    "heavy_hitters_topk": 9,
    "hll_rollup_distinct_users": 9,
    "incremental_agg_maintenance": 9,
    "ks_drift_value": 9,
    "large_volume_customer_q18": 9,
    "local_supplier_volume_q5": 9,
    # "model_calibration_bins" invalidated r13: risk_score sums its rule bumps as DECIMAL (one sf0.01 mean_score changes) — re-certify
    "multimodal_resize_features": 9,
    "multimodal_video_features": 9,
    "order_priority_check_q4": 9,
    "pit_join_purchases_24h": 9,
    "promo_revenue_q14": 9,
    "psi_drift_value": 9,
    "quality_weighted_sample": 9,
    "quantiles_approx_by_event_type": 9,
    "revenue_cube_by_type_dow": 9,
    "rfm_segments": 9,
    # "risk_scores" invalidated r13: risk_score sums its rule bumps as DECIMAL (rows where two bumps fire change) — re-certify
    "robust_zscore_outliers": 9,
    "seeded_sample": 9,
    "sequence_packing": 9,
    "session_window_rollup": 9,
    "shipping_priority_q3": 9,
    "skew_split_join_revenue": 9,
    "streaming_dedup_events": 9,
    "streaming_dim_enrich": 9,
    "streaming_hll_distinct": 9,
    "streaming_interval_join": 9,
    "streaming_tumbling_rollup": 9,
    "supplier_part_counts_q16": 9,
    "tdigest_quantiles_by_event_type": 9,
    "tdigest_rollup_quantiles": 9,
    "unique_users_approx_by_type": 9,
    "user_sessions": 9,
    "viewers_never_purchased": 9,
    # r10-certified
    "ann_ivf_multiprobe": 10,
    "ann_ivf_topk": 10,
    "ann_ivf_topk_refined": 10,
    "ann_recall_at_k": 10,
    "ann_recall_refined": 10,
    "audio_spectral_features": 10,
    "autoencoder_iter0_contract": 10,
    "automl_asha_summary": 10,
    "basket_lift_pairs": 10,
    "batch_score_requests": 10,
    # "conditional_window_counts" invalidated r13: router moved into windows.trailing_flag_counts — re-certify
    "dbscan_outliers_sliced": 10,
    "dedup_exact": 10,
    # "dedup_ngram_jaccard" invalidated r12: size-pruned jaccard_pairs_docs path (pinned vs generic) — re-certify
    "dedup_simhash": 10,
    "derived_time_flags": 10,
    "doc_fingerprints": 10,
    "dominant_part_suppliers_q20": 10,
    "gbt_feature_contributions": 10,
    "gbt_shap_values": 10,
    "gini_per_user": 10,
    "graph_edge_list": 10,
    "graph_global_centralities": 10,
    "hhi_per_user": 10,
    # "hits_bipartite" invalidated r12: hits_smallside a_raw checkpoint (bit-equal pinned) — re-certify
    "hour_entropy_per_user": 10,
    "knn_cosine_bruteforce": 10,
    "landmark_closeness": 10,
    "language_id": 10,
    "lstm_iter0_contract": 10,
    "merchant_graph_features": 10,
    "min_balance_supplier_q2": 10,
    "multimodal_jpeg_features": 10,
    # "pagerank_bipartite" invalidated r12: inline-fold kernel rewrite (r11 6576f7d) postdates its r10 row; driver must re-prove — re-certify
    "props_json_extract": 10,
    "risk_explanations": 10,
    "risk_shapley": 10,
    "running_totals_per_user": 10,
    "streaming_graph_edges": 10,
    # "streaming_per_event_extended" invalidated r12: adaptive bucket count for bounded runs (stream==batch pinned) — re-certify
    "suppliers_kept_waiting_q21": 10,
    "text_stats": 10,
    "top_events_global": 10,
    "user_clustering_coeff": 10,
    "user_graph_degrees": 10,
    "user_shared_k_pairs": 10,
    # r11-certified
    "amount_trend_per_user": 11,
    "ann_ivf_index_topk": 11,
    "automl_tuning_summary": 11,
    "benchmark_decontamination": 11,
    "bm25_rank": 11,
    "curate_training_docs": 11,
    # "dedup_components_lsh" invalidated r12: verify zero-overlap filter (output-identical at threshold 0.5) — re-certify
    # "dedup_minhash_lsh" invalidated r12: verify zero-overlap filter (output-identical at threshold 0.5) — re-certify
    "disjunctive_revenue_q19": 11,
    "domain_mixture_weights": 11,
    "embedding_near_dup_pairs": 11,
    "event_type_pivot": 11,
    "feature_target_correlation": 11,
    "gbt_lime_weights": 11,
    "gbt_nl_explanations": 11,
    "gbt_training_summary": 11,
    # "merchant_trailing_features" invalidated r12: selectExpr-batched build (bit-equal pinned) — re-certify
    "mlp_iter0_contract": 11,
    "model_auc": 11,
    "model_eval_metrics": 11,
    "model_training_summary": 11,
    "moments_per_user": 11,
    "multimodal_binary_stats": 11,
    "multimodal_decode_features": 11,
    "multimodal_frame_sample": 11,
    "multimodal_image_features": 11,
    "multimodal_png_features": 11,
    "online_feature_view": 11,
    "pandas_udf_model_scores": 11,
    "pca_anomaly_scores": 11,
    "population_zscore_per_user": 11,
    "repetition_stats": 11,
    "retrain_decision": 11,
    "returned_item_reporting_q10": 11,
    "revenue_rollup_region_nation": 11,
    "salted_user_totals": 11,
    "span_dup_coverage": 11,
    "stacking_ensemble_scores": 11,
    "stratified_sample": 11,
    "streaming_tdigest_quantiles": 11,
    "streaming_tumbling_complete": 11,
    "tfidf_top_terms": 11,
    "timestamp_functions": 11,
    # "trailing_multiwindow_features" invalidated r12: selectExpr-batched build (bit-equal pinned) — re-certify
    # "trailing_sums_cumsum_strategy" invalidated r13: now a pruned projection of trailing_features_scalable (trailing_sums_scalable deleted) — re-certify
    "unigram_logprob_quality": 11,
    # "unique_counts_windows" invalidated r13: now trailing_features_auto projected to the distinct columns — re-certify
    "volume_shipping_q7": 11,
    "voting_ensemble_scores": 11,
    # "windowed_entropy_24h" invalidated r13: router moved into windows.trailing_flag_counts — re-certify
}

# The driver's correctness gate checks the first DRIVER_CAP registered
# queries; `_ordered()` sorts so that cap always lands on the queries most
# in need of certification.
DRIVER_CAP = 50


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = RegisteredQuery(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def _ordered() -> list[RegisteredQuery]:
    """Presentation order, DERIVED (r6, replacing the hand-kept ORDER list):

    1. oracle-bearing queries never driver-certified (or invalidated after a
       material implementation change) — registration order;
    2. oracle-bearing certified queries, stalest ``CERTIFIED`` round first —
       the driver's 50-slot window refills with whatever needs re-proving;
    3. rows-only (oracle=None) queries last: a slot there gives no hash.
    """
    _ensure_loaded()
    reg_pos = {name: i for i, name in enumerate(QUERIES)}

    def key(q: RegisteredQuery):
        if q.oracle is None:
            return (2, 0, reg_pos[q.name])
        rnd = CERTIFIED.get(q.name)
        if rnd is None:
            return (0, 0, reg_pos[q.name])
        return (1, rnd, reg_pos[q.name])

    return sorted(QUERIES.values(), key=key)


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}


_loaded = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (import side effects)."""
    global _loaded
    if _loaded:
        return
    from . import queries as _q  # noqa: F401  (package of @register modules)

    _loaded = True
