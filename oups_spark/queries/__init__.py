"""Query registry — the driver-facing catalog of implemented operators.

Every operator from SURVEY.md §2 (plus the LLM-pipeline additions) gets
a named entry here: a Spark callable ``(spark, sf_dir) -> DataFrame``
and, when SQL-expressible, a DuckDB oracle string over the same parquet
tables. ``__spark_entry__.py`` exposes the registry to the driver.

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver hash-compares values
after sorting columns by name). Floating-point aggregates are rounded
on both sides so cross-engine summation-order differences cannot flip
the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB SQL; None -> rows-only check


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle)
        return fn

    return deco


# Driver-window rotation schedule
# ---------------------------------
# The driver oracle-checks only the FIRST 50 registered queries each
# round, so registration order is the correctness-coverage schedule.
# ``_WINDOW_PRIORITY`` pins the current round's 50-slot window; every
# other registered query follows in import order (rows 51+ are still
# exposed, just not driver-checked this round).
#
# Round-16 window: the scheduled rotation — round 15's 50 slots all
# earned fresh evidence (CORRECTNESS_r15: 50/50), so they slide to the
# back and the 50 stalest-evidence queries take the window: the 4
# remaining r12-greens (cdc_incremental_minmax,
# asof_click_before_purchase, asof_nearest_tolerance,
# range_join_first_week) followed by 46 r13-greens. The last 4
# r13-greens lead the rows below the boundary, so they head the
# round-17 window. No new queries this round, so no never-checked
# names.
# tests/test_window_schedule.py COMPUTES this from the
# CORRECTNESS_r*.json history: the window must be exactly the 50
# stalest-evidence queries (never-checked stalest of all).
_WINDOW_PRIORITY = [
    # (1) the 4 remaining r12-greens (the stalest evidence)
    "cdc_incremental_minmax",
    "asof_click_before_purchase",
    "asof_nearest_tolerance",
    "range_join_first_week",
    # (2) r13-greens (46 fill the window; the rest follow)
    "cdc_merge_stream",
    "streaming_native_snapshots_calendar",
    "zorder_compact_scan",
    "streaming_native_objectstore",
    "text_stats",
    "lang_id",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_neardup_pairs",
    "neardup_clusters",
    "embedding_cosine_topk",
    "ann_lsh_topk",
    "repetition_stats",
    "decontamination_overlap",
    "pii_scan",
    "embedding_quantize",
    "kmeans_clusters",
    "countmin_heavy_hitters",
    "histogram_quantiles_by_type",
    "bloom_decontamination",
    "hll_source_overlap",
    "ann_ivf_topk",
    "mmr_diverse_topk",
    "bpe_token_counts",
    "bpe_merges",
    "cohort_retention_weekly",
    "ewma_user_values",
    "text_feature_vectors",
    "source_quota_twophase",
    "corpus_pipeline_end2end",
    "topic_clusters",
    "segment_bins_explicit_edges",
    "sliding_window_1h_15m",
    "dsir_importance_weights",
    "dsir_gumbel_topk",
    "semdedup_prune",
    "store_bloom_skipping",
    "csv_ingest_roundtrip",
    "orc_ingest_roundtrip",
    "streaming_native_hourly",
    "streaming_interval_join",
    "streaming_native_snapshots",
    "streaming_quantile_ingest",
    "streaming_countmin_ingest",
    "streaming_hll_ingest",
    "volume_bars_10k",
    # ---- window boundary: rows below are 51+ this round ----
    "aggstream_filter_fanout",
    "intersections_bucket_align",
    "rollup_pricing",
    "twap_hourly",
    # ... r14-greens
    "store_deltalog_roundtrip",
    "streaming_native_autocompact",
    "streaming_native_snapshots_right",
    "cdc_schema_drift",
    "streaming_native_weekly",
    "streaming_native_snapshots_ffill",
    "streaming_native_monthly",
    "streaming_native_quarterly",
    "store_delete_where",
    "store_update_where",
    "label_centroids",
    "lm_quality_score",
    "ccnet_quality_buckets",
    "quality_classifier_scores",
    "hll_distinct_tokens",
    "gopher_quality_rules",
    "domain_url_stats",
    "corpus_curation",
    "token_pack_assignment",
    "stratified_sample_mix",
    "ann_pq_topk",
    "incremental_neardup_ingest",
    "neardup_keep_best",
    "leakage_safe_splits",
    "neardup_pagerank",
    "lsh_recall_eval",
    "crossencoder_rerank_topk",
    "bm25_topk",
    "deterministic_shuffle",
    "source_quota_topk",
    "segment_bins_4h_right",
    "segment_bins_month_right",
    "segment_bins_quarter_right",
    "segment_bins_4h_0930_offset",
    "snapshot_1y_1ms",
    "snapshot_irregular_edges",
    "duplicate_span_removal",
    "temperature_source_mix",
    "packed_training_sequences",
    "weighted_sample_wor",
    "weighted_sample_by_source",
    "zorder_box_scan",
    "streaming_native_sessions",
    "streaming_stateful_ffill",
    "streaming_sliding_hourly",
    "pricing_summary",
    "revenue_by_nation",
    "regional_supplier_volume",
    "bucketed_colocated_join",
    "salted_join_order_customer",
    # ... r15-greens (freshest evidence — round 15's window)
    "top_customers",
    "order_priority_counts",
    "shipping_priority",
    "promo_revenue_monthly",
    "store_merge_into",
    "streaming_native_volume_bars",
    "store_catalog_objectstore",
    "store_merge_full_sync",
    "streaming_native_rowcount_bins",
    "interval_overlap_pairs",
    "minhash_signatures",
    "simhash_signatures",
    "embedding_neardup_pairs",
    "knn_graph_topk",
    "json_props_extract",
    "duplicated_windows",
    "multimodal_features",
    "multimodal_frame_sample",
    "simhash_neardup_pairs",
    "simhash_neardup_pairs_64",
    "ffill_bfill_user_values",
    "customers_without_orders",
    "calendar_floor_ceil",
    "moving_avg_per_user",
    "value_percentiles_by_type",
    "daily_type_pivot",
    "trailing_24h_per_user",
    "conversion_funnel",
    "interpolate_resample_6h",
    "doc_chunk_overlap",
    "segment_bins_1h",
    "row_count_bins_500",
    "snapshot_1d_6h",
    "store_merge_keep_last",
    "store_append_range_read",
    "dnf_filter_events",
    "store_compact_roundtrip",
    "store_time_travel",
    "store_schema_evolution",
    "store_stats_skipping",
    "jsonl_ingest_roundtrip",
    "incremental_hll_ingest",
    "store_cmidx_roundtrip",
    "aggstream_hourly_restart",
    "aggstream_snapshots_restart",
    "aggstream_edge_bins_restart",
    "streaming_dedup_ingest",
    "cdc_upsert_stream",
    "cdc_incremental_agg",
    "session_windows",
]


def load_all_query_modules() -> None:
    """Import every query module so registration side-effects run.

    After the imports, REGISTRY is rebuilt so ``_WINDOW_PRIORITY``
    queries come first (the driver's 50-slot correctness window),
    followed by every other registered query in import order.
    """
    from oups_spark.queries import (  # noqa: F401
        core,
        join_ops,
        llm_ops,
        misc_ops,
        quality_ops,
        retrieval_ops,
        segment_ops,
        selection_ops,
        store_ops,
        stream_ops,
        window_ops,
    )

    ordered = [n for n in _WINDOW_PRIORITY if n in REGISTRY]
    ordered += [n for n in REGISTRY if n not in _WINDOW_PRIORITY]
    reordered = {n: REGISTRY[n] for n in ordered}
    REGISTRY.clear()
    REGISTRY.update(reordered)
