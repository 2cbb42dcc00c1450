"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()[name](spark, sf_dir)`` must hash-match ``oracle_sql()[name]``
run by DuckDB on the same parquet tables (pre-registered views: region
nation customer supplier part orders lineitem events documents embeddings).

Ordering contract: the driver's correctness gate covers the FIRST 50
entries of ``queries()``, so the dict head is the per-round ROTATION
window (standing policy, PERF_NOTES r10: new queries seat within one
round, flagships re-gate every ≤3 rounds, remaining seats rotate through
the longest-unseated — ``tools/coverage_union.py --suggest`` drafts it).
LATE-LANDING clause (r11 verdict item 8): any commit that touches a
registered query's code or oracle AFTER the round's window has rotated
must either (a) re-rotate the window so the touched query re-seats this
round, or (b) put the touched query at the HEAD of the next round's
window — a query's driver seat must never be older than its last
semantic change plus one round.
Every entry below the boundary has held a driver-green seat in an
earlier round and every registered query is verified by
tools/verify_oracle.py locally (the full sweep is green at sf0.001,
sf0.01 and sf0.1, on the hostile corpus and on the degenerate corpora).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from demo_etl_spark.operators import asset as _asset
from demo_etl_spark.operators import bucketed as _bucketed
from demo_etl_spark.operators import cdc as _cdc
from demo_etl_spark.operators import fingerprint as _fingerprint
from demo_etl_spark.operators import graph as _graph
from demo_etl_spark.operators import formats as _formats
from demo_etl_spark.operators import curation as _curation
from demo_etl_spark.operators import customer as _customer
from demo_etl_spark.operators import dedup as _dedup
from demo_etl_spark.operators import events as _events
from demo_etl_spark.operators import multimodal as _multimodal
from demo_etl_spark.operators import packing as _packing
from demo_etl_spark.operators import product as _product
from demo_etl_spark.operators import quality as _quality
from demo_etl_spark.operators import similarity as _similarity
from demo_etl_spark.operators import sketch as _sketch
from demo_etl_spark.operators import skew as _skew
from demo_etl_spark.operators import sql_interface as _sql
from demo_etl_spark.operators import sql_suite as _suite
from demo_etl_spark.operators import star as _star
from demo_etl_spark.operators import temporal as _temporal
from demo_etl_spark.operators import text as _text
from demo_etl_spark.operators import timeseries as _timeseries
from demo_etl_spark.operators import tokenizer as _tokenizer
from demo_etl_spark.streaming import event_streams as _streams


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the 23-column unified analytics asset) on sf0.001."""
    return _asset.build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ================ r14 driver window (first 50 entries) ========
        # Rotation (r13 verdict item 1 + PERF_NOTES flagship plan):
        # HEAD: shipping_sla + revenue_forecast_backtest re-gate first —
        # their semantics changed post-rotation in r13 (NULL-flag-sum
        # coalesce, commits b37537c/606c0a3; late-landing clause option b).
        "shipping_sla": _star.build_shipping_sla,
        "revenue_forecast_backtest": _timeseries.build_forecast_backtest,
        # ---- r14 ADVICE re-gates (late-landing clause): the band-recall
        # truth side is now group-collapsed (mega-bucket-safe audit) and
        # the agreement truth domain excludes negative doc ids
        "dedup_image_band_recall": _multimodal.build_image_band_recall,
        "media_dedup_agreement": _multimodal.build_media_dedup_agreement,
        # ---- r14 first-time seats (new queries gate within one round):
        # incremental new-shard-vs-corpus image dedup (cross-boundary
        # band candidates only, one-sided rep collapse)
        "dedup_media_incremental": _multimodal.build_media_incremental,
        # per-modality governance row over one shared CC pass
        "media_dedup_profile": _multimodal.build_media_dedup_profile,
        # exact fixed-point BM25 (folded 6/5 & 3/4 rationals, floor-log2
        # IDF) + its lexical drift gate vs exact cosine
        "retrieval_bm25": _similarity.build_bm25,
        "retrieval_bm25_recall": _similarity.build_bm25_recall,
        # BM25-staged hybrid (top-M prune bounds the vector rerank) +
        # the quality bar: recall >= the overlap-staged hybrid
        "similarity_hybrid_bm25": _similarity.build_hybrid_bm25,
        "similarity_hybrid_bm25_recall": _similarity.build_hybrid_bm25_recall,
        # seeded deterministic epoch shuffle of the packed export
        "sequence_shuffle": _packing.build_sequence_shuffle,
        # reciprocal-rank fusion of the BM25 and exact-cosine lists
        # (score-free hybrid, e9 fixed-point contributions) + its
        # family-rule recall seat
        "retrieval_rrf_fusion": _similarity.build_rrf_fusion,
        "retrieval_rrf_recall": _similarity.build_rrf_recall,
        # the embedding family's new-shard-vs-corpus path (incremental
        # symmetry: text / image / embedding all carve by INCR_MOD)
        "dedup_embedding_incremental": _similarity.build_embedding_incremental,
        # audio + video members of the same family (shared band-
        # incremental machinery / one-sided df-capped chunk index)
        "dedup_audio_incremental": _multimodal.build_audio_incremental,
        "dedup_video_incremental": _multimodal.build_video_incremental,
        # ---- flagship cadence (PERF_NOTES plan: 3 of the six r12-seated
        # flagships re-gate here, the other 3 — sales_asset_union,
        # star_join_detail, date_dim_join — head the r15 window)
        "time_analytics": _timeseries.build_time,
        "product_ranking": _product.build_ranking,
        "revenue_trend": _timeseries.build_trend,
        # ---- stale-tail rotation: ALL 14 remaining r9 seats (after this
        # window no seat is older than r10)
        "text_stats": _text.build_stats,
        "partitioned_corpus_read": _formats.build_partitioned_corpus_read,
        "schema_evolution_read": _formats.build_schema_evolution_read,
        "events_props_variant": _events.build_props_variant_audit,
        "doc_typicality": _text.build_doc_typicality,
        "orders_profile": _quality.build_orders_profile,
        "quarantine_audit": _quality.build_quarantine_audit,
        "revenue_decompose": _timeseries.build_decompose,
        "doc_top_terms": _text.build_top_terms,
        "text_redacted": _text.build_redacted,
        "lang_confusion": _text.build_lang_confusion,
        "streaming_purchase_clicks": _streams.build_streaming_purchase_clicks,
        "waiting_suppliers_sql": _suite.build_waiting_suppliers,
        "small_quantity_revenue_sql": _suite.build_small_quantity_revenue,
        # ---- stalest rotation (last gated r10; the 13 r10 seats left —
        # order_bookends through user_rate_audit alphabetically — join
        # the r15 pool)
        "bolt_volume_suppliers_sql": _suite.build_bolt_volume_suppliers,
        "bpe_encode": _tokenizer.build_bpe_encode,
        "bpe_pair_counts": _text.build_bpe_pairs,
        "bpe_vocab_coverage": _tokenizer.build_bpe_vocab_coverage,
        "brand_rules": _product.build_brand_rules,
        "corpus_curation": _curation.build,
        "dedup_cluster_profile": _dedup.build_cluster_profile,
        "dedup_incremental": _dedup.build_incremental,
        "dedup_minhash_lsh": _dedup.build_minhash,
        "dedup_repeated_spans": _dedup.build_repeated_spans,
        "dedup_semantic_clusters": _similarity.build_semantic_dedup,
        "doc_length_outliers": _text.build_length_outliers,
        "events_cohort_retention": _events.build_cohort_retention,
        "events_incremental_rollup": _events.build_incremental_rollup,
        "events_lateness_audit": _events.build_lateness_audit,
        "events_props_typed": _events.build_props_typed_audit,
        "events_unpivot": _events.build_unpivot,
        # ================ driver window boundary (50) ================
        # (ngram_novelty, orc_roundtrip, multimodal_resize,
        # idle_customers_sql and incremental_join_view yielded their
        # drafted r14 seats to the five late first-time seats — they
        # join the 13 other r10 seats at the head of the r15 pool)
        "idle_customers_sql": _suite.build_idle_customers,
        "incremental_join_view": _star.build_incremental_join_view,
        "multimodal_resize": _multimodal.build_resize,
        "ngram_novelty": _dedup.build_novelty,
        "orc_roundtrip": _formats.build_orc_roundtrip,
        # Everything below is oracle-verified by the local sweep each
        # session and has held a driver-green seat (union coverage
        # 194/194 at r13; the seven r14-new queries seat above). Order
        # below the boundary ~= recency of last seat; the two rows-only
        # approx twins stay at the BOTTOM permanently.
        # r14-displaced r13 seats — head of the r15 rotation pool is the
        # r10 remainder, then these rotate naturally
        "dedup_image_phash": _multimodal.build_image_phash,
        "dedup_audio_fingerprint": _multimodal.build_audio_fingerprint,
        "dedup_video_chunks": _multimodal.build_video_chunk_dedup,
        "dedup_image_clusters": _multimodal.build_image_dedup_clusters,
        "part_revenue_abc": _product.build_part_abc,
        "revenue_cusum": _timeseries.build_cusum,
        "revenue_seasonality": _timeseries.build_seasonality,
        "product_analytics": _product.build,
        "customer_analytics": _customer.build,
        "market_concentration": _product.build_market_concentration,
        "regional_sales": _star.build_regional,
        "customer_order_distribution_sql": _suite.build_customer_order_distribution,
        "disjunctive_revenue_sql": _suite.build_disjunctive_revenue,
        "doc_fingerprints": _fingerprint.build_fingerprints,
        "events_gapfill": _events.build_gapfill,
        "key_skew_profile": _skew.build_key_skew_profile,
        "kmv_distinct_ngrams": _sketch.build_kmv_distinct,
        "lang_id": _text.build_lang_id,
        "last_shipment_sql": _suite.build_last_shipment,
        "lateral_order_topk_sql": _suite.build_lateral_order_topk,
        "nation_market_share_sql": _suite.build_nation_market_share,
        "packing_tokens_canary": _packing.build_packing_tokens_canary,
        "salted_order_join": _skew.build_salted_order_join,
        "shard_manifest": _packing.build_shard_manifest,
        "shipping_priority_sql": _sql.build_shipping_priority,
        "streaming_enriched_rollup": _streams.build_streaming_enriched_rollup,
        "top_supplier_sql": _suite.build_top_supplier,
        "corpus_train_split": _curation.build_train_split,
        "csv_roundtrip": _formats.build_csv_roundtrip,
        "dedup_exact": _dedup.build_exact,
        "dedup_method_agreement": _dedup.build_method_agreement,
        "dedup_ngram_containment": _dedup.build_containment,
        "embedding_dim_stats": _similarity.build_dim_stats,
        "events_funnel": _events.build_funnel,
        "events_hourly_anomaly": _events.build_hourly_anomaly,
        "events_session": _events.build_session,
        "important_parts_sql": _suite.build_important_parts,
        "jsonl_malformed_ingest": _formats.build_jsonl_malformed_ingest,
        "jsonl_roundtrip": _formats.build_jsonl_roundtrip,
        "multimodal_features": _multimodal.build_features,
        "packing_policy_compare": _packing.build_packing_policy_compare,
        "part_closure": _graph.build_closure,
        "part_communities": _graph.build_communities,
        "part_hierarchy_sql": _suite.build_part_hierarchy,
        "part_triangles": _graph.build_triangles,
        "streaming_daily_rollup": _streams.build_streaming_daily_rollup,
        "events_value_histogram": _events.build_value_histogram,
        "events_props_breakdown": _events.build_props_breakdown,
        "streaming_session": _streams.build_streaming_session,
        "streaming_dedup": _streams.build_streaming_dedup,
        "streaming_user_totals": _streams.build_streaming_user_totals,
        "embedding_centroids": _similarity.build_centroids,
        "sales_asset_union": _asset.build,
        "star_join_detail": _star.build_detail,
        "date_dim_join": _timeseries.build_date_dim_join,
        "dedup_span_scrub": _dedup.build_span_scrub,
        "doc_chunks": _text.build_chunks,
        "embedding_pq": _similarity.build_pq,
        "event_transitions": _temporal.build_transitions,
        "fingerprint_profile": _fingerprint.build_fingerprint_profile,
        "multimodal_frames": _multimodal.build_frames,
        "multimodal_color": _multimodal.build_color_channels,
        "bpe_merges_batched": _tokenizer.build_bpe_merges_batched,
        "bucketed_order_join": _bucketed.build_bucketed_join,
        "cdc_latest_state": _cdc.build_latest_state,
        "customer_retention": _customer.build_retention,
        "customer_rfm": _customer.build_rfm,
        "data_quality_audit": _quality.build_quality_audit,
        "dedup_clusters": _dedup.build_clusters,
        "dedup_fuzzy_verify": _dedup.build_fuzzy,
        "detail_summary_union": _star.build_union,
        "corpus_pps_sample": _curation.build_pps_sample,
        "events_asof_join": _temporal.build_asof,
        "corpus_budget_take": _curation.build_budget_take,
        "corpus_mixture_plan": _curation.build_mixture_plan,
        "doc_surprisal_bits": _text.build_doc_surprisal,
        "orders_benford_audit": _quality.build_benford,
        "session_attribution": _events.build_session_attribution,
        "similarity_hybrid_rerank": _similarity.build_hybrid,
        "orders_snapshot_diff": _cdc.build_snapshot_diff,
        "orders_merge_upsert": _cdc.build_merge_upsert,
        "similarity_hybrid_recall": _similarity.build_hybrid_recall,
        "part_pagerank": _graph.build_pagerank,
        "events_rate_limit": _temporal.build_rate_limit,
        "events_gapfill_interp": _events.build_gapfill_interp,
        "orders_backlog_timeline": _timeseries.build_backlog,
        "scd2_history": _cdc.build_scd2_history,
        "xml_roundtrip": _formats.build_xml_roundtrip,
        "doc_quality_gate": _text.build_quality_gate,
        "streaming_quality_gate": _streams.build_streaming_quality_gate,
        "multimodal_decode_audit": _multimodal.build_media_decode_audit,
        "bpe_roundtrip": _tokenizer.build_bpe_roundtrip,
        "similarity_ivf_recall": _similarity.build_ivf_recall,
        "corpus_temperature_sample": _curation.build_temperature_sample,
        "similarity_pq_recall": _similarity.build_pq_recall,
        "events_active_users": _events.build_active_users,
        "similarity_topk_cosine": _similarity.build_topk,
        "similarity_lsh_bucketed": _similarity.build_lsh,
        "similarity_ivf_topk": _similarity.build_ivf,
        "dedup_embedding_cosine": _similarity.build_near_dup,
        "dedup_embedding_ann": _similarity.build_ann_pairs,
        "dedup_ann_pair_recall": _similarity.build_ann_pair_recall,
        "similarity_ann_recall": _similarity.build_recall,
        "sequence_packing": _packing.build_sequence_packing,
        "sequence_spans": _packing.build_sequence_spans,
        "packing_offsets_canary": _packing.build_packing_offsets_canary,
        "sequence_export": _packing.build_packed_sequences,
        "corpus_sample": _curation.build_sample,
        "dedup_keep_best": _curation.build_keep_best,
        "discount_revenue_sql": _sql.build_discount_revenue,
        "events_pivot": _events.build_pivot,
        "events_sliding": _events.build_sliding,
        "events_tumbling": _events.build_tumbling,
        "lang_profile": _text.build_profile,
        "large_orders_sql": _sql.build_large_orders,
        "late_order_priority_sql": _sql.build_late_priority,
        "nation_trade_volume_sql": _suite.build_nation_trade_volume,
        "order_cadence": _customer.build_cadence,
        "promo_revenue_sql": _sql.build_promo_revenue,
        "regional_supplier_volume_sql": _suite.build_regional_supplier_volume,
        "returned_items_sql": _sql.build_returned_items,
        "sales_cube": _star.build_cube,
        "embedding_quantize": _similarity.build_quantize,
        "bpe_merges": _tokenizer.build_bpe_merges,
        "dedup_ngram_jaccard": _dedup.build_ngram,
        "doc_repetition": _text.build_repetition,
        "events_daily_rollup": _events.build_daily_rollup,
        "events_range_join": _temporal.build_followups,
        "multimodal_audio": _multimodal.build_audio_features,
        "order_value_distribution": _star.build_distribution,
        "similarity_pq_topk": _similarity.build_pq_topk,
        "vocab_topk": _text.build_vocab,
        "brand_affinity": _product.build_brand_affinity,
        "contamination_screen": _dedup.build_contamination,
        "corpus_source_profile": _text.build_source_profile,
        "dedup_simhash": _dedup.build_simhash,
        "pricing_summary_sql": _sql.build,
        "pmi_collocations": _text.build_pmi_collocations,
        "text_noise_scan": _text.build_noise_scan,
        "regional_rollup": _star.build_rollup,
        "sales_grouping_sets": _star.build_grouping_sets,
        "signup_to_purchase": _events.build_signup_to_purchase,
        "user_rate_audit": _events.build_user_rate_audit,
        "supplier_analytics": _product.build_supplier_analytics,
        "order_bookends": _customer.build_bookends,
        "part_similarity": _graph.build_part_similarity,
        "product_profit_sql": _suite.build_product_profit,
        "priority_shipping_split_sql": _suite.build_priority_shipping_split,
        "part_supplier_variety_sql": _suite.build_part_supplier_variety,
        # rows-only approx twins: PERMANENTLY last (r9 verdict item 2)
        "customer_analytics_approx": _customer.build_approx,
        "source_profile_approx": _text.build_source_profile_approx,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "customer_analytics": _customer.ORACLE_SQL,
        "product_analytics": _product.ORACLE_SQL,
        "product_ranking": _product.ORACLE_SQL_RANKING,
        "time_analytics": _timeseries.ORACLE_SQL_TIME,
        "revenue_trend": _timeseries.ORACLE_SQL_TREND,
        "date_dim_join": _timeseries.ORACLE_SQL_DATE_DIM_JOIN,
        "star_join_detail": _star.ORACLE_SQL_DETAIL,
        "sales_asset_union": _asset.ORACLE_SQL,
        "pricing_summary_sql": _sql.ORACLE_SQL,
        "dedup_exact": _dedup.ORACLE_SQL_EXACT,
        "dedup_ngram_jaccard": _dedup.ORACLE_SQL_NGRAM,
        "dedup_minhash_lsh": _dedup.ORACLE_SQL_MINHASH,
        "dedup_simhash": _dedup.ORACLE_SQL_SIMHASH,
        "dedup_repeated_spans": _dedup.ORACLE_SQL_REPEATED_SPANS,
        "dedup_span_scrub": _dedup.ORACLE_SQL_SPAN_SCRUB,
        "dedup_clusters": _dedup.ORACLE_SQL_CLUSTERS,
        "dedup_fuzzy_verify": _dedup.ORACLE_SQL_FUZZY,
        "dedup_embedding_cosine": _similarity.ORACLE_SQL_NEAR_DUP,
        "dedup_semantic_clusters": _similarity.ORACLE_SQL_SEMANTIC_DEDUP,
        "dedup_cluster_profile": _dedup.ORACLE_SQL_CLUSTER_PROFILE,
        "dedup_embedding_ann": _similarity.ORACLE_SQL_ANN_PAIRS,
        "contamination_screen": _dedup.ORACLE_SQL_CONTAMINATION,
        "dedup_keep_best": _curation.ORACLE_SQL_KEEP_BEST,
        "corpus_curation": _curation.ORACLE_SQL_CURATION,
        "corpus_sample": _curation.ORACLE_SQL_SAMPLE,
        "corpus_temperature_sample": _curation.ORACLE_SQL_TEMPERATURE_SAMPLE,
        "corpus_pps_sample": _curation.ORACLE_SQL_PPS_SAMPLE,
        "text_stats": _text.ORACLE_SQL_STATS,
        "vocab_topk": _text.ORACLE_SQL_VOCAB,
        "doc_repetition": _text.ORACLE_SQL_REPETITION,
        "lang_id": _text.ORACLE_SQL_LANG_ID,
        "doc_quality_gate": _text.ORACLE_SQL_QUALITY_GATE,
        "streaming_quality_gate": _text.ORACLE_SQL_QUALITY_GATE,
        "lang_profile": _text.ORACLE_SQL_PROFILE,
        "doc_chunks": _text.ORACLE_SQL_CHUNKS,
        "similarity_topk_cosine": _similarity.ORACLE_SQL_TOPK,
        # integer-space plane signs make the LSH buckets engine-portable,
        # so even the bucketed ANN query has an exact SQL twin
        "similarity_lsh_bucketed": _similarity.ORACLE_SQL_LSH,
        "similarity_ivf_topk": _similarity.ORACLE_SQL_IVF,
        "similarity_ann_recall": _similarity.ORACLE_SQL_RECALL,
        "similarity_ivf_recall": _similarity.ORACLE_SQL_IVF_RECALL,
        "embedding_quantize": _similarity.ORACLE_SQL_QUANTIZE,
        "multimodal_features": _multimodal.ORACLE_SQL_FEATURES,
        "multimodal_frames": _multimodal.ORACLE_SQL_FRAMES,
        "multimodal_audio": _multimodal.ORACLE_SQL_AUDIO,
        "multimodal_resize": _multimodal.ORACLE_SQL_RESIZE,
        "multimodal_decode_audit": _multimodal.ORACLE_SQL_MEDIA_AUDIT,
        "multimodal_color": _multimodal.ORACLE_SQL_COLOR,
        "dedup_image_phash": _multimodal.ORACLE_SQL_IMAGE_PHASH,
        "dedup_image_band_recall": _multimodal.ORACLE_SQL_IMAGE_BAND_RECALL,
        "dedup_audio_fingerprint": _multimodal.ORACLE_SQL_AUDIO_FINGERPRINT,
        "dedup_video_chunks": _multimodal.ORACLE_SQL_VIDEO_CHUNK_DEDUP,
        "media_dedup_agreement": _multimodal.ORACLE_SQL_MEDIA_AGREEMENT,
        "dedup_image_clusters": _multimodal.ORACLE_SQL_IMAGE_CLUSTERS,
        "dedup_media_incremental": _multimodal.ORACLE_SQL_MEDIA_INCREMENTAL,
        "retrieval_bm25": _similarity.ORACLE_SQL_BM25,
        "retrieval_bm25_recall": _similarity.ORACLE_SQL_BM25_RECALL,
        "retrieval_rrf_fusion": _similarity.ORACLE_SQL_RRF,
        "retrieval_rrf_recall": _similarity.ORACLE_SQL_RRF_RECALL,
        "dedup_embedding_incremental": _similarity.ORACLE_SQL_EMBEDDING_INCREMENTAL,
        "dedup_audio_incremental": _multimodal.ORACLE_SQL_AUDIO_INCREMENTAL,
        "dedup_video_incremental": _multimodal.ORACLE_SQL_VIDEO_INCREMENTAL,
        "similarity_hybrid_bm25": _similarity.ORACLE_SQL_HYBRID_BM25,
        "similarity_hybrid_bm25_recall": _similarity.ORACLE_SQL_HYBRID_BM25_RECALL,
        "media_dedup_profile": _multimodal.ORACLE_SQL_MEDIA_PROFILE,
        "events_pivot": _events.ORACLE_SQL_PIVOT,
        "packing_policy_compare": _packing.ORACLE_SQL_PACKING_POLICY,
        "packing_tokens_canary": _packing.ORACLE_SQL_TOKENS_CANARY,
        "packing_offsets_canary": _packing.ORACLE_SQL_OFFSETS_CANARY,
        "sequence_packing": _packing.ORACLE_SQL_SEQUENCE_PACKING,
        "shard_manifest": _packing.ORACLE_SQL_SHARD_MANIFEST,
        "sequence_spans": _packing.ORACLE_SQL_SEQUENCE_SPANS,
        "sequence_export": _packing.ORACLE_SQL_PACKED_SEQUENCES,
        "sequence_shuffle": _packing.ORACLE_SQL_SEQUENCE_SHUFFLE,
        "bpe_merges": _tokenizer.ORACLE_SQL_BPE_MERGES,
        "bpe_roundtrip": _tokenizer.ORACLE_SQL_BPE_ROUNDTRIP,
        "bpe_encode": _tokenizer.ORACLE_SQL_BPE_ENCODE,
        "bpe_vocab_coverage": _tokenizer.ORACLE_SQL_BPE_VOCAB_COVERAGE,
        "bpe_merges_batched": _tokenizer.ORACLE_SQL_BPE_MERGES_BATCHED,
        "pmi_collocations": _text.ORACLE_SQL_PMI,
        "embedding_dim_stats": _similarity.ORACLE_SQL_DIM_STATS,
        "embedding_pq": _similarity.ORACLE_SQL_PQ,
        "similarity_pq_topk": _similarity.ORACLE_SQL_PQ_TOPK,
        "similarity_pq_recall": _similarity.ORACLE_SQL_PQ_RECALL,
        "similarity_hybrid_rerank": _similarity.ORACLE_SQL_HYBRID,
        "similarity_hybrid_recall": _similarity.ORACLE_SQL_HYBRID_RECALL,
        "events_tumbling": _events.ORACLE_SQL_TUMBLING,
        "events_session": _events.ORACLE_SQL_SESSION,
        "events_daily_rollup": _events.ORACLE_SQL_DAILY_ROLLUP,
        "events_props_breakdown": _events.ORACLE_SQL_PROPS,
        # the streaming-executed rollup must equal the batch daily oracle
        "streaming_daily_rollup": _events.ORACLE_SQL_DAILY_ROLLUP,
        # the drained stateful stream must equal the batch per-user agg
        "streaming_user_totals": _streams.ORACLE_SQL_USER_TOTALS,
        # the drained session_window stream must equal the batch
        # gaps-and-islands session reconstruction
        # epoch-bounded domain twin (watermarked row-level stream)
        "streaming_session": _streams.ORACLE_SQL_SESSION_STREAMING,
        # 2x-redelivered drained dedup must equal the raw table
        "streaming_dedup": _streams.ORACLE_SQL_EVENTS_IDENTITY,
        # drained stream-stream interval join must equal the batch join
        "streaming_purchase_clicks": _streams.ORACLE_SQL_PURCHASE_CLICKS,
        "streaming_enriched_rollup": _streams.ORACLE_SQL_ENRICHED_ROLLUP,
        "cdc_latest_state": _cdc.ORACLE_SQL_LATEST_STATE,
        "scd2_history": _cdc.ORACLE_SQL_SCD2,
        "orders_merge_upsert": _cdc.ORACLE_SQL_MERGE_UPSERT,
        "doc_fingerprints": _fingerprint.ORACLE_SQL_FINGERPRINTS,
        "fingerprint_profile": _fingerprint.ORACLE_SQL_FP_PROFILE,
        "events_active_users": _events.ORACLE_SQL_ACTIVE_USERS,
        "session_attribution": _events.ORACLE_SQL_ATTRIBUTION,
        "events_cohort_retention": _events.ORACLE_SQL_COHORT_RETENTION,
        "events_value_histogram": _events.ORACLE_SQL_VALUE_HISTOGRAM,
        "revenue_seasonality": _timeseries.ORACLE_SQL_SEASONALITY,
        "revenue_cusum": _timeseries.ORACLE_SQL_CUSUM,
        "orders_backlog_timeline": _timeseries.ORACLE_SQL_BACKLOG,
        "revenue_decompose": _timeseries.ORACLE_SQL_DECOMPOSE,
        "revenue_forecast_backtest": _timeseries.ORACLE_SQL_FORECAST_BACKTEST,
        "lang_confusion": _text.ORACLE_SQL_LANG_CONFUSION,
        # split-half join-view merge must equal the one-shot view
        "incremental_join_view": _star.ORACLE_SQL_INCREMENTAL_JOIN_VIEW,
        "ngram_novelty": _dedup.ORACLE_SQL_NOVELTY,
        "dedup_incremental": _dedup.ORACLE_SQL_INCREMENTAL,
        "text_redacted": _text.ORACLE_SQL_REDACTED,
        "supplier_analytics": _product.ORACLE_SQL_SUPPLIER,
        "brand_affinity": _product.ORACLE_SQL_BRAND_AFFINITY,
        "brand_rules": _product.ORACLE_SQL_BRAND_RULES,
        "doc_length_outliers": _text.ORACLE_SQL_LENGTH_OUTLIERS,
        "signup_to_purchase": _events.ORACLE_SQL_SIGNUP_TO_PURCHASE,
        "customer_rfm": _customer.ORACLE_SQL_RFM,
        "shipping_sla": _star.ORACLE_SQL_SHIPPING_SLA,
        "user_rate_audit": _events.ORACLE_SQL_USER_RATE,
        "events_props_typed": _events.ORACLE_SQL_PROPS_TYPED,
        "market_concentration": _product.ORACLE_SQL_CONCENTRATION,
        "part_revenue_abc": _product.ORACLE_SQL_PART_ABC,
        "part_pagerank": _graph.ORACLE_SQL_PAGERANK,
        # cyclic bounded-depth closure: DuckDB's UNION-distinct recursion
        # expresses what Spark's UNION ALL recursive CTE cannot
        "part_closure": _graph.ORACLE_SQL_CLOSURE,
        "part_triangles": _graph.ORACLE_SQL_TRIANGLES,
        "part_similarity": _graph.ORACLE_SQL_PART_SIMILARITY,
        "part_communities": _graph.ORACLE_SQL_COMMUNITIES,
        "orders_snapshot_diff": _cdc.ORACLE_SQL_SNAPSHOT_DIFF,
        "doc_top_terms": _text.ORACLE_SQL_TOP_TERMS,
        "bpe_pair_counts": _text.ORACLE_SQL_BPE_PAIRS,
        "embedding_centroids": _similarity.ORACLE_SQL_CENTROIDS,
        "events_asof_join": _temporal.ORACLE_SQL_ASOF,
        "events_rate_limit": _temporal.ORACLE_SQL_RATE_LIMIT,
        "events_range_join": _temporal.ORACLE_SQL_FOLLOWUPS,
        "event_transitions": _temporal.ORACLE_SQL_TRANSITIONS,
        "customer_retention": _customer.ORACLE_SQL_RETENTION,
        "order_bookends": _customer.ORACLE_SQL_BOOKENDS,
        "order_cadence": _customer.ORACLE_SQL_CADENCE,
        "regional_sales": _star.ORACLE_SQL_REGIONAL,
        "regional_rollup": _star.ORACLE_SQL_ROLLUP,
        "order_value_distribution": _star.ORACLE_SQL_DISTRIBUTION,
        "bucketed_order_join": _bucketed.ORACLE_SQL_BUCKETED_JOIN,
        "dedup_ngram_containment": _dedup.ORACLE_SQL_CONTAINMENT,
        "dedup_method_agreement": _dedup.ORACLE_SQL_METHOD_AGREEMENT,
        "corpus_source_profile": _text.ORACLE_SQL_SOURCE_PROFILE,
        "doc_typicality": _text.ORACLE_SQL_DOC_TYPICALITY,
        "doc_surprisal_bits": _text.ORACLE_SQL_DOC_SURPRISAL,
        "part_hierarchy_sql": _suite.ORACLE_SQL_PART_HIERARCHY,
        "events_props_variant": _events.ORACLE_SQL_PROPS_VARIANT,
        "dedup_ann_pair_recall": _similarity.ORACLE_SQL_ANN_PAIR_RECALL,
        "data_quality_audit": _quality.ORACLE_SQL_QUALITY_AUDIT,
        "orders_profile": _quality.ORACLE_SQL_ORDERS_PROFILE,
        "orders_benford_audit": _quality.ORACLE_SQL_BENFORD,
        "quarantine_audit": _quality.ORACLE_SQL_QUARANTINE_AUDIT,
        "events_funnel": _events.ORACLE_SQL_FUNNEL,
        # merged split-half rollup must equal the one-shot daily oracle
        "events_incremental_rollup": _events.ORACLE_SQL_DAILY_ROLLUP,
        # salt is routing-only: the salted join must equal the plain join
        "salted_order_join": _bucketed.ORACLE_SQL_BUCKETED_JOIN,
        "key_skew_profile": _skew.ORACLE_SQL_KEY_SKEW,
        "kmv_distinct_ngrams": _sketch.ORACLE_SQL_KMV,
        "corpus_train_split": _curation.ORACLE_SQL_TRAIN_SPLIT,
        "corpus_mixture_plan": _curation.ORACLE_SQL_MIXTURE_PLAN,
        "corpus_budget_take": _curation.ORACLE_SQL_BUDGET_TAKE,
        "events_hourly_anomaly": _events.ORACLE_SQL_HOURLY_ANOMALY,
        "events_gapfill": _events.ORACLE_SQL_GAPFILL,
        "events_gapfill_interp": _events.ORACLE_SQL_GAPFILL_INTERP,
        "events_lateness_audit": _events.ORACLE_SQL_LATENESS,
        "text_noise_scan": _text.ORACLE_SQL_NOISE,
        "events_unpivot": _events.ORACLE_SQL_UNPIVOT,
        "events_sliding": _events.ORACLE_SQL_SLIDING,
        "sales_cube": _star.ORACLE_SQL_CUBE,
        "sales_grouping_sets": _star.ORACLE_SQL_GROUPING_SETS,
        "detail_summary_union": _star.ORACLE_SQL_UNION,
        "shipping_priority_sql": _sql.ORACLE_SQL_SHIPPING_PRIORITY,
        "late_order_priority_sql": _sql.ORACLE_SQL_LATE_PRIORITY,
        "discount_revenue_sql": _sql.ORACLE_SQL_DISCOUNT_REVENUE,
        "promo_revenue_sql": _sql.ORACLE_SQL_PROMO_REVENUE,
        "returned_items_sql": _sql.ORACLE_SQL_RETURNED_ITEMS,
        "large_orders_sql": _sql.ORACLE_SQL_LARGE_ORDERS,
        "regional_supplier_volume_sql": _suite.ORACLE_SQL_REGIONAL_SUPPLIER_VOLUME,
        "nation_trade_volume_sql": _suite.ORACLE_SQL_NATION_TRADE_VOLUME,
        "nation_market_share_sql": _suite.ORACLE_SQL_NATION_MARKET_SHARE,
        "product_profit_sql": _suite.ORACLE_SQL_PRODUCT_PROFIT,
        "important_parts_sql": _suite.ORACLE_SQL_IMPORTANT_PARTS,
        "priority_shipping_split_sql": _suite.ORACLE_SQL_PRIORITY_SHIPPING_SPLIT,
        "customer_order_distribution_sql": _suite.ORACLE_SQL_CUSTOMER_ORDER_DISTRIBUTION,
        "top_supplier_sql": _suite.ORACLE_SQL_TOP_SUPPLIER,
        "last_shipment_sql": _suite.ORACLE_SQL_LAST_SHIPMENT,
        "disjunctive_revenue_sql": _suite.ORACLE_SQL_DISJUNCTIVE_REVENUE,
        "idle_customers_sql": _suite.ORACLE_SQL_IDLE_CUSTOMERS,
        "waiting_suppliers_sql": _suite.ORACLE_SQL_WAITING_SUPPLIERS,
        "part_supplier_variety_sql": _suite.ORACLE_SQL_PART_SUPPLIER_VARIETY,
        "small_quantity_revenue_sql": _suite.ORACLE_SQL_SMALL_QUANTITY_REVENUE,
        "bolt_volume_suppliers_sql": _suite.ORACLE_SQL_BOLT_VOLUME_SUPPLIERS,
        "lateral_order_topk_sql": _suite.ORACLE_SQL_LATERAL_ORDER_TOPK,
        "jsonl_roundtrip": _formats.ORACLE_SQL_JSONL_ROUNDTRIP,
        "csv_roundtrip": _formats.ORACLE_SQL_CSV_ROUNDTRIP,
        "partitioned_corpus_read": _formats.ORACLE_SQL_PARTITIONED_READ,
        "schema_evolution_read": _formats.ORACLE_SQL_SCHEMA_EVOLUTION,
        "jsonl_malformed_ingest": _formats.ORACLE_SQL_JSONL_MALFORMED,
        "orc_roundtrip": _formats.ORACLE_SQL_ORC_ROUNDTRIP,
        "xml_roundtrip": _formats.ORACLE_SQL_XML_ROUNDTRIP,
    }
