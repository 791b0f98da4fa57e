"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (+ the north-star extensions); ``oracle_sql()`` holds the
DuckDB twin of each. A query and its twin live side by side in one
family module of ``pond_spark/registry/`` (``_QUERIES`` names it);
operator docs live in pond_spark/ — each query names the SURVEY §2 id
it exercises.

Numeric-determinism convention: aggregates over double columns go
through DECIMAL(18,4) so summation is exact and engine-independent,
then cast to double at the end; averages divide the exact sums.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# self-locate: the driver may import this file from any cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from pond_spark.registry import (
    analytics,
    dedup,
    filters,
    logs,
    media,
    sampling,
    similarity,
    sketches,
    text,
    tpch,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return tpch.q_pricing_summary(spark, "/root/testdata/sf0.001")


#: name -> (query, DuckDB twin); a twin is the SQL itself or the
#: zero-argument builder that derives it (sampled literals, trained
#: centroids) when oracle_sql() runs
_QUERIES: dict[
    str,
    tuple[Callable[[SparkSession, str], DataFrame], str | Callable[[], str]],
] = {
    "retention": (analytics.q_retention, analytics.RETENTION_SQL),
    "ann_ivf_index_topk": (
        similarity.q_ann_ivf_index_topk, similarity.ann_ivf_sql
    ),  # persistence is result-invariant
    "minhash_catalog_incremental": (
        dedup.q_minhash_catalog_incremental, dedup.MINHASH_CATALOG_SQL
    ),
    "dedup_exact": (dedup.q_dedup_exact, dedup.DEDUP_EXACT_SQL),
    "curation": (dedup.q_curation, dedup.curation_sql),
    "curation_near": (dedup.q_curation_near, dedup.curation_near_sql),
    "curation_incremental": (dedup.q_curation_incremental, dedup.CURATION_INCREMENTAL_SQL),
    "catalog_retention_gate": (dedup.q_catalog_retention_gate, dedup.CATALOG_RETENTION_GATE_SQL),
    "embedding_catalog_incremental": (
        similarity.q_embedding_catalog_incremental, similarity.embedding_catalog_sql
    ),
    "embedding_gate_verified": (
        similarity.q_embedding_gate_verified, similarity.embedding_gate_verified_sql
    ),
    "embedding_gate_bucketed": (
        similarity.q_embedding_gate_bucketed, similarity.embedding_gate_verified_sql
    ),  # layout-invariant: same semantics, bucketed files
    "ann_lsh_topk": (similarity.q_ann_lsh_topk, similarity.ann_lsh_sql),
    "bitext_pairs_ann": (similarity.q_bitext_pairs_ann, similarity.bitext_pairs_ann_sql),
    "embedding_near_pairs": (
        similarity.q_embedding_near_pairs, similarity.embedding_near_pairs_sql
    ),
    "repetition": (text.q_repetition, text.REPETITION_SQL),
    "ngram_jaccard": (dedup.q_ngram_jaccard, dedup.NGRAM_JACCARD_SQL),
    "substring_dup": (dedup.q_substring_dup, dedup.SUBSTRING_DUP_SQL),
    "simhash_pairs": (dedup.q_simhash_pairs, dedup.NGRAM_JACCARD_SQL),
    "minhash_pairs": (dedup.q_minhash_pairs, dedup.NGRAM_JACCARD_SQL),
    "bloom_prefilter": (sketches.q_bloom_prefilter, sketches.bloom_prefilter_sql),
    "kmv_churn": (sketches.q_kmv_churn, sketches.kmv_churn_sql),
    "perplexity": (text.q_perplexity, text.PERPLEXITY_SQL),
    "near_dup_groups": (dedup.q_near_dup_groups, dedup.near_dup_groups_sql),
    "line_dedup": (dedup.q_line_dedup, dedup.LINE_DEDUP_SQL),
    "tfidf_keywords": (text.q_tfidf_keywords, text.tfidf_keywords_sql),
    "substring_strip": (dedup.q_substring_strip, dedup.SUBSTRING_STRIP_SQL),
    "cusum_alerts": (analytics.q_cusum_alerts, analytics.cusum_alerts_sql),
    "unimax_mixture": (sampling.q_unimax_mixture, sampling.unimax_mixture_sql),
    "pagerank_top": (analytics.q_pagerank_top, analytics.pagerank_top_sql),
    "stats": (logs.q_stats, logs.STATS_SQL),
    "bm25_search": (text.q_bm25_search, text.bm25_search_sql),
    "hybrid_search": (text.q_hybrid_search, text.hybrid_search_sql),
    "nb_classify": (text.q_nb_classify, text.nb_classify_sql),
    "nb_confusion": (text.q_nb_confusion, text.nb_confusion_sql),
    "url_normalize": (logs.q_url_normalize, logs.URL_NORMALIZE_SQL),
    "top_parts_per_supplier": (tpch.q_top_parts_per_supplier, tpch.TOP_PARTS_SQL),
    "ann_ivfpq_topk": (similarity.q_ann_ivfpq_topk, similarity.ann_ivfpq_sql),
    "top_revenue_join": (tpch.q_top_revenue_join, tpch.TOP_REVENUE_SQL),
    "regional_revenue": (tpch.q_regional_revenue, tpch.REGIONAL_REVENUE_SQL),
    "daily_uniques_approx": (sketches.q_daily_uniques_approx, sketches.DAILY_UNIQUES_APPROX_SQL),
    "corpus_drift": (text.q_corpus_drift, text.corpus_drift_sql),
    "kanon_export": (analytics.q_kanon_export, analytics.kanon_export_sql),
    "quality_outliers": (text.q_quality_outliers, text.quality_outliers_sql),
    "ann_ivf_topk": (similarity.q_ann_ivf_topk, similarity.ann_ivf_sql),
    "shuffle_shards": (sampling.q_shuffle_shards, sampling.shuffle_shards_sql),
    "corpus_profile": (text.q_corpus_profile, text.corpus_profile_sql),
    "funnel": (analytics.q_funnel, analytics.funnel_sql),
    "bpe_vocab": (text.q_bpe_vocab, text.bpe_vocab_sql),
    "bpe_tokenize": (text.q_bpe_tokenize, text.bpe_tokenize_sql),
    "vocab_stats": (text.q_vocab_stats, text.VOCAB_STATS_SQL),
    "media_decode": (media.q_media_decode, media.MEDIA_DECODE_SQL),
    "ann_pq_topk": (similarity.q_ann_pq_topk, similarity.ann_pq_sql),
    "embedding_topk": (similarity.q_embedding_topk, similarity.EMBEDDING_TOPK_SQL),
    "knn_join": (similarity.q_knn_join, similarity.KNN_JOIN_SQL),
    "semantic_pairs": (similarity.q_semantic_pairs, similarity.semantic_pairs_sql),
    "psl_domains": (text.q_psl_domains, text.psl_domains_sql),
    "pii_scrub": (text.q_pii_scrub, text.pii_scrub_sql),
    "media_dhash_pairs": (media.q_media_dhash_pairs, media.MEDIA_DHASH_SQL),
    "media_audio_features": (media.q_media_audio_features, media.MEDIA_AUDIO_SQL),
    "media_decode_jpeg": (media.q_media_decode_jpeg, media.MEDIA_DECODE_JPEG_SQL),
    "media_decode_real": (media.q_media_decode_real, media.MEDIA_DECODE_REAL_SQL),
    "media_meta": (media.q_media_meta, media.MEDIA_META_SQL),
    "time_sugar": (filters.q_time_sugar, filters.time_sugar_sql),
    "time_today": (filters.q_time_today, filters.time_today_sql),
    "host_generator_uri": (filters.q_host_generator_uri, filters.host_generator_uri_sql),
    "method_filter": (filters.q_method_filter, filters.method_filter_sql),
    "age_only": (logs.q_age_only, logs.AGE_ONLY_SQL),
    "pack_shards": (sampling.q_pack_shards, sampling.pack_shards_sql),
    "fingerprint": (text.q_fingerprint, text.fingerprint_sql),
    "dhash_exact_pairs": (media.q_dhash_exact_pairs, media.MEDIA_DHASH_EXACT_SQL),
    "range_join": (analytics.q_range_join, analytics.range_join_sql),
    "hard_negatives": (similarity.q_hard_negatives, similarity.hard_negatives_sql),
    "bitext_pairs": (similarity.q_bitext_pairs, similarity.bitext_pairs_sql),
    "sanitize_site": (logs.q_sanitize_site, logs.SANITIZE_SQL),
    "resolve_forwarded": (logs.q_resolve_forwarded, logs.RESOLVE_FORWARDED_SQL),
    "format_one_line": (logs.q_format_one_line, logs.FORMAT_ONE_LINE_SQL),
    "accumulate_more": (logs.q_accumulate_more, logs.ACCUMULATE_MORE_SQL),
    "anonymize": (logs.q_anonymize, logs.ANONYMIZE_SQL),
    "event_transitions": (analytics.q_event_transitions, analytics.event_transitions_sql),
    "chunk_documents": (text.q_chunk_documents, text.chunk_documents_sql),
    "mixture": (sampling.q_mixture, sampling.mixture_sql),
    "decontaminate": (dedup.q_decontaminate, dedup.DECONTAMINATE_SQL),
    "stratified_sample": (sampling.q_stratified_sample, sampling.stratified_sample_sql),
    "pack_sequences": (sampling.q_pack_sequences, sampling.pack_sequences_sql),
    "geoip": (logs.q_geoip, logs.GEOIP_SQL),
    "cm_join_size": (sketches.q_cm_join_size, sketches.cm_join_size_sql),
    "dsir_weights": (sampling.q_dsir_weights, sampling.dsir_weights_sql),
    "dsir_topk": (sampling.q_dsir_topk, sampling.dsir_topk_sql),
    "cm_heavy_hitters": (sketches.q_cm_heavy_hitters, sketches.cm_heavy_hitters_sql),
    "quality_rules": (text.q_quality_rules, text.quality_rules_sql),
    "bm25_index_search": (
        text.q_bm25_index_search, text.bm25_search_sql
    ),  # index must match in-query BM25
    "uniques_sketch_rollup": (sketches.q_uniques_sketch_rollup, sketches.UNIQUES_SKETCH_SQL),
    "value_quantiles_sketch": (sketches.q_value_quantiles_sketch, sketches.VALUE_SKETCH_SQL),
    "pricing_summary": (tpch.q_pricing_summary, tpch.PRICING_SQL),
    "sessionize": (logs.q_sessionize, logs.SESSIONIZE_SQL),
    "scan_window": (logs.q_scan_window, logs.SCAN_WINDOW_SQL),
    "filter_surface": (filters.q_filter_surface, filters.FILTER_SURFACE_SQL),
    "last": (logs.q_last, logs.LAST_SQL),
    "group_site": (logs.q_group_site, logs.GROUP_SITE_SQL),
    "uri_prefix": (filters.q_uri_prefix, filters.URI_PREFIX_SQL),
    "unsafe_method": (filters.q_unsafe_method, filters.unsafe_method_sql),
    "duration_longer": (filters.q_duration_longer, filters.DURATION_SQL),
    "value_quantiles": (analytics.q_value_quantiles, analytics.VALUE_QUANTILES_SQL),
    "value_quantiles_approx": (
        analytics.q_value_quantiles_approx, analytics.VALUE_QUANTILES_APPROX_SQL
    ),
    "daily_uniques": (analytics.q_daily_uniques, analytics.DAILY_UNIQUES_SQL),
    "promo_revenue": (tpch.q_promo_revenue, tpch.PROMO_REVENUE_SQL),
    "time_rollup": (analytics.q_time_rollup, analytics.TIME_ROLLUP_SQL),
    "site_delta": (analytics.q_site_delta, analytics.SITE_DELTA_SQL),
    "rollup_hierarchy": (analytics.q_rollup_hierarchy, analytics.ROLLUP_HIERARCHY_SQL),
    "text_stats": (text.q_text_stats, text.text_stats_sql),
    "lang_id": (text.q_lang_id, text.lang_id_sql),
    "asof_join": (logs.q_asof_join, logs.ASOF_JOIN_SQL),
    "temperature_mixture": (sampling.q_temperature_mixture, sampling.temperature_mixture_sql),
    "accumulate_top": (logs.q_accumulate_top, logs.ACCUMULATE_TOP_SQL),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _twin) in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    # a builder registered under several keys (the persisted-index
    # twins share their in-query builder) runs ONCE per call — the
    # IVF/PQ builders each retrain k-means/codebooks from the shared
    # sample, so duplicate invocations are pure recompute
    built: dict[Callable[[], str], str] = {}
    out = {}
    for name, (_fn, twin) in _QUERIES.items():
        if callable(twin):
            if twin not in built:
                built[twin] = twin()
            twin = built[twin]
        out[name] = twin
    return out
