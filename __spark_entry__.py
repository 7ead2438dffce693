"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (TPC-H-Q1-style pricing summary) through the
scio_spark library on sf0.001.

``CONTRACT`` is the one list of contract queries: name → (query function,
DuckDB oracle SQL), in driver-window order. ``queries()`` and ``oracle_sql()``
are views of it; ``WALL_CLOCK`` and ``SOAK`` name subsets of it. The query
functions (``q_*``) and oracles (``ORACLE_*``) live in ``scio_spark/contract/``,
one module per family; the driver cross-checks each query against its oracle
in DuckDB at sf0.01.

Determinism conventions (so order-insensitive value hashes match):
- money/double sums go through CAST(... AS DECIMAL(18,4)) then back to double
  (decimal addition is associative; raw double sums are partition-order
  dependent in BOTH engines);
- every computed column is aliased identically in Spark and SQL;
- top-k queries carry a total order (explicit tie-breaker column);
- the Spark session is pinned to UTC (scio_spark.context.DEFAULT_CONFS).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the driver may import this file by path from any cwd — make the sibling
# scio_spark package importable regardless
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from scio_spark.contract import joins, keyed, media, retrieval, roundtrips
from scio_spark.contract import sketches, text, training, windows

SF_SMOKE = "/root/testdata/sf0.001"

# ORDER IS DELIBERATE: the driver's correctness gate records rows for exactly
# the first 50 entries, so the order rotates which queries sit in that window
# (policy and per-round membership: COVERAGE.md, from tools/coverage_map.py).
# The window, in order:
# 1. the four never gate-rowed ANN queries, value-exact locally at sf0.01 and
#    sf1 since r14 (tools/coverage_map.py counts a never-rowed query in this
#    window as scheduled, not stale);
# 2. the other searches rebuilt on the retrieval core, and
#    side_input_multimap, whose side-input guard changed with it;
# 3. the r16-changed sites;
# 4. the 36 queries whose latest gate row is oldest (r12), standing order.
# Post-window, oldest evidence first: the last three r12 rows, then the
# r13-window, r14-window and r15/r16-window queries. tools/check_oracle.py
# value-checks ALL queries every round, and tools/coverage_map.py FAILS if a
# query outside the window exists for two full rounds without a gate row
# (freshness ratchet, VERDICT r14 ask #5).
CONTRACT: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    # -- correctness-gate window (first 50) -----------------------------
    # (a) the four queries that never had a gate row
    "ann_hnsw_sharded": (
        retrieval.q_ann_hnsw_sharded,
        retrieval.ORACLE_ANN_HNSW_SHARDED,
    ),
    "ann_ivf_appended": (
        retrieval.q_ann_ivf_appended,
        retrieval.ORACLE_ANN_IVF_APPENDED,
    ),
    "ann_pq_index": (retrieval.q_ann_pq_index, retrieval.ORACLE_ANN_PQ_INDEX),
    "ann_ivfpq_index": (retrieval.q_ann_ivfpq_index, retrieval.ORACLE_ANN_IVFPQ_INDEX),
    # (b) the other top-k searches and the side-input guard user,
    #     all rebuilt on functions/retrieval.py
    "embedding_topk": (retrieval.q_embedding_topk, retrieval.ORACLE_EMBEDDING_TOPK),
    "ann_lsh": (retrieval.q_ann_lsh, retrieval.ORACLE_ANN_LSH),
    # ann_ivf probes every inverted list (n_probe = n_clusters), so its output
    # is the exact top-3 — the same oracle as the brute-force baseline
    "ann_ivf": (retrieval.q_ann_ivf, retrieval.ORACLE_EMBEDDING_TOPK),
    "ann_ivf_streamed": (retrieval.q_ann_ivf_streamed, retrieval.ORACLE_EMBEDDING_TOPK),
    "ann_hnsw": (retrieval.q_ann_hnsw, retrieval.ORACLE_ANN_HNSW),
    "side_input_multimap": (
        joins.q_side_input_multimap,
        joins.ORACLE_SIDE_INPUT_MULTIMAP,
    ),
    # (c) the sites changed in r16
    "dedup_embedding_lsh": (
        retrieval.q_dedup_embedding_lsh,
        retrieval.ORACLE_DEDUP_EMBEDDING_LSH,
    ),
    # two-micro-batch incremental build of the same hourly rollup
    "continuous_rollup": (windows.q_continuous_rollup, windows.ORACLE_STREAMING_WINDOW),
    "discarding_panes": (windows.q_discarding_panes, windows.ORACLE_DISCARDING_PANES),
    "incremental_dedup": (text.q_incremental_dedup, text.ORACLE_INCREMENTAL_DEDUP),
    # (d) the oldest rows (latest gate row r12), standing order
    "skewed_join": (joins.q_skewed_join, joins.ORACLE_SKEWED_JOIN),
    "smb_join": (joins.q_smb_join, joins.ORACLE_SMB_JOIN),
    "sparse_join": (joins.q_sparse_join, joins.ORACLE_SPARSE_JOIN),
    "subtract_els": (keyed.q_subtract_els, keyed.ORACLE_SUBTRACT_ELS),
    "text_repetition": (text.q_text_repetition, text.ORACLE_TEXT_REPETITION),
    "train_split": (training.q_train_split, training.ORACLE_TRAIN_SPLIT),
    "top_by_key": (keyed.q_top_by_key, keyed.ORACLE_TOP_BY_KEY),
    "window_fixed": (windows.q_window_fixed, windows.ORACLE_WINDOW_FIXED),
    "window_session": (windows.q_window_session, windows.ORACLE_WINDOW_SESSION),
    "rollup": (sketches.q_rollup, sketches.ORACLE_ROLLUP),
    "stats": (sketches.q_stats, sketches.ORACLE_STATS),
    "lang_id": (text.q_lang_id, text.ORACLE_LANG_ID),
    "aggregate_by_key": (keyed.q_aggregate_by_key, keyed.ORACLE_AGGREGATE_BY_KEY),
    "aggregate_global": (keyed.q_aggregate_global, keyed.ORACLE_AGGREGATE_GLOBAL),
    "hash_filter": (keyed.q_hash_filter, keyed.ORACLE_HASH_FILTER),
    "refreshing_side_input": (
        windows.q_refreshing_side_input,
        windows.ORACLE_REFRESHING_SIDE_INPUT,
    ),
    "processing_time_panes": (
        windows.q_processing_time_panes,
        windows.ORACLE_PROCESSING_TIME_PANES,
    ),
    "watermark_panes": (windows.q_watermark_panes, windows.ORACLE_WATERMARK_PANES),
    "side_outputs": (keyed.q_side_outputs, keyed.ORACLE_SIDE_OUTPUTS),
    "map_file": (keyed.q_map_file, keyed.ORACLE_MAP_FILE),
    "allowed_lateness": (windows.q_allowed_lateness, windows.ORACLE_ALLOWED_LATENESS),
    "vector_sum_by_key": (keyed.q_vector_sum_by_key, keyed.ORACLE_VECTOR_SUM),
    "running_total": (keyed.q_running_total, keyed.ORACLE_RUNNING_TOTAL),
    "pack_chunks": (training.q_pack_chunks, training.ORACLE_PACK_CHUNKS),
    "shuffle_positions": (
        training.q_shuffle_positions,
        training.ORACLE_SHUFFLE_POSITIONS,
    ),
    "length_buckets": (training.q_length_buckets, training.ORACLE_LENGTH_BUCKETS),
    "shard_layout": (training.q_shard_layout, training.ORACLE_SHARD_LAYOUT),
    "source_cap": (training.q_source_cap, training.ORACLE_SOURCE_CAP),
    "token_quota": (training.q_token_quota, training.ORACLE_TOKEN_QUOTA),
    "snapshot_diff": (roundtrips.q_snapshot_diff, roundtrips.ORACLE_SNAPSHOT_DIFF),
    "funnel": (sketches.q_funnel, sketches.ORACLE_FUNNEL),
    "tiff_decode": (media.q_tiff_decode, media.ORACLE_TIFF_DECODE),
    "video_mjpeg": (media.q_video_mjpeg, media.ORACLE_VIDEO_MJPEG),
    "jpeg_progressive": (media.q_jpeg_progressive, media.ORACLE_JPEG_PROGRESSIVE),
    "jpeg12_decode": (media.q_jpeg12_decode, media.ORACLE_JPEG12_DECODE),
    "audio_g711": (media.q_audio_g711, media.ORACLE_AUDIO_G711),
    # ---- end of the 50-row gate window (gate cuts at entry 50) --------
    # r12-window remainder, next in the rotation
    "audio_adpcm": (media.q_audio_adpcm, media.ORACLE_AUDIO_ADPCM),
    "audio_flac": (media.q_audio_flac, media.ORACLE_AUDIO_FLAC),
    "audio_mp3_probe": (media.q_audio_mp3_probe, media.ORACLE_AUDIO_MP3_PROBE),
    # the r13-window queries
    "video_probe": (media.q_video_probe, media.ORACLE_VIDEO_PROBE),
    "avi_audio": (media.q_avi_audio, media.ORACLE_AVI_AUDIO),
    "audio_resample": (media.q_audio_resample, media.ORACLE_AUDIO_RESAMPLE),
    "cohort_retention": (sketches.q_cohort_retention, sketches.ORACLE_COHORT_RETENTION),
    "autocomplete": (text.q_autocomplete, text.ORACLE_AUTOCOMPLETE),
    "top_sessions": (windows.q_top_sessions, windows.ORACLE_TOP_SESSIONS),
    "spam_users": (windows.q_spam_users, windows.ORACLE_SPAM_USERS),
    "data_checks": (sketches.q_data_checks, sketches.ORACLE_DATA_CHECKS),
    "metrics": (sketches.q_metrics, sketches.ORACLE_METRICS),
    "quality_funnel": (text.q_quality_funnel, text.ORACLE_QUALITY_FUNNEL),
    "pack_greedy": (training.q_pack_greedy, training.ORACLE_PACK_GREEDY),
    "quantiles": (sketches.q_quantiles, sketches.ORACLE_QUANTILES),
    "quantiles_by_key": (sketches.q_quantiles_by_key, sketches.ORACLE_QUANTILES_BY_KEY),
    "sorted_groups": (keyed.q_sorted_groups, keyed.ORACLE_SORTED_GROUPS),
    "streaming_window": (windows.q_streaming_window, windows.ORACLE_STREAMING_WINDOW),
    "streaming_session": (
        windows.q_streaming_session,
        windows.ORACLE_STREAMING_SESSION,
    ),
    "streaming_join": (windows.q_streaming_join, windows.ORACLE_STREAMING_JOIN),
    "dedup_clusters": (text.q_dedup_clusters, text.ORACLE_DEDUP_CLUSTERS),
    "kv_store_join": (joins.q_kv_store_join, joins.ORACLE_KV_STORE_JOIN),
    "smb_transform": (joins.q_smb_transform, joins.ORACLE_SMB_TRANSFORM),
    "lm_score": (text.q_lm_score, text.ORACLE_LM_SCORE),
    "tfidf_keywords": (text.q_tfidf_keywords, text.ORACLE_TFIDF_KEYWORDS),
    "source_overlap": (text.q_source_overlap, text.ORACLE_SOURCE_OVERLAP),
    "cube": (sketches.q_cube, sketches.ORACLE_CUBE),
    "grouping_sets": (sketches.q_grouping_sets, sketches.ORACLE_GROUPING_SETS),
    "top_orders": (keyed.q_top_orders, keyed.ORACLE_TOP_ORDERS),
    "intersect_by_key": (keyed.q_intersect_by_key, keyed.ORACLE_INTERSECT_BY_KEY),
    "approx_distinct": (sketches.q_approx_distinct, sketches.ORACLE_APPROX_DISTINCT),
    "latest_by_key": (keyed.q_latest_by_key, keyed.ORACLE_LATEST_BY_KEY),
    "local_supplier_volume": (
        joins.q_local_supplier_volume,
        joins.ORACLE_LOCAL_SUPPLIER,
    ),
    "window_sliding": (windows.q_window_sliding, windows.ORACLE_WINDOW_SLIDING),
    "window_calendar": (windows.q_window_calendar, windows.ORACLE_WINDOW_CALENDAR),
    "stratified_sample": (
        sketches.q_stratified_sample,
        sketches.ORACLE_STRATIFIED_SAMPLE,
    ),
    "traffic_max_lane_flow": (
        windows.q_traffic_max_lane_flow,
        windows.ORACLE_TRAFFIC_MAX_LANE_FLOW,
    ),
    "traffic_routes": (windows.q_traffic_routes, windows.ORACLE_TRAFFIC_ROUTES),
    "pii_scrub": (text.q_pii_scrub, text.ORACLE_PII_SCRUB),
    "text_chunks": (text.q_text_chunks, text.ORACLE_TEXT_CHUNKS),
    "csv_roundtrip": (roundtrips.q_csv_roundtrip, roundtrips.ORACLE_CSV_ROUNDTRIP),
    "union_agg": (keyed.q_union_distinct_by, keyed.ORACLE_UNION),
    "text_features": (text.q_text_features, text.ORACLE_TEXT_FEATURES),
    "text_quality": (text.q_text_quality, text.ORACLE_TEXT_QUALITY),
    "sparse_lookup": (joins.q_sparse_lookup, joins.ORACLE_SPARSE_LOOKUP),
    "custom_window": (windows.q_custom_window, windows.ORACLE_CUSTOM_WINDOW),
    "multimodal_features": (
        media.q_multimodal_features,
        media.ORACLE_MULTIMODAL_FEATURES,
    ),
    "window_weekly": (windows.q_window_weekly, windows.ORACLE_WINDOW_WEEKLY),
    "json_roundtrip": (roundtrips.q_json_roundtrip, roundtrips.ORACLE_JSON_ROUNDTRIP),
    "text_roundtrip": (roundtrips.q_text_roundtrip, roundtrips.ORACLE_TEXT_ROUNDTRIP),
    # the r14-window queries
    "tfrecord_roundtrip": (
        roundtrips.q_tfrecord_roundtrip,
        roundtrips.ORACLE_TFRECORD_ROUNDTRIP,
    ),
    "binary_roundtrip": (
        roundtrips.q_binary_roundtrip,
        roundtrips.ORACLE_BINARY_ROUNDTRIP,
    ),
    "object_roundtrip": (
        roundtrips.q_object_roundtrip,
        roundtrips.ORACLE_OBJECT_ROUNDTRIP,
    ),
    "dynamic_destinations": (
        roundtrips.q_dynamic_destinations,
        roundtrips.ORACLE_DYNAMIC_DESTINATIONS,
    ),
    "jdbc_roundtrip": (roundtrips.q_jdbc_roundtrip, roundtrips.ORACLE_JDBC_ROUNDTRIP),
    "xml_roundtrip": (roundtrips.q_xml_roundtrip, roundtrips.ORACLE_XML_ROUNDTRIP),
    "protobuf_roundtrip": (
        roundtrips.q_protobuf_roundtrip,
        roundtrips.ORACLE_PROTOBUF_ROUNDTRIP,
    ),
    "compact_table": (roundtrips.q_compact_table, roundtrips.ORACLE_COMPACT_TABLE),
    "substring_dedup": (text.q_substring_dedup, text.ORACLE_SUBSTRING_DEDUP),
    "merge_upsert": (roundtrips.q_merge_upsert, roundtrips.ORACLE_MERGE_UPSERT),
    "sparse_join_bloom": (joins.q_sparse_join_bloom, joins.ORACLE_SPARSE_JOIN_BLOOM),
    "webdataset_roundtrip": (
        roundtrips.q_webdataset_roundtrip,
        roundtrips.ORACLE_WEBDATASET_ROUNDTRIP,
    ),
    "bpe_segment": (text.q_bpe_segment, text.ORACLE_BPE_SEGMENT),
    "zorder_layout": (roundtrips.q_zorder_layout, roundtrips.ORACLE_ZORDER_LAYOUT),
    "image_decode": (media.q_image_decode, media.ORACLE_IMAGE_DECODE),
    "audio_decode": (media.q_audio_decode, media.ORACLE_AUDIO_DECODE),
    "bigram_lm": (text.q_bigram_lm, text.ORACLE_BIGRAM_LM),
    "interval_join": (joins.q_interval_join, joins.ORACLE_INTERVAL_JOIN),
    "arrow_roundtrip": (
        roundtrips.q_arrow_roundtrip,
        roundtrips.ORACLE_ARROW_ROUNDTRIP,
    ),
    "fuzzy_join": (joins.q_fuzzy_join, joins.ORACLE_FUZZY_JOIN),
    "k_anonymity": (sketches.q_k_anonymity, sketches.ORACLE_K_ANONYMITY),
    "capped_sessions": (windows.q_capped_sessions, windows.ORACLE_CAPPED_SESSIONS),
    "dedup_lines": (text.q_dedup_lines, text.ORACLE_DEDUP_LINES),
    "files_with_path": (
        roundtrips.q_files_with_path,
        roundtrips.ORACLE_FILES_WITH_PATH,
    ),
    "curation_e2e": (text.q_curation_e2e, text.ORACLE_CURATION_E2E),
    "hash_intersect": (joins.q_hash_intersect, joins.ORACLE_HASH_INTERSECT),
    "hash_subtract": (joins.q_hash_subtract, joins.ORACLE_HASH_SUBTRACT),
    "combine_pandas": (keyed.q_combine_pandas, keyed.ORACLE_COMBINE_PANDAS),
    "pane_info": (windows.q_pane_info, windows.ORACLE_PANE_INFO),
    "keyed_variants": (keyed.q_keyed_variants, keyed.ORACLE_KEYED_VARIANTS),
    "map_with_resource": (keyed.q_map_with_resource, keyed.ORACLE_MAP_WITH_RESOURCE),
    "count_by_key": (keyed.q_count_by_key, keyed.ORACLE_COUNT_BY_KEY),
    "count_by_value": (keyed.q_count_by_value, keyed.ORACLE_COUNT_BY_VALUE),
    "distinct": (keyed.q_distinct, keyed.ORACLE_DISTINCT),
    "sum_by_key": (keyed.q_sum_by_key, keyed.ORACLE_SUM_BY_KEY),
    "histogram": (sketches.q_histogram, sketches.ORACLE_HISTOGRAM),
    "flat_map": (keyed.q_flat_map_tokens, keyed.ORACLE_FLAT_MAP),
    "cross": (joins.q_cross, joins.ORACLE_CROSS),
    "subtract_by_key": (keyed.q_subtract_by_key, keyed.ORACLE_SUBTRACT_BY_KEY),
    "tfexample_roundtrip": (
        roundtrips.q_tfexample_roundtrip,
        roundtrips.ORACLE_TFEXAMPLE_ROUNDTRIP,
    ),
    "avro_roundtrip": (roundtrips.q_avro_roundtrip, roundtrips.ORACLE_AVRO_ROUNDTRIP),
    "quantiles_tdigest": (
        sketches.q_quantiles_tdigest,
        sketches.ORACLE_QUANTILES_TDIGEST,
    ),
    "element_count_panes": (
        windows.q_element_count_panes,
        windows.ORACLE_ELEMENT_COUNT_PANES,
    ),
    "semantic_dedup": (retrieval.q_semantic_dedup, retrieval.ORACLE_SEMANTIC_DEDUP),
    "winnow_fingerprints": (
        text.q_winnow_fingerprints,
        text.ORACLE_WINNOW_FINGERPRINTS,
    ),
    "dsir_select": (text.q_dsir_select, text.ORACLE_DSIR_SELECT),
    "orc_roundtrip": (roundtrips.q_orc_roundtrip, roundtrips.ORACLE_ORC_ROUNDTRIP),
    "incremental_embedding_dedup": (
        retrieval.q_incremental_embedding_dedup,
        retrieval.ORACLE_INCREMENTAL_EMBEDDING,
    ),
    # the r15/r16-window queries — freshest gate evidence, last
    "contamination_report": (
        text.q_contamination_report,
        text.ORACLE_CONTAMINATION_REPORT,
    ),
    "semantic_dedup_incremental": (
        retrieval.q_semantic_dedup_incremental,
        retrieval.ORACLE_SEMANTIC_DEDUP_INCREMENTAL,
    ),
    "weighted_sample": (sketches.q_weighted_sample, sketches.ORACLE_WEIGHTED_SAMPLE),
    "stateful_stream": (windows.q_stateful_stream, windows.ORACLE_STATEFUL_STREAM),
    "dedup_simhash": (text.q_dedup_simhash, text._simhash_oracle(3, bits=48)),
    "data_mixture": (training.q_data_mixture, training.ORACLE_DATA_MIXTURE),
    "pricing_summary": (keyed.q_pricing_summary, keyed.ORACLE_PRICING),
    "streaming_dedup": (windows.q_streaming_dedup, windows.ORACLE_STREAMING_DEDUP),
    "png_decode": (media.q_png_decode, media.ORACLE_PNG_DECODE),
    "jpeg_decode": (media.q_jpeg_decode, media.ORACLE_JPEG_DECODE),
    "gif_decode": (media.q_gif_decode, media.ORACLE_GIF_DECODE),
    "video_decode": (media.q_video_decode, media.ORACLE_VIDEO_DECODE),
    "group_by_key": (keyed.q_group_by_key, keyed.ORACLE_GROUP_BY_KEY),
    "map_with_parallelism": (
        keyed.q_map_with_parallelism,
        keyed.ORACLE_MAP_WITH_PARALLELISM,
    ),
    "dist_cache": (joins.q_dist_cache, joins.ORACLE_DIST_CACHE),
    "asof_join": (joins.q_asof_join, joins.ORACLE_ASOF_JOIN),
    "async_lookup": (joins.q_async_lookup, joins.ORACLE_ASYNC_LOOKUP),
    "batch_by_key_sizes": (keyed.q_batch_by_key_sizes, keyed.ORACLE_BATCH_BY_KEY),
    "cogroup": (joins.q_cogroup, joins.ORACLE_COGROUP),
    "cogroup_3way": (joins.q_cogroup_3way, joins.ORACLE_COGROUP_3WAY),
    "corpus_stats": (text.q_corpus_stats, text.ORACLE_CORPUS_STATS),
    "decontaminate": (text.q_decontaminate, text.ORACLE_DECONTAMINATE),
    "dedup_embedding": (retrieval.q_dedup_embedding, retrieval.ORACLE_DEDUP_EMBEDDING),
    "dedup_exact": (text.q_dedup_exact, text.ORACLE_DEDUP_EXACT),
    "dedup_minhash_lsh": (text.q_dedup_minhash_lsh, text._minhash_oracle(16, 4, 0.8)),
    "dedup_ngram_jaccard": (text.q_dedup_ngram_jaccard, text.ORACLE_NGRAM_JACCARD),
    "distinct_by_key": (keyed.q_distinct_by_key, keyed.ORACLE_DISTINCT_BY_KEY),
    "fingerprint_dedup": (text.q_fingerprint_dedup, text.ORACLE_FINGERPRINT),
    "fold_global": (keyed.q_fold_global, keyed.ORACLE_FOLD_GLOBAL),
    "global_top": (keyed.q_global_top, keyed.ORACLE_GLOBAL_TOP),
    "group_map_reduce": (keyed.q_group_map_reduce, keyed.ORACLE_GROUP_MAP_REDUCE),
    "hash_join": (joins.q_hash_join, joins.ORACLE_HASH_JOIN),
    "hash_lookup": (joins.q_hash_lookup, joins.ORACLE_HASH_LOOKUP),
    "heavy_hitters": (sketches.q_heavy_hitters, sketches._heavy_oracle()),
    "hll_merge": (sketches.q_hll_merge, sketches.ORACLE_HLL_MERGE),
    "intersection": (keyed.q_intersection, keyed.ORACLE_INTERSECTION),
    "json_extract": (keyed.q_json_extract, keyed.ORACLE_JSON_EXTRACT),
    "large_orders": (keyed.q_large_orders, keyed.ORACLE_LARGE_ORDERS),
    "mean_by_key": (keyed.q_mean_by_key, keyed.ORACLE_MEAN_BY_KEY),
    "multi_join": (joins.q_multi_join, joins.ORACLE_MULTI_JOIN),
    "partition_counts": (keyed.q_partition_counts, keyed.ORACLE_PARTITION_COUNTS),
    "pipe_identity": (keyed.q_pipe_identity, keyed.ORACLE_PIPE),
    "reduce_by_key": (keyed.q_reduce_by_key, keyed.ORACLE_REDUCE_BY_KEY),
    "safe_map": (keyed.q_safe_map, keyed.ORACLE_SAFE_MAP),
    "salted_agg": (keyed.q_salted_agg, keyed.ORACLE_SALTED_AGG),
}

# Wall-clock streaming queries: their cost is trigger-sleep cadence (scripted
# watermarks / processing-time firings), not compute, and host drift on sleeps
# dominates round-over-round totals (the r9 false alarm, r10's 2.3x
# allowed_lateness blip). bench.py reports a compute total without them.
WALL_CLOCK = frozenset(
    {
        "allowed_lateness",
        "watermark_panes",
        "processing_time_panes",
        "discarding_panes",
        "refreshing_side_input",
        "element_count_panes",
    }
)

# The wall-clock-sensitive quartet tools/soak_streaming.py repeats against
# its oracles.
SOAK = (
    "processing_time_panes",
    "watermark_panes",
    "refreshing_side_input",
    "allowed_lateness",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return keyed.q_pricing_summary(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All contract queries, name → function, in CONTRACT (window) order."""
    return {name: fn for name, (fn, _) in CONTRACT.items()}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle of every contract query, name → SQL."""
    return {name: sql for name, (_, sql) in CONTRACT.items()}
