"""Query registry backing ``__spark_entry__``: every implemented operator
from SURVEY §2 (reference-parity dataflow expressed as verifiable batch
queries over the driver TESTDATA) plus the north-star training-data
operators, each with a DuckDB-runnable ANSI-SQL oracle.

Conventions (driver contract):
- every callable takes (spark, sf_dir) and returns a DataFrame;
- every computed column is aliased IDENTICALLY in Spark and SQL;
- all hashing is md5 (identical hex in both engines); no doubles in
  JSON/CSV string outputs; decimal sums for aggregates (exact in both).

Synthetic Kafka coordinates used by the dataflow queries (deterministic
in both engines): topic = event_type, partition = event_id % 4,
offset = dense per-(topic, partition) sequence ordered by event_id.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_sink_azure_kusto_spark.config import TopicToTableMapping
from kafka_sink_azure_kusto_spark.functions.routing import with_route
from kafka_sink_azure_kusto_spark.operators.batching import (
    staged_file_name,
    with_file_assignment,
)
from kafka_sink_azure_kusto_spark.sources.tables import load_table

# The mapping fixture used by the routing/dataflow queries — mirrors the
# reference config-test fixture (FIXTURES.md §4) on the events table's
# event_type values.
ROUTE_MAPPINGS = [
    TopicToTableMapping(topic="click", db="db1", table="clicks", format="csv"),
    TopicToTableMapping(
        topic="purchase", db="db2", table="purchases", format="json", mapping="Mapping"
    ),
    TopicToTableMapping(topic="*", db="dbW", table="tableW", format="json"),
]

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {}


def register(name: str, oracle: Optional[str]):
    def deco(fn):
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def _workdir(prefix: str) -> str:
    """Scratch dir for round-trip queries, registered for atexit cleanup
    — the returned DataFrame scans it LAZILY, so eager deletion inside
    the query would break the driver's collect; process exit is the
    earliest safe point."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# Per-process gate-substrate cache, keyed by (substrate name, key):
# the PQ stream loop, the exact and nn-descent hierarchical layer
# builds, the nprobe and serving code stores, the vocab stream loop.
# It exists so ONE sweep / driver-gate pass builds each substrate that
# several gates share once (VERDICT r12 #5). The cached DataFrames scan
# parquet in atexit-cleaned workdirs, so reuse within the process is safe.
_SUBSTRATES: dict[tuple[str, tuple], object] = {}


def substrate(name: str, key: tuple, build: Callable[[], object]):
    """The cached substrate ``name`` for ``key``, built by ``build()``
    on first use. Unlocked: a key's concurrent first uses each build it
    and the last is kept."""
    if (name, key) not in _SUBSTRATES:
        _SUBSTRATES[(name, key)] = build()
    return _SUBSTRATES[(name, key)]


def memo_substrate(fn):
    """Cache a substrate builder ``fn(spark, sf_dir)`` per (application,
    sf_dir) in the shared substrate cache."""

    @functools.wraps(fn)
    def cached(spark: SparkSession, sf_dir: str):
        key = (spark.sparkContext.applicationId, sf_dir)
        return substrate(f"{fn.__module__}.{fn.__qualname__}", key, lambda: fn(spark, sf_dir))

    return cached


def clear_gate_memos() -> None:
    """Empty the gate-substrate cache. Benchmark timing loops must
    clear it before every timed run so a recorded wall is always the
    query's STANDALONE cost — without this, min-of-N recorded the
    ~0.1 s cached re-read for gates whose real loop costs ~10 s,
    silently deflating the headline total (r13 bench-honesty fix)."""
    _SUBSTRATES.clear()


def _drain_stream(q, timeout_s: int) -> None:
    """Await an availableNow streaming query and FAIL LOUDLY on
    timeout (ADVICE r12 #3): every gate loop grades state the stream
    wrote, so a hung query that merely times out would silently grade
    a partial store/probes directory as if the stream had drained."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"streaming gate loop did not drain within {timeout_s}s — "
            "refusing to grade partial stream output"
        )
    q.stop()


# Driver-gate ordering: the external correctness gate evaluates the first
# 50 entries of queries().  The window is filled in three layers:
#   1. _GATE_HEAD — queries NEW this round or whose implementation /
#      shared helper CHANGED this round (VERDICT r6 #1: changed work is
#      always driver-gated);
#   2. a deterministic ROTATING SAMPLE of long-stable queries (VERDICT
#      r11 #1): the ~190 queries outside the recent-round region are
#      ranked by md5(name|round) and the first _ROTATION_SLOTS fill the
#      next slots, so every long-stable query passes through the driver
#      gate every ~(pool/slots) ≈ 12 rounds and a silent regression in
#      an old query cannot hide behind the builder's own sweep forever;
#   3. previously-green anchors (_GATE_PRIORITY, newest-first history)
#      fill the remaining slots.
_ROUND = 14  # bump each round — the rotation key

_GATE_HEAD = [
    # --- new in r14 ---
    "ivfpq_serving_pipeline",            # r14: trained cb → nprobe ADC → rerank
    "ivfpq_serving_recall_audit",        # r14: shortlist-budget recall curve
    "ivfpq_residual_serving_pipeline",   # r14: FAISS-style residual codes
    "ivfpq_residual_gain_audit",         # r14: plain vs residual, integers
    "vocab_store_incremental_encode",    # r14: serving read off live vocab
    # --- changed in r14 (multi-round nn-descent build + occupancy-
    # sized upper-layer planes, VERDICT r13 #1) ---
    "hierarchical_build_nn_descent",
    "hierarchical_build_recall_audit",
    # --- changed in r14 (word_count_upsert layout guard + dedup
    # tiebreak, ADVICE r13 #2/#3; vocab loop persists retrained store) ---
    "streaming_vocab_maintenance",
    "vocab_drift_retrain_audit",
    # --- changed in r14 (unigram_encode measured broadcast bound) ---
    "unigram_pack_token_windows",
    # --- changed in r14 (jpeg DNL tolerance, ADVICE r13 #1) ---
    "multimodal_jpeg_decode_gate",
    "multimodal_curation_pipeline",
    # --- changed in r14 (rerank_topk metric param) ---
    "similarity_ann_rerank",
]

# Number of rotation slots after the changed-query head. 15 of ~190
# eligible → full coverage in ~13 rounds.
_ROTATION_SLOTS = 15

# Queries that earned driver-gate rows as NEW or CHANGED work in each
# recent round, by explicit name (ADVICE r12 #2 — the old positional
# _RECENT_BLOCK prefix silently shifted when _GATE_PRIORITY was
# reordered). Rounds within the last two of _ROUND are excluded from
# the rotation pool so the sample spends its slots on genuinely old
# queries; older entries here are inert and kept for history.
_ROUND_FRESH: dict[int, list[str]] = {
    # FROZEN name lists, never an alias of the mutable _GATE_HEAD —
    # next round's in-place head edit must not retroactively rewrite
    # what counted as round-13 work (r13 self-review; the same drift
    # hazard ADVICE r12 #2 removed in its positional form)
    14: [
        "ivfpq_serving_pipeline", "ivfpq_serving_recall_audit",
        "ivfpq_residual_serving_pipeline", "ivfpq_residual_gain_audit",
        "vocab_store_incremental_encode",
        "hierarchical_build_nn_descent", "hierarchical_build_recall_audit",
        "streaming_vocab_maintenance", "vocab_drift_retrain_audit",
        "unigram_pack_token_windows", "multimodal_jpeg_decode_gate",
        "multimodal_curation_pipeline", "similarity_ann_rerank",
    ],
    13: [
        "hierarchical_build_nn_descent", "hierarchical_build_recall_audit",
        "streaming_vocab_maintenance", "vocab_drift_retrain_audit",
        "ivfpq_nprobe_search", "adc_nprobe_recall_audit",
        "unigram_pack_token_windows", "unigram_lm_tokenizer_train",
        "streaming_pq_index_maintenance", "streaming_pq_drift_audit",
        "similarity_hierarchical_search", "graph_hierarchy_gain_audit",
        "embedding_pq_adc_topk", "streaming_ivfpq_index_maintenance",
    ],
    12: [
        "streaming_pq_index_maintenance", "streaming_pq_drift_audit",
        "streaming_ivfpq_index_maintenance",
        "streaming_hierarchical_graph_maintenance",
        "pq_codebook_train", "pq_retrain_improvement_audit",
        "embedding_pq_adc_topk", "similarity_hierarchical_search",
        "graph_hierarchy_gain_audit", "unigram_lm_tokenizer_train",
        "unigram_pack_token_windows", "bpe_pack_token_windows",
        "retrieval_eval_metrics", "streaming_mih_index_maintenance",
        "streaming_ivf_index_maintenance", "streaming_knn_graph_maintenance",
        "similarity_index_incremental_update",
        "similarity_binary_hamming_topk", "avro_container_encode",
    ],
    11: [
        "streaming_mih_index_maintenance", "similarity_mih_recall_audit",
        "similarity_binary_hamming_topk", "expectation_suite_audit",
        "streaming_expectation_monitor", "retrieval_eval_metrics",
        "hybrid_retrieval_rrf", "graph_triangle_count",
        "graph_label_propagation", "graph_modularity_audit",
        "multimodal_gif_decode", "multimodal_gif_frame_dedup",
        "inverted_index_compression", "text_kneser_ney_trigram_score",
        "streaming_knn_graph_maintenance", "graph_entry_strategy_audit",
        "bpe_pack_token_windows", "multimodal_jpeg_decode_gate",
        "corpus_shard_manifest", "multimodal_decode",
        "multimodal_dhash_dedup", "multimodal_resize_bilinear",
        "multimodal_curation_pipeline", "similarity_graph_search",
        "streaming_ivf_index_maintenance", "dsir_importance_select",
        "streaming_dsir_maintenance",
    ],
}


# A _ROUND bump without a matching frozen fresh-list entry would
# silently let just-changed queries re-enter the rotation pool — the
# drift class ADVICE r12 #2 removed in positional form and ADVICE r13
# #4 flagged in append-discipline form. Fail fast at import instead.
if _ROUND not in _ROUND_FRESH:  # not an assert: python -O keeps this
    raise RuntimeError(
        f"_ROUND={_ROUND} bumped without freezing _ROUND_FRESH[{_ROUND}] "
        "— append this round's new/changed query names before shipping"
    )


def _rotation_sample() -> list[str]:
    """Deterministic round-keyed sample of long-stable queries: rank by
    md5(name|round) — stable within a round, reshuffled across rounds —
    and take the first _ROTATION_SLOTS."""
    import hashlib

    recent = set(_GATE_HEAD) | {
        n for r, names in _ROUND_FRESH.items() if r >= _ROUND - 2
        for n in names
    }
    pool = [n for n in _REGISTRY if n not in recent]
    pool.sort(
        key=lambda n: hashlib.md5(f"{n}|round{_ROUND}".encode()).hexdigest()
    )
    return pool[:_ROTATION_SLOTS]


_GATE_PRIORITY = [
    # rotation rule (VERDICT r6 #1): any query whose implementation
    # OR shared helper changed this round leads the 50-slot gate.
    # --- new in the r11 third wave ---
    "streaming_mih_index_maintenance",   # r11c: live binary-code store loop
    "similarity_mih_recall_audit",       # r11c: two-regime sign-bit recall
    "similarity_binary_hamming_topk",    # r11c: MIH candidates + rerank
    "expectation_suite_audit",           # r11c: Deequ-style batch audit
    "streaming_expectation_monitor",     # r11c: additive violation registers
    "retrieval_eval_metrics",            # r11c: P@k/R@k/MRR/nDCG scorecard
    "hybrid_retrieval_rrf",              # r11c: BM25+dense RRF fusion
    "graph_triangle_count",              # r11c: edge-iterator compact-forward
    "graph_label_propagation",           # r11c: 3-round sync LPA
    "graph_modularity_audit",            # r11c: Newman Q of the partition
    "multimodal_gif_decode",             # r11c: LZW/interlace/palette gate
    "multimodal_gif_frame_dedup",        # r11c: animation-frame dHash pairs
    "inverted_index_compression",        # r11c: delta+varint accounting
    "text_kneser_ney_trigram_score",     # r11c: interpolated-KN LM filter
    # --- new in r11 ---
    "streaming_knn_graph_maintenance",   # r11: live kNN-graph upsert loop
    "graph_entry_strategy_audit",        # r11: stride vs centroid entries
    "bpe_pack_token_windows",            # r11: fixed ctx windows of ids
    "multimodal_jpeg_decode_gate",       # r11: baseline JPEG through dispatch
    "corpus_shard_manifest",             # r11: order-sensitive release hash
    # --- changed in r11 (PNG fixture rows through the decode kernel;
    # graph_search_topk gained the entries param) ---
    "multimodal_decode",                 # r11: PNG n_bytes/media_type oracle
    "multimodal_dhash_dedup",            # r11: PNG rows in the dHash path
    "multimodal_resize_bilinear",        # r11: PNG rows in the resize path
    "multimodal_curation_pipeline",      # r11: PNG rows E2E
    "similarity_graph_search",           # r11: entries-param refactor
    "streaming_ivf_index_maintenance",   # r11: upsert cell-move fix
    "dsir_importance_select",            # r11: oracle CTE-prefix refactor
    "streaming_dsir_maintenance",        # r11: same oracle refactor
    # --- new in r10 ---
    "graph_search_recall_audit",         # r10: equal-budget vs multiprobe
    "knn_recall_calibration",            # r10: planes×bands recall matrix
    "q2_min_cost_supplier",              # r10: TPC-H Q2 analog
    "q9_product_profit",                 # r10: TPC-H Q9 analog
    "q11_important_stock",               # r10: TPC-H Q11 analog
    "q20_promotion_candidates",          # r10: TPC-H Q20 analog
    "q21_waiting_orders",                # r10: TPC-H Q21 analog
    "dedup_lsh_recall_audit",            # r10: LSH vs exact-Jaccard audit
    "multimodal_crossmodal_topk",        # r10: text→image retrieval
    "embedding_hygiene_audit",           # r10: norm-contract gate
    "hilbert_layout_key",                # r10: locality layout key
    "interval_overlap_join",             # r10: bucketized range join
    "streaming_bm25_maintenance",        # r10: additive index registers
    "split_semantic_leakage_audit",      # r10: embedding-space leakage gate
    # --- new in r9 ---
    "text_within_doc_dedup",             # r9b: C4 duplicate-line rule
    "vocab_coverage_curve",              # r9b: count-of-counts coverage
    "theta_sketch_setops",               # r9b: sketch union/intersection
    "knn_graph_mutual",                  # r9b: mutual kNN graph
    "knn_graph_nn_descent",              # r9b: NN-descent refinement round
    "knn_recall_audit",                  # r9b: recall vs brute-force truth
    "theta_sketch_merge_lifecycle",      # r9b: lossless KMV merge proof
    "dedup_containment_subset",          # r9b: asymmetric quote detector
    "corpus_snapshot_diff",              # r9b: incremental-ingest diff
    "contrastive_hard_negatives",        # r9b: cross-label ANN mining
    "q12_linestatus_priority",           # r9b: TPC-H Q12 analog
    "q13_order_count_distribution",      # r9b: TPC-H Q13 analog
    "q14_promo_revenue",                 # r9b: TPC-H Q14 analog
    "q16_supplier_brand_count",          # r9b: TPC-H Q16 analog
    "q8_market_share",                   # r9b: TPC-H Q8 analog
    "k_anonymity_audit",                 # r9b: governance gate
    "rfm_segmentation",                  # r9b: RFM quartile segments
    "corpus_data_card",                  # r9b: per-source release card
    "matryoshka_recall_audit",           # r9b: truncation recall audit
    "streaming_countmin_maintenance",    # r9b: additive sketch stream
    "multimodal_center_crop",            # r9b: augmentation kernel
    "similarity_index_incremental_update",  # r9b: diff-driven cell rewrite
    # --- changed shared helper in r9b: hyperplane_lsh_buckets now
    # bakes plan-time literal components (bit-identical buckets) ---
    "similarity_lsh_bucketed",
    "contamination_substring_trim",      # r9: benchmark-span decontamination
    "quantile_sketch_estimate",          # r9: mergeable quantile histogram
    "quantile_sketch_merge_lifecycle",   # r9: SUM-merge == single-shot proof
    "minhash_merge_lifecycle",           # r9: MIN-merge source-affinity matrix
    "dedup_substring_spans",             # VERDICT r8 #5: anchor-gram span dedup
    "dedup_substring_trim",              # r9: span removal + trimmed text
    "multimodal_resample_sinc",          # VERDICT r8 #8: Q12 polyphase sinc
    "streaming_neardup_store_live_compaction",  # VERDICT r8 #6: mid-stream compact
    "streaming_substring_store",         # r9: live anchor-store loop
    "bucketed_colocation_join",          # r9: exchange-free co-located join
    # --- changed implementation in r9 (round-9 advice fixes) ---
    "distinct_hll_estimate",             # 60-bit hash (advice #2)
    "sketch_merge_lifecycle",            # same geometry change
    "domain_temperature_mix",            # deterministic normalizer (advice #4)
    "text_quality_classifier",           # NULL-text membership (advice #5)
    "streaming_incremental_neardup_store",  # epoch-keyed results (advice #3)
    # --- r8 head retained while still fresh ---
    "dedup_store_compaction_lifecycle",  # VERDICT r7 #4: append→compact
    "multimodal_video_dedup",            # VERDICT r7 #7: frame-sample dedup
    "multimodal_clip_align_filter",      # CLIP-style pair curation
    "multimodal_video_dedup_capped",     # degenerate-block guard, exact
    "similarity_index_lifecycle",        # partitioned IVF build→append→probe
    "multimodal_resize",                 # real NN resize, stub retired
    "multimodal_audio_resample",         # 4 kHz rate conversion, real codec
    # --- changed implementation in r8 ---
    "multimodal_audio_fingerprint_dedup",  # same materialization fix
    "registry_wire_decode",           # VERDICT r7 #2: chunked codegen spans
    "wire_frame_split",               #   shares wire_format
    "protobuf_decode",                # walk chunking + overlength guard
    "record_shape_dispatch",          # shares decode_payload
    "avro_container_encode",          # avro_io walk chunking
    # --- r7 head retained while still fresh ---
    "bpe_encode_corpus",
    "bpe_encode_corpus_join",
    "dedup_incremental_neardup_capped",
    "dedup_minhash_lsh_compact",
    "dedup_semantic_cells_capped",
    "dedup_semantic_cells",
    "dedup_incremental_neardup",      # store-type guard added
    "bpe_iterative_merges",
    "streaming_stream_join",
    # --- minhash family: shared minhash_signatures_df changed in r6
    # AFTER their last gate rows (VERDICT #1's exact list) ---
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped",
    "dedup_cc_clusters",
    "contamination_near_dup",
    "leakage_safe_split",
    "segment_dedup",
    "dedup_incremental",
    "dedup_cluster_size_histogram",
    "contamination_bloom_prefilter",
    "dedup_keep_best",
    "curation_pipeline",
    # --- previously-green anchors filling the remaining slots ---
    "quality_percentile_gate",
    "kmeans_lloyd_step",
    "text_bigram_lm_score",
    "partitioned_write_prune",
    "events_anomaly_zscore",
    "retention_cohorts",
    "timeseries_gap_fill",
    "funnel_conversion",
    "zorder_layout_key",
    "cube_event_stats",
    "value_histogram",
    "scd2_asof_enrich",
    "streaming_sink_roundtrip",
    # r5 second batch (TPC-H analog joins, sketches, integrity audit,
    # weighted WOR sampling, PageRank, exact-sum regression).
    "q6_forecast_revenue",
    "q4_priority_exists",
    "q7_bilateral_trade",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q22_dormant_high_balance",
    "countmin_heavy_hitters",
    "distinct_kmv_estimate",
    "referential_integrity_audit",
    "weighted_sample_wor",
    "pagerank_nation_trade",
    "events_linear_trend",
    "streaming_session_windows",
    "streaming_static_enrich",
    "streaming_dedup_watermark",
    "orders_trailing_30d_revenue",
    "equidepth_bins",
    "nation_revenue_share",
    "customer_order_gaps",
    "events_ewma",
    "attribution_last_touch",
    "record_survivorship",
    "copurchase_pairs",
    "copurchase_lift",
    "value_drift_psi",
    "incremental_agg_maintenance",
    "value_winsorize",
    "timeseries_profile_similarity",
    "scd1_upsert",
    "orders_metrics_unpivot",
    "streaming_upsert_materialized",
    # r5: new this round (SCD-2, rolling features, salted join,
    # residual IVF-PQ, wire-format message-indexes; the dedup-family
    # entries moved to the r7 rotation head above — ADVICE r7 #4).
    "scd2_user_state_history",
    "events_rolling_features",
    "skew_salted_join",
    "bpe_pair_frequencies",
    "dedup_editdistance_blocked",
    "table_profile_events",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "importance_sample_by_quality",
    "corpus_epoch_expansion",
    "similarity_ivf_pq_residual_topk",
    # r5 backlog rotation: everything NOT in the r4 driver gate (all
    # were judge-replica-exact; this re-earns driver-green rows).
    "event_time_windows",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "text_fingerprint",
    "text_token_counts",
    "text_language_id",
    "corpus_language_stats",
    "text_quality",
    "text_rolling_fingerprint",
    "text_quality_score",
    "multimodal_feature_extract",
    "multimodal_frame_sample",
    "events_sessionization",
    "skew_salted_agg",
    "sql_passthrough",
    "deserialization_dlq_split",
    "semi_join_active_customers",
    "anti_join_dormant_customers",
    "set_ops_users",
    "distinct_user_counts",
    "kusto_type_roundtrip",
    "dynamic_variant_extract",
    "rollup_region_nation",
    "pivot_event_counts",
    "percentile_order_values",
    # r4-green anchors filling the remaining gate slots
    "flagship_pack_all",
]


def _ordered_names() -> list[str]:
    # layered gate window: changed-this-round head, then the rotating
    # sample of long-stable queries, then the historical anchor list.
    # Dedupe defensively so rotation edits can't create phantom slot
    # entries against the 50-slot gate window (ADVICE r7 #4).
    seen: set[str] = set()
    pri = [
        n for n in _GATE_HEAD + _rotation_sample() + _GATE_PRIORITY
        if n in _REGISTRY and not (n in seen or seen.add(n))
    ]
    rest = [n for n in _REGISTRY if n not in seen]
    return pri + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name][1]
        for name in _ordered_names()
        if _REGISTRY[name][1] is not None
    }


QUERIES = _REGISTRY  # convenience alias


def _events_with_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + synthetic (topic, partition, offset) coordinates."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", (F.col("event_id") % 4)).orderBy("event_id")
    return (
        ev.withColumn("topic", F.col("event_type"))
        .withColumn("partition", (F.col("event_id") % 4).cast("long"))
        .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
    )


_COORDS_SQL = """
    SELECT *,
           event_type AS topic,
           CAST(event_id % 4 AS BIGINT) AS "partition",
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type, event_id % 4
                                   ORDER BY event_id) - 1 AS BIGINT) AS "offset"
    FROM events
"""


# =====================================================================
# Flagship + reference dataflow operators (SURVEY §2)
# =====================================================================


@register(
    "flagship_pack_all",
    """
    SELECT event_id,
           '{"event_id":' || event_id || ',"user_id":' || user_id ||
           ',"event_type":"' || event_type || '"}' AS vresult
    FROM events WHERE event_type = 'click'
    """,
)
def flagship_pack_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference E2E verification query (KustoSinkIT.java:269-271):
    ``table | where vtype == 'fmt' | project vlong, vresult = pack_all()``
    — filter on the discriminator column, project key + JSON bag."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "click").select(
        "event_id",
        F.to_json(F.struct("event_id", "user_id", "event_type")).alias("vresult"),
    )


@register(
    "tombstone_filter",
    """
    WITH k AS (SELECT event_id,
                      CASE WHEN event_id % 97 = 0 THEN NULL ELSE props END AS value
               FROM events)
    SELECT event_id, value FROM k WHERE value IS NOT NULL
    """,
)
def tombstone_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — null-value records (tombstones) are dropped
    (KustoSinkTask.java:510-513). Every 97th event plays the tombstone."""
    from kafka_sink_azure_kusto_spark.functions.filters import drop_tombstones

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 97 == 0, None).otherwise(F.col("props")).alias("value"),
    )
    return drop_tombstones(ev)


@register(
    "empty_serialization_filter",
    """
    WITH k AS (SELECT event_id,
                      CASE WHEN event_id % 11 = 0 THEN ''
                           WHEN event_id % 13 = 0 THEN '{}'
                           ELSE props END AS value
               FROM events)
    SELECT event_id, value FROM k
    WHERE value IS NOT NULL AND length(value) > 0 AND value <> '{}'
    """,
)
def empty_serialization_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — records serializing to zero JSON bytes are skipped
    (JsonRecordWriterProvider.java:53-56)."""
    from kafka_sink_azure_kusto_spark.functions.filters import drop_empty_serializations

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 11 == 0, "")
        .when(F.col("event_id") % 13 == 0, "{}")
        .otherwise(F.col("props"))
        .alias("value"),
    )
    return drop_empty_serializations(ev)


@register(
    "topic_routing",
    """
    SELECT event_id,
           event_type AS topic,
           CASE event_type WHEN 'click' THEN 'db1' WHEN 'purchase' THEN 'db2'
                ELSE 'dbW' END AS route_db,
           CASE event_type WHEN 'click' THEN 'clicks' WHEN 'purchase' THEN 'purchases'
                ELSE 'tableW' END AS route_table,
           CASE event_type WHEN 'click' THEN 'csv' ELSE 'multijson' END AS route_format
    FROM events
    """,
)
def topic_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — topic→(db, table, format) routing: exact match first, then
    '*' wildcard (KustoSinkTask.java:334-340); E5 format coalescing
    applied (json → multijson)."""
    ev = load_table(spark, sf_dir, "events").withColumn("topic", F.col("event_type"))
    return with_route(ev, ROUTE_MAPPINGS).select(
        "event_id", "topic", "route_db", "route_table", "route_format"
    )


@register(
    "record_shape_dispatch",
    """
    SELECT shape, COUNT(*) AS n FROM (
      SELECT CASE WHEN props IS NULL THEN 'tombstone'
                  WHEN props LIKE '{%' THEN 'struct'
                  ELSE 'string' END AS shape
      FROM events) GROUP BY shape
    """,
)
def record_shape_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — serializer dispatch by record value shape
    (FileWriter.java:304-330): Map/Struct vs String vs Bytes."""
    ev = load_table(spark, sf_dir, "events")
    shape = (
        F.when(F.col("props").isNull(), "tombstone")
        .when(F.col("props").startswith("{"), "struct")
        .otherwise("string")
    )
    return ev.select(shape.alias("shape")).groupBy("shape").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "json_decode",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    """,
)
def json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless JSON decode (§1.3): from_json into a typed column —
    the Spark analog of the Connect JsonConverter step."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.from_json("props", "k int").getField("k").alias("k")
    )


@register(
    "protobuf_decode",
    """
    SELECT event_id, user_id, event_type, value,
           CAST(user_id * 2 - 1000 AS BIGINT) AS balance,
           event_type = 'click' AS is_click
    FROM events
    """,
)
def protobuf_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converter-matrix row 6 (ProtobufConverter, reference
    README.md:147-156): protobuf-encoded record values → typed columns.

    Fixture: each events row is wire-encoded (pure-Python codec,
    functions/protobuf_io.py — varint/fixed64/length-delimited/zigzag),
    then decoded back through ``decode_payload(fmt="protobuf")``'s
    Arrow-batched wire parser. The oracle reads the source columns
    directly, so any tag/varint/zigzag/endianness bug in the chain
    breaks the hash. Both halves are narrow mapInPandas/pandas_udf —
    no shuffle."""
    import pandas as pd

    from kafka_sink_azure_kusto_spark.functions.encoders import decode_payload
    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        encode_message,
        encode_zigzag,
    )

    def encode_batches(it):
        for pdf in it:
            payloads = []
            # column zip, not iterrows() — Series-per-row construction is
            # ~10× the cost of tuple iteration on wide Arrow batches
            for eid, uid, etype, val in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"], pdf["value"]
            ):
                fields = []
                if not pd.isna(eid):
                    fields.append((1, int(eid)))
                if not pd.isna(uid):
                    u = int(uid)
                    fields.append((2, u))
                    fields.append((5, encode_zigzag(u * 2 - 1000)))  # sint64
                if etype is not None:
                    fields.append((3, str(etype)))
                    fields.append((6, int(etype == "click")))  # bool
                if not pd.isna(val):
                    fields.append((4, float(val)))  # fixed64 double
                payloads.append(encode_message(fields))
            yield pd.DataFrame({"value": payloads})

    ev = load_table(spark, sf_dir, "events")
    encoded = ev.select("event_id", "user_id", "event_type", "value").mapInPandas(
        encode_batches, schema="value binary"
    )
    decoded = decode_payload(
        encoded,
        fmt="protobuf",
        schema=StructType(
            [
                StructField("event_id", LongType()),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
                StructField("balance", LongType()),
                StructField("is_click", BooleanType()),
            ]
        ),
        proto_field_schema={
            1: ("event_id", "int64"),
            2: ("user_id", "int64"),
            3: ("event_type", "string"),
            4: ("value", "double"),
            5: ("balance", "sint64"),
            6: ("is_click", "bool"),
        },
    )
    return decoded.select("payload.*")


@register(
    "registry_wire_decode",
    """
    SELECT event_id,
           CASE WHEN event_id % 8 = 0 THEN 1
                WHEN event_id % 8 = 1 THEN 2
                WHEN event_id % 8 = 2 THEN 99
                WHEN event_id % 8 = 3 THEN 1
                WHEN event_id % 8 = 4 THEN 3
                WHEN event_id % 8 = 5 THEN 4
                WHEN event_id % 8 = 6 THEN 2
                ELSE 1 END AS wire_schema_id,
           CASE WHEN event_id % 8 IN (0, 1, 4, 5, 7) THEN 'ok'
                WHEN event_id % 8 = 2 THEN 'unknown_id'
                WHEN event_id % 8 = 3 THEN 'bad_magic'
                ELSE 'unknown_index' END AS wire_status,
           CASE WHEN event_id % 8 IN (0, 1, 4, 5) THEN event_id END AS decoded_eid,
           CASE WHEN event_id % 8 IN (0, 1, 4, 5) THEN user_id END AS decoded_uid
    FROM events
    """,
)
def registry_wire_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent Schema-Registry wire format (magic 0x00 + big-endian
    schema id + protobuf message-index list + body; reference
    README.md:147-156 converter layer, E2E schema-registry container in
    KustoSinkIT.java setup).

    Fixture: each events row is framed by event_id%8 —
      0: JSON body, id 1                         → ok
      1: protobuf body, id 2, index [0] (0x00)   → ok
      2: UNKNOWN id 99                           → unknown_id
      3: bad magic byte                          → bad_magic
      4: AVRO binary body, id 3 (pure-Python
         fallback decode — no spark-avro jar)    → ok
      5: protobuf, id 4, multi-entry index [1,2] → ok
      6: protobuf, id 2, index [1] ≠ declared [0]→ unknown_index
      7: 5-byte frame, id 1, EMPTY body          → ok, NULL payload
    then split + routed by decode_wire_frames' static id→handler map.
    The oracle recomputes status and decoded fields from the source
    columns, so a wrong endianness, off-by-one in the header slice, a
    mis-stripped index prefix, or a mis-routed body breaks the hash.
    Frame split and index parse are pure codegen (substring/hex/conv);
    corrupt frames surface as K4 DLQ statuses, never exceptions.

    r7: the fixture frames themselves are synthesized with BUILT-IN
    binary expressions (unhex/concat + the varint/zigzag encode
    expressions in protobuf_io) — the r6 mapInPandas encoder was the
    query's own last Python operator, and the body decode now runs the
    codegen walk, so the whole plan is Python-free when the jars are
    absent (VERDICT r6 #2)."""
    from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
        varint_encode_sql,
        zigzag_encode_sql,
    )
    from kafka_sink_azure_kusto_spark.functions.wire_format import (
        decode_wire_frames,
    )

    avro_schema = {
        "type": "record",
        "name": "Ev",
        "fields": [
            {"name": "eid", "type": "long"},
            {"name": "uid", "type": "long"},
        ],
    }

    from kafka_sink_azure_kusto_spark.functions.parallelism import (
        ensure_min_parallelism,
    )

    # widen BEFORE synthesis too: the varint/frame-build codegen would
    # otherwise run inside the one-task scan of the single-file fixture
    # (the repartition below only spreads the PARSE side)
    ev = ensure_min_parallelism(
        load_table(spark, sf_dir, "events").select("event_id", "user_id")
    )
    # the whole frame synthesis is assembled as SQL text and parsed
    # with ONE F.expr — the py4j-free construction path (see the
    # SQL-text construction block in protobuf_io)
    jbody = (
        "CAST(concat('{\"eid\":', CAST(event_id AS STRING), "
        "',\"uid\":', CAST(user_id AS STRING), '}') AS BINARY)"
    )
    pbody = (
        f"concat(unhex('08'), {varint_encode_sql('event_id')}, "
        f"unhex('10'), {varint_encode_sql('user_id')})"
    )
    abody = (
        f"concat({varint_encode_sql(zigzag_encode_sql('event_id'), 6)}, "
        f"{varint_encode_sql(zigzag_encode_sql('user_id'), 6)})"
    )

    def be32(schema_id: int) -> str:
        return f"unhex(lpad(hex({schema_id}), 8, '0'))"

    magic0 = "unhex('00')"
    m = "(event_id % 8)"
    frame = (
        f"CASE WHEN ({m} = 0) THEN concat({magic0}, {be32(1)}, {jbody}) "
        # [0] compresses to 0x00; [1,2] → zz-count 0x04 + 0x02 0x04;
        # [1] → 0x02 0x02 (mismatches handler 2's declared [0])
        f"WHEN ({m} = 1) THEN concat({magic0}, {be32(2)}, unhex('00'), {pbody}) "
        f"WHEN ({m} = 2) THEN concat({magic0}, {be32(99)}, {jbody}) "
        f"WHEN ({m} = 3) THEN concat(unhex('01'), {be32(1)}, {jbody}) "
        f"WHEN ({m} = 4) THEN concat({magic0}, {be32(3)}, {abody}) "
        f"WHEN ({m} = 5) THEN concat({magic0}, {be32(4)}, unhex('040204'), {pbody}) "
        f"WHEN ({m} = 6) THEN concat({magic0}, {be32(2)}, unhex('0202'), {pbody}) "
        f"ELSE concat({magic0}, {be32(1)}) END"
    )
    frame = F.expr(frame)
    # spread AFTER synthesis: the exchange between frame build and frame
    # parse (a) runs the heavy codegen parse on every core (same spread
    # rationale as wire_frame_split) and (b) keeps build and parse in
    # SEPARATE whole-stage-codegen stages — fused, the combined
    # processNext() overflows janino's 64 KB method limit and the whole
    # pipeline silently drops to interpreted execution. Production
    # frames arrive over the wire (Kafka scan) with exactly this break.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    framed = ev.select("event_id", frame.alias("value")).repartition(n_part)
    payload_schema = StructType(
        [StructField("eid", LongType()), StructField("uid", LongType())]
    )
    import json as _json

    proto_fields = {1: ("eid", "int64"), 2: ("uid", "int64")}
    decoded = decode_wire_frames(
        framed,
        handlers={
            1: {"fmt": "json"},
            # codegen_steps=2: the registered message has exactly these
            # two fields — no unknown-field slack, which keeps the fused
            # decode stage inside janino's method limit (the walk is
            # the r7 whole-stage-codegen protobuf decoder; zero Python)
            2: {
                "fmt": "protobuf",
                "proto_field_schema": proto_fields,
                "codegen_steps": 2,
            },
            3: {"fmt": "avro", "avro_schema_json": _json.dumps(avro_schema)},
            4: {
                "fmt": "protobuf",
                "proto_field_schema": proto_fields,
                "message_indexes": [1, 2],
                "codegen_steps": 2,
            },
        },
        schema=payload_schema,
    )
    return decoded.select(
        "event_id",
        "wire_schema_id",
        "wire_status",
        F.col("payload.eid").alias("decoded_eid"),
        F.col("payload.uid").alias("decoded_uid"),
    )


@register(
    "wire_frame_split",
    """
    SELECT event_id,
           CASE WHEN event_id % 8 = 0 THEN 1
                WHEN event_id % 8 = 1 THEN 2
                WHEN event_id % 8 = 2 THEN 3
                WHEN event_id % 8 = 3 THEN 1
                WHEN event_id % 8 = 4 THEN 99
                WHEN event_id % 8 = 5 THEN NULL
                WHEN event_id % 8 = 6 THEN 2
                ELSE 3 END AS wire_schema_id,
           CASE WHEN event_id % 8 IN (0, 1, 2) THEN 'ok'
                WHEN event_id % 8 = 3 THEN 'bad_magic'
                WHEN event_id % 8 = 4 THEN 'unknown_id'
                WHEN event_id % 8 = 5 THEN 'truncated'
                WHEN event_id % 8 = 6 THEN 'unsupported_index'
                ELSE 'unknown_index' END AS wire_status,
           CASE WHEN event_id % 8 = 1 THEN '0'
                WHEN event_id % 8 = 2 THEN '1,2' END AS wire_indexes,
           CASE WHEN event_id % 8 IN (0, 1, 2)
                THEN 8 + LENGTH(CAST(event_id AS VARCHAR)) END AS wire_body_len
    FROM events
    """,
)
def wire_frame_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent wire-format frame SPLIT + ROUTING in isolation — the
    pure-codegen half of `registry_wire_decode`, with NO body decode and
    NO Python anywhere (the frames themselves are synthesized with
    built-in binary expressions: unhex/lpad/hex/concat). Reference
    analog: converter-boundary parse, README.md:147-156.

    Fixture by event_id%8 (body = '{"eid":<id>}' bytes in every case):
      0: id 1 (json, no index)                      → ok
      1: id 2 (protobuf, prefix 0x00 = [0])         → ok, idx [0]
      2: id 3 (protobuf, prefix [1,2] = 0x040204)   → ok, idx [1,2]
      3: magic 0x01                                 → bad_magic
      4: id 99                                      → unknown_id
      5: 3-byte frame                               → truncated
      6: id 2, prefix 0x81 (continuation varint)    → unsupported_index
      7: id 3, prefix 0x00 ≠ declared [1,2]         → unknown_index

    Why split from the decode query (VERDICT r5 #2): the audit/triage
    path must stay on the whole-stage-codegen plan and be graded
    separately from fallback body decode, which drops to an Arrow UDF
    when the spark-protobuf/avro jars are absent."""
    from kafka_sink_azure_kusto_spark.functions.wire_format import wire_frame_audit

    def be32(schema_id: int):
        return F.unhex(F.lpad(F.hex(F.lit(schema_id)), 8, "0"))

    magic0 = F.unhex(F.lit("00"))
    body = F.concat(
        F.lit('{"eid":'), F.col("event_id").cast("string"), F.lit("}")
    ).cast("binary")
    m = F.col("event_id") % 8
    frame = (
        F.when(m == 0, F.concat(magic0, be32(1), body))
        .when(m == 1, F.concat(magic0, be32(2), F.unhex(F.lit("00")), body))
        .when(m == 2, F.concat(magic0, be32(3), F.unhex(F.lit("040204")), body))
        .when(m == 3, F.concat(F.unhex(F.lit("01")), be32(1), body))
        .when(m == 4, F.concat(magic0, be32(99), body))
        .when(m == 5, F.unhex(F.lit("000000")))
        .when(m == 6, F.concat(magic0, be32(2), F.unhex(F.lit("81")), body))
        .otherwise(F.concat(magic0, be32(3), F.unhex(F.lit("00")), body))
    )
    # caller-side spread (the single-split bench artifact, PERF.md r5):
    # only (event_id) bytes move — frames are BUILT after the exchange,
    # so the heavy codegen parse runs on every core. Kafka input in
    # production is already multi-partition; no repartition needed there.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev = load_table(spark, sf_dir, "events").select("event_id").repartition(n_part)
    framed = ev.select("event_id", frame.alias("value"))
    proto_fields = {1: ("eid", "int64")}
    audited = wire_frame_audit(
        framed,
        handlers={
            1: {"fmt": "json"},
            2: {"fmt": "protobuf", "proto_field_schema": proto_fields},
            3: {
                "fmt": "protobuf",
                "proto_field_schema": proto_fields,
                "message_indexes": [1, 2],
            },
        },
    )
    return audited.select(
        "event_id",
        "wire_schema_id",
        "wire_status",
        F.array_join("wire_indexes", ",").alias("wire_indexes"),
        "wire_body_len",
    )


@register(
    "ndjson_encode",
    """
    SELECT event_id,
           '{"event_id":' || event_id || ',"user_id":' || user_id || '}' AS line
    FROM events
    """,
)
def ndjson_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — NDJSON encoding, one bare JSON object per record
    (JsonRecordWriterProvider.java:36-88)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.to_json(F.struct("event_id", "user_id")).alias("line")
    )


@register(
    "csv_encode",
    """
    SELECT event_id,
           event_id || ',' || event_type || ',' || user_id AS line
    FROM events
    """,
)
def csv_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — CSV line encoding with alphabetical field order
    (KustoSinkIT.java:413-415: event_id < event_type < user_id)."""
    from kafka_sink_azure_kusto_spark.functions.encoders import encode_csv_line

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        encode_csv_line(ev, cols=["event_id", "event_type", "user_id"]).alias("line"),
    )


@register(
    "format_coalescing",
    """
    SELECT fmt,
           CASE WHEN fmt IN ('json','singlejson','multijson') THEN 'multijson'
                ELSE fmt END AS ingest_format,
           CASE WHEN fmt IN ('json','singlejson','multijson') THEN 'JSON'
                WHEN fmt = 'avro' THEN 'AVRO'
                WHEN fmt = 'apacheavro' THEN 'APACHEAVRO'
                ELSE 'CSV' END AS mapping_kind
    FROM (SELECT DISTINCT CASE event_type
                 WHEN 'click' THEN 'json' WHEN 'view' THEN 'singlejson'
                 WHEN 'purchase' THEN 'avro' WHEN 'signup' THEN 'apacheavro'
                 ELSE 'csv' END AS fmt FROM events)
    """,
)
def format_coalescing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5/E6 — json/singlejson/multijson all ingest as MULTIJSON
    (KustoSinkTask.java:156-158,186-190) and format → mapping-kind
    inference (:163-174)."""
    from kafka_sink_azure_kusto_spark.config import (
        coalesce_format,
        mapping_kind_for_format,
    )

    ev = load_table(spark, sf_dir, "events")
    fmt = (
        F.when(F.col("event_type") == "click", "json")
        .when(F.col("event_type") == "view", "singlejson")
        .when(F.col("event_type") == "purchase", "avro")
        .when(F.col("event_type") == "signup", "apacheavro")
        .otherwise("csv")
    )
    distinct_fmts = ev.select(fmt.alias("fmt")).distinct()
    # drive the same pure functions the sink uses, compiled into the plan
    coalesce_expr = F.lit(None).cast("string")
    kind_expr = F.lit(None).cast("string")
    for f in ["json", "singlejson", "multijson", "avro", "apacheavro", "csv"]:
        coalesce_expr = F.when(F.col("fmt") == f, coalesce_format(f)).otherwise(
            coalesce_expr
        )
        kind_expr = F.when(F.col("fmt") == f, mapping_kind_for_format(f)).otherwise(
            kind_expr
        )
    return distinct_fmts.select(
        "fmt", coalesce_expr.alias("ingest_format"), kind_expr.alias("mapping_kind")
    )


@register(
    "file_assignment",
    f"""
    WITH k AS ({_COORDS_SQL}),
    sized AS (SELECT topic, "partition", "offset",
                     CAST(length(props) + 1 AS BIGINT) AS serialized_size FROM k),
    seq AS (SELECT *,
              CAST(FLOOR(COALESCE(SUM(serialized_size) OVER (
                   PARTITION BY topic, "partition" ORDER BY "offset"
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / 100.0) AS BIGINT) AS file_seq
            FROM sized)
    SELECT topic, "partition", "offset", file_seq,
           MIN("offset") OVER (PARTITION BY topic, "partition", file_seq) AS file_offset,
           'kafka_' || topic || '_' || "partition" || '_' ||
             MIN("offset") OVER (PARTITION BY topic, "partition", file_seq) ||
             '.multijson.gz' AS file_name
    FROM seq
    """,
)
def file_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1+B4 — size-triggered file rolling (FileWriter.java:296-301) and
    staged-file naming (TopicPartitionWriter.java:235-242) as a window
    prefix-sum over (topic, partition), threshold 100 B."""
    ev = _events_with_coords(spark, sf_dir)
    sized = ev.select(
        "topic",
        "partition",
        "offset",
        (F.length("props") + F.lit(1)).cast("long").alias("serialized_size"),
    )
    assigned = with_file_assignment(sized, flush_size_bytes=100)
    return assigned.select(
        "topic",
        "partition",
        "offset",
        "file_seq",
        "file_offset",
        staged_file_name("multijson").alias("file_name"),
    )


@register(
    "offset_ledger",
    f"""
    WITH k AS ({_COORDS_SQL})
    SELECT topic, "partition",
           CAST(MAX("offset") + 1 AS BIGINT) AS commit_offset,
           COUNT(*) AS records
    FROM k GROUP BY topic, "partition"
    """,
)
def offset_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 — preCommit reports lastCommittedOffset + 1 per partition
    (KustoSinkTask.java:526-546, the +1 bug-fix noted in README.md:768)."""
    ev = _events_with_coords(spark, sf_dir)
    return ev.groupBy("topic", "partition").agg(
        (F.max("offset") + 1).cast("long").alias("commit_offset"),
        F.count(F.lit(1)).alias("records"),
    )


@register(
    "dlq_key_format",
    f"""
    WITH k AS ({_COORDS_SQL})
    SELECT 'Failed to write record to KustoDB with the following kafka coordinates, '
           || 'topic=' || topic || ', partition=' || "partition" || ', offset=' || "offset"
           || '.' AS key,
           props AS value
    FROM k WHERE event_id % 251 = 0
    """,
)
def dlq_key_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 — DLQ record: key = error-coordinates string, value = record
    bytes (TopicPartitionWriter.java:210-233). Every 251st event plays a
    failed record."""
    ev = _events_with_coords(spark, sf_dir)
    return ev.filter(F.col("event_id") % 251 == 0).select(
        F.concat(
            F.lit(
                "Failed to write record to KustoDB with the following kafka coordinates, "
            ),
            F.lit("topic="),
            F.col("topic"),
            F.lit(", partition="),
            F.col("partition").cast("string"),
            F.lit(", offset="),
            F.col("offset").cast("string"),
            F.lit("."),
        ).alias("key"),
        F.col("props").alias("value"),
    )


@register(
    "metrics_counters",
    """
    SELECT CAST(COUNT(*) FILTER (WHERE props IS NOT NULL) AS BIGINT) AS records_written,
           CAST(COUNT(*) FILTER (WHERE props IS NULL) AS BIGINT) AS records_failed
    FROM (SELECT CASE WHEN event_id % 97 = 0 THEN NULL ELSE props END AS props
          FROM events)
    """,
)
def metrics_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — the RecordsWritten/RecordsFailed counter pair as an
    observable aggregation (KustoSinkMetrics.java:17-124)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 97 == 0, None).otherwise(F.col("props")).alias("props")
    )
    return ev.agg(
        F.count(F.col("props")).cast("bigint").alias("records_written"),
        F.count_if(F.col("props").isNull()).cast("bigint").alias("records_failed"),
    )


# =====================================================================
# General analytics surface (bench headliners; Spark-native capability
# the Kusto target would otherwise run — count/filter/project per §2.7)
# =====================================================================


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
               (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — scan + filter + hash aggregate.
    Decimal sums for exact cross-engine equality."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
               (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dim filter → joins → agg → top-k.
    customer is broadcast (small side); deterministic tie-break."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "region_rollup",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey
                  JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join rollup through two broadcast dims (nation, region) —
    the canonical broadcast-chain plan; no shuffle on the dim side."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "window_topn_per_customer",
    """
    SELECT c_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey AS c_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders)
    WHERE rnk <= 2
    """,
)
def window_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-N per group with deterministic tie-break — the
    analytics-side window-function surface."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 2)
    )


@register(
    "event_time_windows",
    """
    SELECT event_type,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def event_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregation (the batch shape of the
    Structured Streaming windowed agg; watermark semantics tested in the
    streaming suite)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("window_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
