"""The benchmark's workloads: which registered queries each one sends.

Both read the same fixed tables, ``DATA_DIR``: a copy of the project's sf0.01
fixture tables (seed 42), so every run of every seed sees the same inputs and
the seed only drives the order of the requests. They are read on every pass,
so warm caches are legitimate, as they are for a long-lived server.

Every registered query must belong to a workload or carry a reason in
``EXCLUDED``; ``check_membership`` enforces it, so a newly registered query
cannot silently escape the benchmark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: passes before the timed ones, the first of them cold; enough that later
    #: passes are no longer getting faster as the JVM compiles hot code
    warmup_passes: int


SERVE_SMALL = Workload(
    "serve_small",
    (
        # relational builders over frame / operators / catalog
        "q1_pricing_summary", "q2_top_orders", "q6_dedup_keep_first", "q18_pivot", "q19_sessionize",
        "q24_grouping_sets",
        # medvedi compat surface
        "c1_arrow_roundtrip",
        # text, dedup and pipeline operators
        "t1_langid", "d1_exact_dedup", "p2_stratified_sample",
    ),
    warmup_passes=4,
)

INGEST_WRITE = Workload(
    "ingest_write",
    (
        # streaming drains into memory sinks
        "st1_tumbling_window", "st3_stream_dedup", "st14_stream_decontaminate", "st15_stream_quality_gate",
        # file sinks and source round trips
        "p10_export_jsonl", "c14_csv_roundtrip",
    ),
    warmup_passes=3,
)

WORKLOADS = {w.name: w for w in (SERVE_SMALL, INGEST_WRITE)}

#: registered queries no workload sends, with the reason.
EXCLUDED: dict[str, str] = {
    "q26_approx_sketches": "alone it takes longer than a whole pass under full evaluation",
    **dict.fromkeys(
        """
        c2_iloc_slice c3_sort_index_rank c4_index_diff c5_duplicated_mask c6_index_accessors
        c7_grouped_map c8_join_fill_defaults c9_join_last_wins
        c10_concat_fill_defaults c11_mdf_dedup_pipeline c12_mdf_explode c13_mdf_fillna_astype
        c15_json_roundtrip c16_orc_roundtrip c17_upsert_merge c18_bucketed_join
        c19_partition_pruned_scan c20_schema_evolution
        d2_token_jaccard d3_minhash_lsh d4_simhash d5_embedding_neardup d6_dedup_clusters
        d7_ngram_jaccard d8_edit_distance
        d9_decontamination d10_semantic_dedup d11_duplicate_spans d12_gram_containment
        d13_repeated_block_removal d14_bloom_decontaminate d15_cross_source_overlap d16_fuzzy_dedup_corpus
        d17_fuzzy_dedup_ingest d18_exact_substring_removal
        s1_cosine_topk s2_ann_ivf s3_kmeans_assign s4_pq_encode s5_pq_adc_topk s6_ivfadc_topk
        s7_ivfadc_rerank s8_ivfadc_residual s9_sq8_topk s10_ivf_sq8_topk s11_ivf_sq8_index s12_ivfadc_index s13_jl_projection_topk
        s14_hamming_topk s15_ivfadc_index_rerank s16_ivfadc_batched_serve
        q3_revenue_by_nation q4_project_cast_rename q5_distinct_segments q7_duplicated_pairs q8_semi_anti_membership
        q9_concat_union q10_explode_tokens
        q11_fillna_isnull_json q12_sort_nulls_topk q13_window_funcs q14_rollup q15_cube q16_setops q17_asof_join
        q20_nonemin_nonemax q21_range_join q22_exists_semijoin q23_custdist q25_above_brand_avg
        q27_sql_shipping_priority q28_local_supplier_volume q29_returned_items
        q30_shipmode_priority q31_grouping_multi q32_array_roundtrip q33_datetime_surface q34_string_surface
        q36_unpivot_metrics q37_ranking_windows q38_multires_rollup q39_percentile_disc
        q40_salted_skew_join q41_range_frame_window q42_grouping_sets
        st2_session_window st4_sliding_window st5_watermark_append st6_stateful_counter
        st7_stream_stream_join st8_stream_static_join st9_stream_ingest st10_stream_lsh_dedup st11_watermarked_dedup
        st12_stream_outer_join st13_stream_index_ingest
        st16_stream_span_flag st17_stream_dedup_ingest st18_stream_substring_removal
        t2_quality_score t3_token_stats t4_fingerprint t5_winnow_fingerprint t6_repetition
        t7_tfidf_topterms t8_collocations t9_pii_redaction t10_boilerplate_filter
        t11_rake_keywords t12_bigram_surprisal t13_readability t14_gopher_rules
        p1_corpus_clean p3_pack_sequences p4_training_pipeline
        p5_shard_shuffle p6_chunk_overlap p7_domain_mixing p8_bpe_merges p9_bpe_segment
        p11_split_leakage
        m1_multimodal_meta m2_media_pipeline m3_audio_pipeline m4_image_ahash_dedup
        m5_audio_fingerprint_dedup m6_video_scene_cuts m7_image_ahash_neardup
        """.split(),
        "left out so that every run, set-up included, fits the benchmark's time budget",
    ),
}


def check_membership(registered: list[str]) -> None:
    """Fail unless every registered query is sent or excluded, and every
    listed query is registered."""
    listed = set(EXCLUDED).union(*(w.queries for w in WORKLOADS.values()))
    missing = sorted(set(registered) - listed)
    unknown = sorted(listed - set(registered))
    if missing or unknown:
        raise SystemExit(
            f"perfbench: workload lists out of date: unlisted queries {missing}, "
            f"unregistered queries {unknown}"
        )
