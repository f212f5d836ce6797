"""Regenerate SCALING.md: measured scaling behavior of the headline
queries across the three test scale factors.

For each bench headline query, run warm (same protocol as bench.py:
untimed warmup, median of 3, cache cleared between runs) at sf0.001,
sf0.01, and sf0.1, then report the observed time ratios against the
100× data growth and a log-log slope ("scaling exponent": 1.0 = linear
in data size, 0.0 = constant / overhead-bound). On a single node small
SFs are overhead-dominated, so the informative number is the
sf0.01→sf0.1 ratio (10× data): a query whose time grows ≤~10× there is
scan/shuffle-bound and scales; super-linear growth flags a quadratic
stage.

    python tools/scale_sweep.py        # rewrites SCALING.md (~10 min)
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE
from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY
from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

SFS = [("0.001", "/root/testdata/sf0.001"), ("0.01", "/root/testdata/sf0.01"), ("0.1", "/root/testdata/sf0.1")]

# r5 verdict item: cover the round-4 operator families beyond the bench
# headliners — the sf0.001→0.1 exponent table is the early-warning
# signal for super-linear pair stages, so the newest pair/recall/
# selection operators belong in it. (q_curation_pipeline_v2 is already
# in HEADLINE as of r5.)
EXTRA = [
    "q_bm25_search",
    "q_incremental_dedup",
    "q_exact_median_distributed",
    "q_containment_pairs",
    "q_lsh_recall",
    "q_ivf_recall",
    "q_split_cluster_safe",
    # round-5 second session: pair/index operators whose cost shape
    # matters at scale (interval bucketing, PQ ADC, k-core peel,
    # per-user grid interpolation)
    "q_interval_join",
    "q_ann_pq",
    "q_k_core",
    "q_resample_interpolate",
    # round-5 third session: the new data-sized operators (sketch
    # builds, surprisal token join, PCA projection scan, retention
    # self-join, gini/lorenz range exchange, EWMA window, nucleus
    # running sum) — constant-output queries whose COST must stay
    # scan-shaped as data grows
    "q_hll_sketch",
    "q_unigram_surprisal",
    "q_pca_projection",
    "q_retention_cohorts",
    "q_gini_concentration",
    "q_ewma_smoother",
    "q_nucleus_selection",
    # round 6: the re-fixed graph family and the new flagships
    # (q_ann_pq / q_k_core already above)
    "q_bfs_levels",
    "q_substring_dedup",
    "q_image_palette",
    "q_dup_spectrum",
    "q_longest_dup_run",
    "q_ann_ivf_pq",
    # round 7: new batch flagships (streaming maintenance queries are
    # excluded — their wall is dominated by the staged micro-batch
    # drain, not a data-shaped plan; scale notes live in docstrings)
    "q_attention_mask",
    "q_shuffled_packing",
    "q_doc_entropy",
    "q_bigram_surprisal",
    "q_holt_linear",
    "q_dp_noise_calibration",
    "q_corpus_overlap",
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
    # round 8 (r7 VERDICT item 3): the full PQ family in ONE table with
    # memo state explicit per row — no more prose-footnote numbers
    "q_pq_recall",
    "q_ivfpq_recall",
    "q_pq_dim_alloc",
    "q_opq_distortion",
    "q_opq_recall",
    "q_pq_rotation",
    # round 8: the suffix-array flagship pair (prefix-doubling build +
    # LCP descent; shared via _SA_MEMO, measured under the same
    # cold/warm memo protocol as the PQ family)
    "q_suffix_array",
    "q_lcp_stats",
    # round 8: corpus tier (data-sized plans)
    "q_bm25_rerank",
    "q_heaps_law",
    "q_kneser_ney",
    "q_edit_distance_verify",
    "q_curriculum_stages",
    "q_data_card",
    "q_vocab_coverage",
    "q_exact_substr_dedup",
    "q_excision_thresholds",
    # round 9: incremental ExactSubstr maintenance + unigram trainer
    "q_incremental_substr_dedup",
    "q_unigram_lm_train",
    "q_unigram_fertility",
    "q_distinct_substrings",
    "q_repeated_phrases",
    "q_cross_source_lcs",
    "q_lsh_band_curve",
    "q_t_closeness",
    "q_source_boilerplate",
    "q_semdedup_curve",
    # round 10: packing/vocab/curation/index-maintenance additions
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

# Queries that share process-global trained/built artifacts via a
# module memo (queries.similarity._RECALL_MEMO: exact ground truth,
# trained codebooks, rotation frames; queries.suffix._SA_MEMO: the
# prefix-doubling frames).  For these the sweep measures BOTH memo
# states: cold = memos cleared before every sample (full train/build +
# search, the round-over-round comparable number) and warm = memo
# populated (steady-state use of the already-built artifact).  The
# train/search split is measured as (cold − warm, warm): the memo holds
# exactly the build-side artifacts, so the cold−warm delta IS the
# build cost (truth derivation + codebook/rotation/SA fitting).
MEMO_FAMILY = {
    "q_ann_pq",
    "q_pq_recall",
    "q_lsh_recall",
    "q_ivf_recall",
    "q_ann_ivf_pq",
    "q_ivfpq_recall",
    "q_pq_dim_alloc",
    "q_opq_distortion",
    "q_opq_recall",
    "q_pq_rotation",
    # q_matryoshka_recall was WRONGLY listed here through r9: it holds
    # no module-memo artifact (its persists are in-query), so its
    # cold/warm columns were two independent measurements of identical
    # work and "warm > cold" was host noise presented as a protocol
    # violation (VERDICT r9 item 5).  It is a plain non-memo row now.
    "q_suffix_array",
    "q_lcp_stats",
    "q_exact_substr_dedup",
    "q_excision_thresholds",
}


def _clear_memo() -> None:
    from spark_delta_lakehouse_nyctaxi_spark.queries import similarity, suffix

    similarity._RECALL_MEMO.clear()
    suffix._SA_MEMO.clear()


def timed(spark, name: str, sf_dir: str, memo: str = "n/a") -> float:
    """Median of 3 with cache cleared between runs.

    memo='cold'  → _RECALL_MEMO cleared before the warmup AND every
                   sample (each run pays full train + search);
    memo='warm'  → warmup populates the memo, samples reuse it
                   (steady-state search);
    memo='n/a'   → query doesn't use the memo; leave it alone.
    """
    fn = REGISTRY[name].fn
    if memo == "cold":
        _clear_memo()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    spark.catalog.clearCache()
    samples = []
    for _ in range(3):
        if memo == "cold":
            _clear_memo()
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(time.time() - t0)
        spark.catalog.clearCache()
    return sorted(samples)[1]


def main() -> None:
    spark = get_spark("scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in HEADLINE + [q for q in EXTRA if q not in HEADLINE]:
        if name in MEMO_FAMILY:
            ts = {label: timed(spark, name, d, memo="cold") for label, d in SFS}
            warm01 = timed(spark, name, SFS[-1][1], memo="warm")
        else:
            ts = {label: timed(spark, name, d) for label, d in SFS}
            warm01 = None
        r_small = ts["0.01"] / ts["0.001"]
        r_big = ts["0.1"] / ts["0.01"]
        # log-log slope over the top decade (the overhead-free regime)
        slope = math.log10(max(r_big, 1e-9))
        rows.append((name, ts, r_small, r_big, slope, warm01))
        print(f"{name}: {ts} 10x-ratio={r_big:.2f} warm0.1={warm01}")

    # Preserve hand-written narrative sections (## ...) appended after
    # the generated table — the per-round decompositions are part of
    # the scaling record and must survive a table refresh.
    narrative = ""
    try:
        with open(os.path.join(ROOT, "SCALING.md")) as f:
            old = f.read()
        idx = old.find("\n## ")
        if idx != -1:
            narrative = old[idx:]
    except FileNotFoundError:
        pass

    with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
        f.write(
            "# SCALING — measured headline-query scaling across SFs\n\n"
            "Generated by `python tools/scale_sweep.py` (same warm/median\n"
            "protocol as bench.py; single node, local[32]). Data grows 10×\n"
            "between adjacent SFs. `t(0.1)/t(0.01)` is the informative\n"
            "ratio: small SFs are fixed-overhead-bound (scheduling, codegen,\n"
            "broadcast setup), so the top decade shows the asymptotic\n"
            "data-bound behavior. `exponent` = log10 of that ratio: 1.0 =\n"
            "linear in data, <1 = still amortizing overhead, >1 =\n"
            "super-linear (a pair stage whose candidate set grows faster\n"
            "than the corpus — expected for near-dup PAIR outputs, which\n"
            "grow with the number of true duplicate pairs, not rows).\n\n"
            "PQ-family rows (ann/recall/OPQ/rotation) state their memo\n"
            "protocol explicitly: the three timed columns are **cold**\n"
            "(`_RECALL_MEMO` cleared before every sample — each run pays\n"
            "full train + search; the round-over-round comparable number);\n"
            "`warm(0.1)` is the steady-state search at sf0.1 with the memo\n"
            "populated; `train(0.1)` = cold − warm is the measured training\n"
            "cost (truth derivation + codebook/rotation fit) — the memo\n"
            "holds exactly the train-side artifacts, so the delta is the\n"
            "split. Non-memo rows show `—`.\n\n"
            "| query | memo | t(sf0.001) s | t(sf0.01) s | t(sf0.1) s | 10× ratio | exponent | warm(0.1) s | train(0.1) s |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, ts, r_small, r_big, slope, warm01 in rows:
            if warm01 is not None:
                memo_col = "cold"
                warm_col = f"{warm01:.3f}"
                train_col = f"{max(ts['0.1'] - warm01, 0.0):.3f}"
            else:
                memo_col, warm_col, train_col = "—", "—", "—"
            f.write(
                f"| {name} | {memo_col} | {ts['0.001']:.3f} | {ts['0.01']:.3f} | "
                f"{ts['0.1']:.3f} | {r_big:.2f}× | {slope:.2f} | {warm_col} | {train_col} |\n"
            )
        f.write(
            "\nReading: every query below ~3× at the 10× step is dominated\n"
            "by fixed per-stage overhead even at sf0.1 (sub-second scans on\n"
            "32 cores) — at cluster scale these become scan-bound and track\n"
            "data size. Ratios near 10× are already data-bound. The\n"
            "interpretation per query family lives in PLANS.md (shuffle\n"
            "counts) and NOTES.md (measured alternatives).\n"
        )
        f.write(narrative)
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
