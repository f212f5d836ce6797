"""Round-10 gates.

1. q_lsh_band_curve / q_lsh_recall must never materialize the exact
   Jaccard truth PAIR SET on the driver (VERDICT r9's only `weak`):
   the pair count is data-dependent, so a collect + literal_frame
   re-broadcast is a driver-OOM at 100 TB.  The gate spies on
   literal_frame during execution and rejects any call whose row count
   could scale with the data (only the constant 4-config seed frame is
   allowed), and asserts the memoized truth artifact is a DataFrame,
   not collected rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY
from spark_delta_lakehouse_nyctaxi_spark.queries import dedup as d
from spark_delta_lakehouse_nyctaxi_spark.operators import local_frames

SF = "/root/testdata/sf0.001"


def test_lsh_band_curve_truth_path_never_hits_driver(spark, monkeypatch):
    calls: list[int] = []
    real = local_frames.literal_frame

    def spy(s, rows, schema):
        rows = list(rows)
        calls.append(len(rows))
        return real(s, rows, schema)

    monkeypatch.setattr(local_frames, "literal_frame", spy)
    d._LSH_TRUTH_MEMO.clear()
    try:
        out = REGISTRY["q_lsh_band_curve"].fn(spark, SF)
        assert out.count() == len(d._BAND_CONFIGS)
        # the only driver-side relation allowed on this path is the
        # constant band-config seed (one row per config)
        assert calls, "expected the 4-row config seed frame"
        assert max(calls) <= len(d._BAND_CONFIGS), (
            f"data-sized literal_frame on the truth path: {calls} — the "
            "exact-truth pair set must stay distributed"
        )
        # the memo holds the distributed frame, not collected scalars
        truth_vals = [
            v for k, v in d._LSH_TRUTH_MEMO.items()
            if k and k[0] == "jaccard_truth_frame"
        ]
        assert truth_vals and all(
            isinstance(v, DataFrame) for v in truth_vals
        )
        assert not any(
            isinstance(v, list) for v in d._LSH_TRUTH_MEMO.values()
        ), "collected truth rows found in _LSH_TRUTH_MEMO"
    finally:
        d._LSH_TRUTH_MEMO.clear()


def test_repeated_phrases_survives_short_docs(spark, tmp_path):
    """ADVICE r9 (medium): sub-8-token docs made the unguarded
    sequence(1, size-7) descend to [1, 0] and slice(t, 0, 8) throw
    INVALID_PARAMETER_VALUE.START; the oracle's range() is simply
    empty there.  Guarded now — a corpus with 1/7/8/9-token docs must
    run, count windows only for the ≥8-token docs, and still find the
    repeated phrase."""
    phrase8 = "a b c d e f g h"
    rows = [
        (1, "x", "en", "s", 1),             # 1 token → 0 windows
        (2, "one two three four five six seven", "en", "s", 1),  # 7 → 0
        (3, phrase8, "en", "s", 1),          # 8 tokens → 1 window
        (4, phrase8 + " i", "en", "s", 1),   # 9 tokens → 2 windows
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sfshort")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    out = REGISTRY["q_repeated_phrases"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.phrase == phrase8
    assert r.n_occurrences == 2 and r.n_docs == 2
    assert r.n_windows == 3  # 0 + 0 + 1 + 2


def test_unigram_segments_raises_past_maxw(spark, tmp_path):
    """ADVICE r9 (low): words longer than _UNI_MAXW silently diverge
    in the oracle's unrolled backtrack — the Spark side must refuse
    loudly instead."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import text as t

    rows = [(1, "short butverylongword here", "en", "s", 1)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sflong")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    with pytest.raises(ValueError, match="_UNI_MAXW"):
        t._unigram_segments(spark, d)


def test_substr_base_index_persists_across_sessions(spark):
    """VERDICT r9 item 7: the ExactSubstr base index is a durable
    VersionedTable artifact.  A TABLE-LOADED incremental run (memos
    cleared, so the state can only come from the artifact) must equal
    the from-scratch full rebuild position-by-position, and the second
    call must LOAD rather than rebuild."""
    import shutil

    from spark_delta_lakehouse_nyctaxi_spark.queries import suffix as sx

    shutil.rmtree(sx._SUBSTR_INDEX_ROOT, ignore_errors=True)
    try:
        # cold: builds and persists
        t, cut = sx.base_index_table(spark, SF)
        assert t.exists()
        v0 = t.history()[0]["version"] if t.history() else 0
        # simulate a NEW session: wipe the in-process memo so the base
        # state can only come from the persisted table
        sx._SA_MEMO.clear()
        merged, cert, cut2 = sx.incremental_dup_lens(spark, SF)
        assert cut2 == cut
        inc = sorted(map(tuple, merged.collect()))
        reb = sorted(map(tuple, sx.position_dup_lens(spark, SF).collect()))
        assert inc == reb
        # the loaded path must not have written a new version
        t2, _ = sx.base_index_table(spark, SF)
        versions = [h["version"] for h in t2.history()]
        assert max(versions) == v0, "second call rebuilt instead of loading"
    finally:
        shutil.rmtree(sx._SUBSTR_INDEX_ROOT, ignore_errors=True)


def test_substr_base_index_rebuilds_pre_schema_artifact(spark):
    """An artifact whose head manifest logs no table schema (written
    before manifests carried one) cannot be read; base_index_table
    rebuilds it once and stamps it, like a pre-fingerprint artifact."""
    import json
    import os
    import shutil

    from spark_delta_lakehouse_nyctaxi_spark.queries import suffix as sx

    shutil.rmtree(sx._SUBSTR_INDEX_ROOT, ignore_errors=True)
    try:
        t, _ = sx.base_index_table(spark, SF)
        fp = os.path.join(t._vlog, f"{t.latest_version():08d}.json")
        with open(fp) as f:
            manifest = json.load(f)
        del manifest["extra"]["schema"]
        with open(fp, "w") as f:
            json.dump(manifest, f)
        t2, _ = sx.base_index_table(spark, SF)
        head = t2.history(limit=1)[0]
        assert head["version"] == manifest["version"] + 1
        assert "schema" in head["extra"]
        assert head["extra"]["base_fingerprint"] == manifest["extra"]["base_fingerprint"]
        assert t2.read().count() == t.read(version=head["version"]).count() > 0
    finally:
        shutil.rmtree(sx._SUBSTR_INDEX_ROOT, ignore_errors=True)


def test_packing_curve_invariants(spark):
    """Internal identities of the packing-policy curve: chunk padding
    only in the final partial sequence, pad-per-doc never beats
    concat-and-chunk on sequence count, efficiencies consistent."""
    rows = REGISTRY["q_packing_curve"].fn(spark, SF).collect()
    assert [r.seq_len for r in rows] == [256, 512, 1024, 2048]
    for r in rows:
        assert 0 <= r.chunk_pad < r.seq_len
        assert r.chunk_n_seqs * r.seq_len == r.total_tokens + r.chunk_pad
        assert r.pad_n_seqs >= r.chunk_n_seqs
        assert r.pad_waste >= r.chunk_pad
        assert 0 < r.pad_efficiency <= r.chunk_efficiency <= 1.0
        assert 0 <= r.chunk_split_docs


def test_epoch_budget_identities(spark):
    rows = REGISTRY["q_epoch_budget"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.served_tokens + r.deficit_tokens == r.target_tokens
        assert r.served_tokens <= 4 * r.n_tokens
        assert r.epochs_needed >= 1
        # served == target exactly when the cap was not binding
        assert (r.deficit_tokens > 0) == (r.epochs_needed > 4)


def test_zipf_fit_shape(spark):
    r = REGISTRY["q_zipf_fit"].fn(spark, SF).collect()[0]
    assert r.n_types > 0 and r.n_tokens >= r.n_types
    # frequency falls with rank: the bits-domain slope must be negative
    assert r.zipf_slope is not None and r.zipf_slope < 0


def test_ivf_append_certificate(spark):
    from spark_delta_lakehouse_nyctaxi_spark.queries.similarity import _auto_k

    rows = REGISTRY["q_ivf_append"].fn(spark, SF).collect()
    # round 11: k is corpus-sized (smallest grid power of two with
    # k*k >= N), no longer the fixed 16
    assert len(rows) == _auto_k(spark, SF)
    tv = rows[0].tv_drift
    assert all(r.tv_drift == tv for r in rows)
    assert 0.0 <= tv <= 1.0
    assert sum(r.n_base for r in rows) > 0
    assert sum(r.n_delta for r in rows) > 0
    for r in rows:
        assert r.n_total == r.n_base + r.n_delta


def test_blocklist_audit_flag_bound(spark):
    rows = REGISTRY["q_blocklist_audit"].fn(spark, SF).collect()
    assert rows
    flagged = rows[0].n_docs_flagged_any
    assert all(r.n_docs_flagged_any == flagged for r in rows)
    # union bound: docs flagged by ANY keyword is at most the sum and
    # at least the max of the per-keyword doc hits
    assert max(r.n_docs_hit for r in rows) <= flagged
    assert flagged <= sum(r.n_docs_hit for r in rows)


def test_conformal_bound_guarantee_shape(spark):
    r = REGISTRY["q_conformal_bound"].fn(spark, SF).collect()[0]
    # the conformal index: ceil(0.9 * (n_cal + 1)), capped at n_cal
    assert r.conformal_k == min((9 * (r.n_cal + 1) + 9) // 10, r.n_cal)
    assert r.q_hat_cents >= 0
    # distribution-free validity holds in expectation at 90%; allow
    # finite-sample slack on the one concrete split
    assert 0.8 <= r.coverage <= 1.0
    assert r.n_test_covered <= r.n_test


def test_nb_label_probe_collapses_to_prior(spark):
    """On this corpus lang is an independent tag over a shared
    vocabulary, so the trained NB model MUST NOT beat the majority
    baseline — the probe's whole point."""
    r = REGISTRY["q_nb_label_probe"].fn(spark, SF).collect()[0]
    assert r.tp + r.fp + r.fn + r.tn == r.n_eval_docs
    assert r.accuracy <= r.majority_share + 1e-12
    assert abs(r.signal_margin - (r.accuracy - r.majority_share)) < 1e-12


def test_bloom_dedup_gate_guarantee(spark):
    """The Bloom no-false-negative guarantee as data, and the basic
    gate identities (flagged ⊇ true duplicates, sane load factor)."""
    r = REGISTRY["q_bloom_dedup_gate"].fn(spark, SF).collect()[0]
    assert r.n_missed_dups == 0
    assert r.n_flagged >= r.n_true_dup
    assert r.n_flagged == r.n_true_dup + r.n_false_pos
    assert 0.0 < r.load_factor < 1.0
    assert abs(r.fpr_bound - r.load_factor**3) < 1e-15


def test_lsh_recall_shares_distributed_truth(spark, monkeypatch):
    calls: list[int] = []
    real = local_frames.literal_frame

    def spy(s, rows, schema):
        rows = list(rows)
        calls.append(len(rows))
        return real(s, rows, schema)

    monkeypatch.setattr(local_frames, "literal_frame", spy)
    d._LSH_TRUTH_MEMO.clear()
    try:
        out = REGISTRY["q_lsh_recall"].fn(spark, SF).collect()
        assert len(out) == 1
        assert not calls or max(calls) <= len(d._BAND_CONFIGS), (
            f"data-sized literal_frame in q_lsh_recall: {calls}"
        )
    finally:
        d._LSH_TRUTH_MEMO.clear()
