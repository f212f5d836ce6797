"""Operator invariants (reference test strategy, SURVEY.md §5):
counts only shrink through filters/dedup; injected duplicates are
removed; LSH candidates cover high-jaccard pairs; approximate sketches
stay near exact answers."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from spark_delta_lakehouse_nyctaxi_spark.operators import dedup as D
from spark_delta_lakehouse_nyctaxi_spark.operators import similarity as S
from spark_delta_lakehouse_nyctaxi_spark.operators import text as T
from spark_delta_lakehouse_nyctaxi_spark.sources.readers import load_table
from tests.conftest import SF_MEDIUM, SF_SMALL


def test_exact_dedup_removes_injected_duplicate(spark):
    # Reference's sharpest semantic test (tests/test_silver.py:42-64):
    # union a duplicate row, dedup returns to original count.
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    n = docs.count()
    dup = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    out = D.exact_dedup(docs.unionByName(dup), ["text"], "doc_id")
    assert out.count() == n
    # survivor is the min doc_id, not the injected one
    assert out.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_minhash_candidates_cover_high_jaccard_pairs(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    sh = D.shingles(docs, "doc_id", "text", 3).persist()
    exact = D.jaccard_pairs(sh, threshold=0.3)
    sig = D.minhash_signatures(sh, 32)
    cand = D.lsh_candidate_pairs(sig, bands=16)  # 2-row bands: high recall
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    cand_pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    missed = exact_pairs - cand_pairs
    assert len(missed) <= max(1, len(exact_pairs) // 10), f"LSH missed {missed}"


def test_simhash_close_for_near_identical_docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again and again today"),
        Row(doc_id=3, text="completely different words about spark shuffle partitions and joins"),
    ]
    df = spark.createDataFrame(rows)
    sigs = {r.id: r.simhash for r in D.simhash(df, "doc_id", "text").collect()}
    ham = lambda a, b: bin((a % 2**64) ^ (b % 2**64)).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_language_id_heuristic(spark):
    rows = [
        Row(doc_id=1, text="the cat and the dog sat in a house of cards"),
        Row(doc_id=2, text="el perro y el gato en la casa de los suenos que ves"),
        Row(doc_id=3, text="zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows)
    out = {r.doc_id: r.lang for r in df.select("doc_id", T.language_id("text").alias("lang")).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_token_and_char_counts(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="  a bb  ccc ")])
    r = df.select(
        T.token_count("text").alias("nt"), T.char_count("text").alias("nc")
    ).first()
    assert r.nt == 3
    assert r.nc == 12


def test_brute_force_topk_self_excluded_and_ranked(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out = S.brute_force_topk(emb, q, k=4).collect()
    assert len(out) == 12
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.sim_rank)
    assert all(sorted(v) == [1, 2, 3, 4] for v in by_q.values())


def test_embedding_near_dups_cell_pruned_matches_allpairs(spark):
    # the cell-pruned default is EXACT: bit-identical pairs and cosines
    # to the O(N²) reference form, at both a loose and a tight threshold
    emb = load_table(spark, SF_SMALL, "embeddings")
    for t in (0.45, 0.95):
        got = sorted(map(tuple, S.embedding_near_dups(emb, threshold=t).collect()))
        ref = sorted(map(tuple, S.embedding_near_dups_allpairs(emb, threshold=t).collect()))
        assert got == ref


def test_brute_force_topk_guards_unbounded_query_side(spark):
    """The exact baseline must refuse a query set past the broadcast
    threshold (its cost is |queries|×|corpus|) and direct callers to
    the IVF/LSH scale paths; None disables the guard explicitly."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    with pytest.raises(ValueError, match="ivf_topk"):
        S.brute_force_topk(emb, emb, k=2, max_query_rows=3)
    # explicit opt-out still runs
    q = emb.filter(F.col("vec_id") < 5)
    assert S.brute_force_topk(emb, q, k=1, max_query_rows=None).count() == 5


def test_embedding_near_dups_ignores_nonfinite_vectors(spark):
    """Round-2 ADVICE (medium): a NaN-norm vector used to poison its
    k-means cell's radius (NaN passes `_n > 0` under Spark's NaN-high
    ordering), silently pruning every pair involving that cell — clean
    pairs included.  Both forms must now drop non-finite vectors and
    still find the clean near-dup pair that shares the dirty vector's
    neighborhood."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),     # near-dup of 0
        (2, [nan, 0.5, 0.5]),        # NaN vector, same neighborhood
        (3, [inf, 0.0, 0.0]),        # Inf vector
        (4, [0.0, 0.0, 0.0]),        # zero norm
        (5, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # few vectors → few cells; force the dirty vectors to share cells
    got = sorted(
        (r.id_a, r.id_b)
        for r in S.embedding_near_dups(emb, threshold=0.95, n_cells=2).collect()
    )
    ref = sorted(
        (r.id_a, r.id_b)
        for r in S.embedding_near_dups_allpairs(emb, threshold=0.95).collect()
    )
    assert got == ref == [(0, 1)]


def test_lsh_topk_subset_of_bruteforce_domain(spark):
    import random

    rng = random.Random(0)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(6)]
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out = S.lsh_topk(emb, q, planes, k=3).collect()
    # ANN returns at most k per query, never the query itself
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert all(len(v) <= 3 for v in by_q.values())


def test_approx_quantiles_ordered_and_bounded(spark):
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    r = REGISTRY["q_approx_quantiles"].fn(spark, SF_SMALL).first()
    orders = load_table(spark, SF_SMALL, "orders")
    mn, mx = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    assert mn <= r.p50 <= r.p95 <= r.p99 <= mx
    exact_p50 = orders.agg(F.expr("percentile(o_totalprice, 0.5)")).first()[0]
    assert abs(r.p50 - exact_p50) / exact_p50 < 0.02


def test_approx_distinct_within_5pct(spark):
    orders = load_table(spark, SF_SMALL, "orders")
    exact = orders.select("o_custkey").distinct().count()
    approx = orders.agg(F.approx_count_distinct("o_custkey").alias("a")).first().a
    assert abs(approx - exact) / exact < 0.05


def test_lsh_grouped_matches_self_join(spark):
    """The bucket-groupBy pair generator must emit exactly the pairs the
    self-join form does (it replaces it in q_minhash_lsh)."""
    docs = load_table(spark, SF_SMALL, "documents")
    arrs = D.doc_shingle_arrays(docs, "doc_id", "text", 3, hashed=True).persist()
    sig = D.minhash_signatures_from_arrays(arrs, 32)
    grouped = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs_grouped(sig, bands=8).collect()}
    joined = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(sig, bands=8).collect()}
    assert grouped == joined and grouped


def test_array_jaccard_matches_exploded(spark):
    """jaccard_pairs_from_arrays == jaccard_pairs on the same candidates."""
    docs = load_table(spark, SF_SMALL, "documents")
    arrs = D.doc_shingle_arrays(docs, "doc_id", "text", 3, hashed=True).persist()
    sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
    cand = D.lsh_candidate_pairs_grouped(D.minhash_signatures_from_arrays(arrs, 32), bands=16)
    via_arrays = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in D.jaccard_pairs_from_arrays(arrs, cand, threshold=0.1).collect()
    }
    via_explode = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in D.jaccard_pairs(sh, pairs=cand, threshold=0.1).collect()
    }
    assert via_arrays == via_explode and via_arrays


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with 16 cells / 4 probes must recover most of the exact
    top-5 neighbors (recall ≥ 0.6 on the synthetic corpus), and must be
    deterministic across invocations."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    cents = S.ivf_centroids(emb, n_centroids=16, iters=2)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(emb, queries, cents, n_probe=4, k=5).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.6
    cents2 = S.ivf_centroids(emb, n_centroids=16, iters=2)
    assert cents == cents2


def test_ivf_probe_autotune(spark):
    """The recall curve is monotone, hits 1.0 when every cell is probed,
    and the tuned probe count actually delivers the target recall on
    the tuning sample (the curve's model: a true neighbor is found iff
    its cell is probed)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    sample = emb.filter(F.col("vec_id") < 20)
    cents = S.ivf_centroids(emb, n_centroids=16, iters=2)
    curve = S.ivf_probe_recall_curve(emb, sample, cents, k=5)
    recalls = [r for _, r in curve]
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0
    n = S.tune_n_probe(emb, sample, cents, k=5, target_recall=0.9)
    assert 1 <= n <= 16
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, sample, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(emb, sample, cents, n_probe=n, k=5).collect()
    }
    assert len(exact & got) / len(exact) >= 0.9


def test_sampling_operators(spark):
    """Deterministic samplers: split partitions the table and is stable
    across invocations; quotas cap every stratum; mixture rates bound
    each stratum's kept fraction."""
    from spark_delta_lakehouse_nyctaxi_spark.operators import sampling as SA

    docs = load_table(spark, SF_SMALL, "documents").persist()
    n = docs.count()
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    s1 = SA.hash_split(docs, "doc_id", splits)
    by = {r.split: r["count"] for r in s1.groupBy("split").count().collect()}
    assert sum(by.values()) == n and set(by) <= {"train", "val", "test"}
    assert by["train"] > by.get("val", 0)  # 80% really dominates
    s2 = {(r.doc_id, r.split) for r in SA.hash_split(docs, "doc_id", splits).collect()}
    assert s2 == {(r.doc_id, r.split) for r in s1.collect()}  # stable

    q = SA.stratified_quota(docs, "lang", "doc_id", 5)
    assert q.groupBy("lang").count().agg(F.max("count")).collect()[0][0] <= 5

    mix = SA.weighted_mixture(docs, "lang", "doc_id", {"en": 1.0}, default_rate=0.0)
    kept = {r.lang for r in mix.select("lang").distinct().collect()}
    assert kept == {"en"}
    assert mix.count() == docs.filter("lang = 'en'").count()
    docs.unpersist()


def test_duplicate_clusters_resolution(spark):
    """Label propagation on a known graph: two chains and an isolated
    pair resolve to component minima; resolve_duplicates keeps exactly
    one survivor per component plus all unclustered rows."""
    from spark_delta_lakehouse_nyctaxi_spark.operators.dedup import (
        duplicate_clusters,
        resolve_duplicates,
    )

    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    got = {(r.id, r.cluster_id) for r in duplicate_clusters(pairs).collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20)}
    assert got == want

    docs = spark.range(0, 25).withColumnRenamed("id", "doc_id")
    kept = {
        r.doc_id
        for r in resolve_duplicates(
            docs, duplicate_clusters(pairs), "doc_id"
        ).collect()
    }
    clustered = {i for i, _ in want}
    assert kept == (set(range(25)) - clustered) | {1, 10, 20}


def test_duplicate_clusters_distributed_path(spark):
    """The distributed label-propagation loop (forced by
    local_threshold=0) must agree with the union-find fallback."""
    from spark_delta_lakehouse_nyctaxi_spark.operators.dedup import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    via_loop = {
        (r.id, r.cluster_id)
        for r in duplicate_clusters(pairs, local_threshold=0).collect()
    }
    via_uf = {(r.id, r.cluster_id) for r in duplicate_clusters(pairs).collect()}
    assert via_loop == via_uf


def test_duplicate_clusters_self_loop_only_node(spark):
    """A node that appears only in (x, x) pairs is its own cluster on
    both paths: union-find labels it (x, x), and the distributed
    star-contraction path must not drop it with the self-loop edges."""
    from spark_delta_lakehouse_nyctaxi_spark.operators.dedup import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame([(5, 5), (1, 2), (2, 2)], "id_a long, id_b long")
    via_loop = {
        (r.id, r.cluster_id)
        for r in duplicate_clusters(pairs, local_threshold=0).collect()
    }
    via_uf = {(r.id, r.cluster_id) for r in duplicate_clusters(pairs).collect()}
    assert via_uf == {(5, 5), (1, 1), (2, 1)}
    assert via_loop == via_uf


def test_freq_items_superset_of_true_heavy_hitters(spark):
    """freqItems may over-report but must contain every key whose true
    frequency is >= the support threshold."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    got = {
        r.o_custkey
        for r in REGISTRY["q_freq_items"].fn(spark, SF_MEDIUM).collect()
    }
    orders = load_table(spark, SF_MEDIUM, "orders")
    n = orders.count()
    true_heavy = {
        r.o_custkey
        for r in orders.groupBy("o_custkey")
        .count()
        .filter(F.col("count") >= 0.02 * n)
        .collect()
    }
    assert true_heavy <= got


def test_read_csv_robust_modes(spark, tmp_path):
    """Malformed-row policies: PERMISSIVE quarantines the raw line in
    _corrupt_record, DROPMALFORMED drops it, FAILFAST raises."""
    from spark_delta_lakehouse_nyctaxi_spark.sources.readers import read_csv_robust

    p = str(tmp_path / "rows.csv")
    with open(p, "w") as f:
        f.write("id,v\n1,10\n2,notanumber\n3,30\n")
    schema = "id int, v int"

    perm = read_csv_robust(spark, p, schema, mode="PERMISSIVE").collect()
    by_id = {r.id: r for r in perm}
    assert by_id[1].v == 10 and by_id[3].v == 30
    bad = [r for r in perm if r._corrupt_record is not None]
    assert len(bad) == 1 and "notanumber" in bad[0]._corrupt_record

    dropped = read_csv_robust(spark, p, schema, mode="DROPMALFORMED")
    assert {r.id for r in dropped.collect()} == {1, 3}

    with pytest.raises(Exception):
        read_csv_robust(spark, p, schema, mode="FAILFAST").collect()


def test_duplicate_clusters_distributed_path_converges(spark):
    # local_threshold=0 forces the label-propagation loop; two
    # components resolve to their min ids, result is leak-free
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {
        (r.id, r.cluster_id)
        for r in D.duplicate_clusters(pairs, local_threshold=0).collect()
    }
    assert out == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    # a 10-hop chain cannot converge in 2 min-label rounds; silent
    # wrong labels must not escape
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(pairs, max_iter=2, local_threshold=0)


def test_lsh_hot_bucket_guard_parity_on_testdata(spark):
    # the max_bucket_size=1000 default in q_minhash_lsh must be a no-op
    # on the testdata corpus (no bucket approaches the cap), while a
    # tiny cap visibly drops pairs — proving the guard is live
    docs = load_table(spark, SF_SMALL, "documents")
    arrs = D.doc_shingle_arrays(docs, "doc_id", "text", 3, hashed=True).persist()
    sig = D.minhash_signatures_from_arrays(arrs, 32)
    capped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs_grouped(sig, bands=8, max_bucket_size=1000).collect()
    }
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs_grouped(sig, bands=8).collect()
    }
    assert capped == uncapped and capped
    tiny = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs_grouped(sig, bands=8, max_bucket_size=1).collect()
    }
    assert tiny == set()


def test_md5_id_matches_duckdb(spark):
    """md5_id (conv of the first 15 md5 hex chars) must equal DuckDB's
    ('0x'||substr(md5(x),1,15))::BIGINT — the parity the q_minhash_lsh
    and q_simhash value oracles stand on. Includes UTF-8 multibyte."""
    import duckdb

    vals = ["hello", "world", "döc ümlaut", "", "a b  c", "123"]
    df = spark.createDataFrame([(v,) for v in vals], ["t"])
    got = {r.t: r.h for r in df.select("t", D.md5_id("t").alias("h")).collect()}
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT t, ('0x'||substr(md5(t),1,15))::BIGINT FROM (SELECT unnest(?) AS t)",
            [vals],
        ).fetchall()
    )
    assert got == want


def test_linear_minhash_exact_bands_match_hashed_bands(spark):
    """The engine-reproducible pipeline (md5 shingle ids, linear
    permutation mins, exact-content band keys) must produce the same
    candidate set as xxhash64-banded buckets over the SAME signatures —
    band hashing only relabels buckets (absent a 2^-64 collision)."""
    docs = load_table(spark, SF_SMALL, "documents")
    arrs = D.doc_shingle_arrays(docs, "doc_id", "text", 3, hashed="md5").persist()
    sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
    sig = D.minhash_signatures_linear(sh, D.linear_hash_coeffs(32)).persist()
    exact = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs_grouped(sig, bands=8, exact_keys=True).collect()
    }
    hashed = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs_grouped(sig, bands=8, exact_keys=False).collect()
    }
    assert exact == hashed and exact
    arrs.unpersist()
    sig.unpersist()


def test_simhash_md5_close_for_near_identical_docs(spark):
    """Hamming-distance semantics carry over to the oracled md5/60-bit
    family (the one q_simhash registers)."""
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again and again today"),
        Row(doc_id=3, text="completely different words about spark shuffle partitions and joins"),
    ]
    df = spark.createDataFrame(rows)
    sigs = {
        r.id: r.simhash
        for r in D.simhash(df, "doc_id", "text", bits=60, hash_fn="md5").collect()
    }
    assert all(0 <= s < 2**60 for s in sigs.values())  # 60-bit, nonnegative
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_pii_scrub_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@example.org or call 212-555-0199 ok"),
            (2, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.clean, r.n)
        for r in df.select(
            "doc_id",
            T.scrub_pii("text").alias("clean"),
            T.pii_count("text").alias("n"),
        ).collect()
    }
    assert out[1] == ("mail me at [EMAIL] or call [PHONE] ok", 2)
    assert out[2] == ("no pii here at all", 0)


def test_token_ngrams_and_top_token(spark):
    df = spark.createDataFrame([(1, "a b a b a"), (2, "x y")], "doc_id long, text string")
    rows = {
        r.doc_id: (r.grams, r.top)
        for r in df.select(
            "doc_id",
            T.token_ngrams("text", 3).alias("grams"),
            T.top_token_count("text").alias("top"),
        ).collect()
    }
    assert rows[1] == (["a b a", "b a b", "a b a"], 3)
    assert rows[2] == ([], 1)  # shorter than n -> empty gram list


def test_prefix_filter_candidates_exact_parity(spark):
    """AllPairs prefix filtering must reproduce the naive co-shingle
    join's pairs EXACTLY (it replaces it in every registered jaccard
    path) while generating strictly fewer candidates."""
    docs = load_table(spark, SF_SMALL, "documents")
    arrs = D.doc_shingle_arrays(docs, "doc_id", "text", 3, hashed=True).persist()
    sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
    for t in (0.1, 0.3):
        naive = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in D.jaccard_pairs(sh, threshold=t).collect()
        }
        cand = D.prefix_filter_candidates(sh, t)
        pf = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in D.jaccard_pairs_from_arrays(arrs, cand, threshold=t).collect()
        }
        assert pf == naive
    n_cand = D.prefix_filter_candidates(sh, 0.3).count()
    n_all = D.jaccard_pairs(sh, threshold=0.0).count()
    assert n_cand < n_all


def test_jaccard_pairs_grouped_exact_parity(spark):
    """The no-join bucket-grouped pair form must reproduce the
    self-join form's pairs EXACTLY (it replaces it on the under-budget
    branch of jaccard_pairs_adaptive)."""
    docs = load_table(spark, SF_SMALL, "documents")
    arrs = D.doc_shingle_arrays(docs, "doc_id", "text", 3, hashed=True).persist()
    sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
    for t in (0.0, 0.1, 0.3):
        joined = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in D.jaccard_pairs(sh, threshold=t).collect()
        }
        grouped = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in D.jaccard_pairs_grouped(arrs, threshold=t).collect()
        }
        assert grouped == joined and (t > 0.0 or grouped)
    arrs.unpersist()


def test_jaccard_adaptive_both_branches_identical(spark):
    """The cost-based pair join must give identical pairs whichever
    physical branch the budget selects."""
    docs = load_table(spark, SF_SMALL, "documents")
    naive_branch = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in D.jaccard_pairs_adaptive(
            docs, "doc_id", "text", 0.1, pair_budget=10**12
        ).collect()
    }
    prefix_branch = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in D.jaccard_pairs_adaptive(
            docs, "doc_id", "text", 0.1, pair_budget=0
        ).collect()
    }
    assert naive_branch == prefix_branch and naive_branch


def test_mllib_minhash_agrees_with_native_pipeline(spark):
    """The stock MLlib MinHashLSH path over the same shingle sets must
    find the same high-similarity pairs as the native array pipeline
    (both are LSH-candidates + exact-jaccard filters at 0.1)."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    native_rows = REGISTRY["q_minhash_lsh"].fn(spark, SF_SMALL).collect()
    mllib_rows = REGISTRY["q_minhash_mllib"].fn(spark, SF_SMALL).collect()
    native = {(r.id_a, r.id_b) for r in native_rows}
    mllib = {(r.id_a, r.id_b) for r in mllib_rows}
    assert native and mllib
    # Exact set equality between two different LSH hash families is NOT
    # guaranteed (candidate recall differs near the threshold, and the
    # MLlib side measures Jaccard over HashingTF-collided indices) — a
    # round-2 ADVICE item flagged the old `native == mllib` assertion as
    # brittle.  The contract both paths do guarantee: every STRONG pair
    # (exact Jaccard well above the 0.1 threshold) survives banding with
    # overwhelming probability in both families.
    strong_native = {(r.id_a, r.id_b) for r in native_rows if r.jaccard >= 0.3}
    strong_mllib = {(r.id_a, r.id_b) for r in mllib_rows if r.jaccard_sim >= 0.3}
    assert strong_native <= mllib
    assert strong_mllib <= native


def test_segment_dedup_excises_repeated_spans(spark):
    """Span-level dedup: a 10-token span pasted into a second document
    is excised there (first occurrence by doc id/position survives);
    distinct tails survive; token accounting is exact."""
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    rows = [
        Row(doc_id=1, text=base + " a b c"),
        Row(doc_id=2, text=base + " x y z"),
        Row(doc_id=3, text="p q r s t u v w0b y0 p2 q2"),
    ]
    df = spark.createDataFrame(rows)
    marked = D.segment_dedup(D.document_segments(df, "doc_id", "text", seg_len=10))
    kept = {(r.id, r.seg_idx) for r in marked.filter("kept").collect()}
    assert (1, 0) in kept and (2, 0) not in kept  # repeat excised
    assert (1, 1) in kept and (2, 1) in kept      # distinct tails survive
    toks = {
        (r.id, r.seg_idx): r.seg_tokens for r in marked.collect()
    }
    assert toks[(1, 0)] == 10 and toks[(1, 1)] == 3 and toks[(3, 1)] == 1


def test_shuffle_shards_is_stable_permutation(spark):
    """Every row lands in exactly one shard with a contiguous 1..k rank,
    and the full (shard, pos) assignment is identical under any input
    partitioning — a reproducible global shuffle with no global sort."""
    from collections import defaultdict

    from spark_delta_lakehouse_nyctaxi_spark.operators import sampling as SA

    docs = load_table(spark, SF_SMALL, "documents")
    out = SA.shuffle_shards(docs, "doc_id", 8).collect()
    assert len(out) == docs.count()
    by = defaultdict(list)
    for r in out:
        by[r.shard].append(r.pos)
    assert set(by) == set(range(8))  # 500 docs: every shard populated
    for ps in by.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    out2 = SA.shuffle_shards(docs.repartition(7), "doc_id", 8).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in out} == {
        (r.doc_id, r.shard, r.pos) for r in out2
    }


def test_token_budget_prefix_selection(spark):
    """Budget-capped selection keeps a clean hash-order prefix per
    stratum: running totals never exceed the budget, the very next doc
    in hash order would, and the selection is partitioning-independent."""
    from spark_delta_lakehouse_nyctaxi_spark.operators import sampling as SA

    docs = load_table(spark, SF_SMALL, "documents")
    sel = SA.token_budget_select(docs, "lang", "doc_id", T.token_count("text"), 2000)
    rows = sel.collect()
    assert rows and max(r.cum_tokens for r in rows) <= 2000
    per_lang_sel = {
        r.lang: r.n for r in sel.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    per_lang_all = {
        r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_lang_sel) == set(per_lang_all)
    assert all(per_lang_sel[k] < per_lang_all[k] for k in per_lang_all)  # strict subset
    sel2 = SA.token_budget_select(
        docs.repartition(5), "lang", "doc_id", T.token_count("text"), 2000
    )
    assert {r.doc_id for r in rows} == {r.doc_id for r in sel2.collect()}


def test_mixture_rates_solver(spark):
    """The mixture solver takes the bottleneck source whole (rate 1.0)
    and downsamples the rest so expected rows realize the target mixture
    exactly."""
    import pytest as _pytest

    from spark_delta_lakehouse_nyctaxi_spark.operators import sampling as SA

    targets = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    docs = load_table(spark, SF_SMALL, "documents")
    out = {r.source: r for r in SA.mixture_rates(docs, "source", targets).collect()}
    assert set(out) == set(targets)
    assert all(0.0 < r.sample_rate <= 1.0 + 1e-12 for r in out.values())
    assert max(r.sample_rate for r in out.values()) == _pytest.approx(1.0)
    total = sum(r.expected_rows for r in out.values())
    for s, p in targets.items():
        assert out[s].expected_rows / total == _pytest.approx(p)


def test_nearest_centroid_matches_bruteforce_argmax(spark):
    """Projection-based assignment equals the explicit per-centroid
    cosine argmax (lowest-cid tie-break); zero-norm vectors excluded."""
    from spark_delta_lakehouse_nyctaxi_spark.operators import similarity as S

    emb = load_table(spark, SF_SMALL, "embeddings")
    cents = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    got = {r.vec_id: r.centroid_id for r in S.nearest_centroid(emb, cents).collect()}
    import math

    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return d / (na * nb)

    for vid, v in vecs.items():
        best = max(cents, key=lambda c: (cos(v, c[1]), -c[0]))[0]
        assert got[vid] == best, vid

    # zero-norm vector is dropped, not mis-assigned
    zero = spark.createDataFrame([(999, [0.0] * 64)], "vec_id long, embedding array<float>")
    assert S.nearest_centroid(zero, cents).count() == 0


def test_curation_funnel_consistent_with_direct_counts(spark):
    """Funnel stages agree with independently-computed filters and the
    exact-dedup survivor count."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    row = REGISTRY["q_curation_funnel"].fn(spark, SF_SMALL).collect()[0]
    docs = load_table(spark, SF_SMALL, "documents")
    n = docs.count()
    passed = docs.filter((F.col("n_chars") >= 100) & (T.token_count("text") >= 20))
    assert row.n_total == n
    assert row.n_after_tokens == passed.count()
    assert row.n_after_dedup == passed.select(F.md5("text")).distinct().count()
    assert row.n_after_dedup <= row.n_after_tokens <= row.n_after_length <= n
    assert row.viol_short == docs.filter(F.col("n_chars") < 100).count()


def test_pagerank_matches_python_simulation_exactly(spark):
    """The decimal-rounded-contribution formulation is deterministic
    enough to match a pure-Python simulation of the same arithmetic
    bit-for-bit, under any input partitioning."""
    from decimal import Decimal, ROUND_HALF_UP

    from spark_delta_lakehouse_nyctaxi_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iters=5).collect()}

    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        s = {v: Decimal(0) for v in nodes}
        for u, v in edges:
            c = Decimal(rank[u] / outdeg[u]).quantize(
                Decimal("1e-12"), rounding=ROUND_HALF_UP
            )
            s[v] += c
        rank = {v: (1.0 - 0.85) / n + 0.85 * float(s[v]) for v in nodes}
    assert got == rank

    got2 = {r.node: r.rank for r in pagerank(df.repartition(7), iters=5).collect()}
    assert got2 == got


def test_pagerank_mass_and_ordering(spark):
    """No dangling nodes (symmetric graph) → total rank mass stays ~1;
    a hub with more in-links outranks a leaf."""
    from spark_delta_lakehouse_nyctaxi_spark.operators.graph import pagerank

    # star: hub 0 connected to 1..4, symmetric
    pairs = [(0, i) for i in range(1, 5)]
    sym = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(sym, "src long, dst long")
    ranks = {r.node: r.rank for r in pagerank(df, iters=10).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[0] > ranks[1]


def test_outlier_iqr_removes_tail_and_respects_fences(spark):
    """The per-type Tukey filter really removes tail events (the
    testdata value column has a heavy tail), keeps every inlier, and
    every surviving value sits inside its own type's fences."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    events = load_table(spark, SF_SMALL, "events")
    kept = REGISTRY["q_outlier_iqr"].fn(spark, SF_SMALL)
    n_all, n_kept = events.count(), kept.count()
    assert 0 < n_kept < n_all
    fences = {
        r.event_type: (r.q1 - 1.5 * (r.q3 - r.q1), r.q3 + 1.5 * (r.q3 - r.q1))
        for r in events.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.25)).alias("q1"),
            F.percentile("value", F.lit(0.75)).alias("q3"),
        )
        .collect()
    }
    for r in kept.collect():
        lo, hi = fences[r.event_type]
        assert lo <= r.value <= hi


def test_resample_ffill_dense_grid_and_fill(spark):
    """Resampling makes each user's series dense over their span (one
    row per hour), the fill is total (no NULLs), real gaps exist and
    carry the last observed hourly average forward."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    out = REGISTRY["q_resample_ffill"].fn(spark, SF_SMALL)
    assert out.filter(F.col("value_ffill").isNull()).count() == 0
    gaps = out.filter(F.col("n_obs") == 0).count()
    assert gaps > 0  # sparse stream → real gaps were filled
    # one user's series: contiguous hours, gap rows repeat the previous
    # observed value
    uid = out.select("user_id").first().user_id
    rows = out.filter(F.col("user_id") == uid).orderBy("hour").collect()
    hours = [r.hour for r in rows]
    assert all(
        (b - a).total_seconds() == 3600 for a, b in zip(hours, hours[1:])
    )
    last_obs = None
    for r in rows:
        if r.n_obs == 0:
            assert r.value_ffill == last_obs
        last_obs = r.value_ffill


def test_lm_score_probability_semantics(spark):
    """Bigram-model scores are probabilities (0 < p ≤ 1), per-prefix
    probabilities sum to 1, and a document made of corpus boilerplate
    scores higher than one with unique continuations."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    out = REGISTRY["q_lm_score"].fn(spark, SF_SMALL)
    rows = out.collect()
    assert rows and all(0.0 < r.mean_bigram_prob <= 1.0 for r in rows)
    docs = load_table(spark, SF_SMALL, "documents")
    big = docs.select(F.explode(T.token_ngrams("text", 2)).alias("bg"))
    # every per-prefix conditional distribution must sum to 1
    from pyspark.sql.window import Window

    cond = (
        big.groupBy("bg").count()
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .withColumn("tot", F.sum("count").over(Window.partitionBy("w1")))
        .withColumn("p", F.col("count") / F.col("tot"))
        .groupBy("w1")
        .agg(F.sum("p").alias("s"))
    )
    bad = cond.filter(F.abs(F.col("s") - 1.0) > 1e-9).count()
    assert bad == 0


def test_drift_chisq_detects_injected_shift(spark):
    """Chi-square drift: identical halves score ~0; shifting the second
    half's values by a constant inflates the statistic by orders of
    magnitude."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    base = REGISTRY["q_drift_chisq"].fn(spark, SF_SMALL)
    rows = {r.event_type: r.chi_sq for r in base.collect()}
    assert rows and all(v >= 0 for v in rows.values())
    # same-vs-same sanity: a distribution compared to itself is chi² 0
    ev = load_table(spark, SF_SMALL, "events").select("event_type", "value")
    b = ev.groupBy("event_type", F.floor(F.col("value") / 50.0).alias("bucket")).count()
    tot = b.groupBy("event_type").agg(F.sum("count").alias("t"))
    same = (
        b.join(tot, "event_type")
        .select(
            "event_type",
            ((F.col("count") - (F.col("count") / F.col("t")) * F.col("t")) ** 2).alias("d"),
        )
        .agg(F.sum("d"))
        .first()[0]
    )
    assert abs(same) < 1e-6


def test_vocab_gini_bounds_and_degenerate_case(spark):
    """Gini impurity lies in [0, 1 - 1/vocab]; a single-token corpus
    scores exactly 0 (no diversity)."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    out = REGISTRY["q_vocab_gini"].fn(spark, SF_SMALL).collect()
    assert out
    for r in out:
        assert 0.0 <= r.gini_impurity <= 1.0 - 1.0 / r.vocab_size + 1e-12
    # degenerate: every token identical → impurity 0
    from spark_delta_lakehouse_nyctaxi_spark.queries.text import q_vocab_gini  # noqa: F401

    one = spark.createDataFrame(
        [(1, "aa aa aa", "xx"), (2, "aa aa", "xx")],
        "doc_id long, text string, lang string",
    )
    tok = one.select("lang", F.explode(T.tokens("text")).alias("w"))
    counts = tok.groupBy("lang", "w").count()
    assert counts.count() == 1  # single vocab entry


def test_event_funnel_strict_ordering(spark):
    """A purchase BEFORE the user's first view must not count — the
    funnel anchors each stage after the previous one."""
    import datetime as dt

    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    t0 = dt.datetime(2024, 1, 1)
    mk = lambda s: t0 + dt.timedelta(minutes=s)  # noqa: E731
    rows = [
        # user 1: view → click → purchase (full conversion)
        (1, 1, mk(0), "view"), (2, 1, mk(1), "click"), (3, 1, mk(2), "purchase"),
        # user 2: purchase then view then click (purchase must NOT count)
        (4, 2, mk(0), "purchase"), (5, 2, mk(1), "view"), (6, 2, mk(2), "click"),
        # user 3: click before view only (click must NOT count)
        (7, 3, mk(0), "click"), (8, 3, mk(1), "view"),
        # user 4: never views
        (9, 4, mk(0), "click"), (10, 4, mk(1), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    # replicate the query body inline on this hand-built frame
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    c = ev.join(v, "user_id").groupBy("user_id").agg(
        F.min(F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")), F.col("ts"))).alias("t_click")
    )
    p = ev.join(c, "user_id").groupBy("user_id").agg(
        F.min(F.when((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")), F.col("ts"))).alias("t_purch")
    )
    r = v.join(c, "user_id").join(p, "user_id").agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purch").alias("n_purch"),
    ).first()
    assert (r.n_users, r.n_view, r.n_click, r.n_purch) == (4, 3, 2, 1)
    # and the registered query runs on the real events table
    out = REGISTRY["q_event_funnel"].fn(spark, SF_SMALL).first()
    assert out.n_users >= out.n_view >= out.n_click_after_view >= out.n_purchase_after_click > 0


def test_markov_transitions_rows_and_stochastic(spark):
    """Every per-prev probability row sums to 1 and transition counts
    cover exactly n_events - n_users pairs."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    out = REGISTRY["q_markov_transitions"].fn(spark, SF_SMALL)
    rows = out.collect()
    ev = load_table(spark, SF_SMALL, "events")
    n_pairs = ev.count() - ev.select("user_id").distinct().count()
    assert sum(r.n_transitions for r in rows) == n_pairs
    from collections import defaultdict
    by_prev = defaultdict(float)
    for r in rows:
        by_prev[r.prev] += r.prob
    assert all(abs(s - 1.0) < 1e-9 for s in by_prev.values())


def test_cohort_retention_triangle(spark):
    """Hand-built two-cohort fixture: retention counts per (cohort,
    offset) match expectations, including a user skipping a week."""
    import datetime as dt

    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    monday = dt.datetime(2024, 1, 1)  # a Monday
    rows = [
        # cohort A (week 0): u1 active weeks 0,1,2; u2 active weeks 0,2 (skips 1)
        (1, 1, monday), (2, 1, monday + dt.timedelta(days=7)),
        (3, 1, monday + dt.timedelta(days=14)),
        (4, 2, monday + dt.timedelta(days=2)), (5, 2, monday + dt.timedelta(days=15)),
        # cohort B (week 1): u3 active weeks 1,2 (offsets 0,1)
        (6, 3, monday + dt.timedelta(days=8)), (7, 3, monday + dt.timedelta(days=14)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz")
    firstw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    act = (
        ev.join(firstw, "user_id")
        .select(
            "user_id", "cohort",
            (F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort")) / 7)
            .cast("long").alias("off"),
        )
        .distinct()
    )
    got = {
        (str(r.cohort), r.off): r.n
        for r in act.groupBy("cohort", "off").agg(F.count("*").alias("n")).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2, ("2024-01-01", 1): 1, ("2024-01-01", 2): 2,
        ("2024-01-08", 0): 1, ("2024-01-08", 1): 1,
    }
    # registered query: offsets non-negative, cohort totals monotone at offset 0
    out = REGISTRY["q_cohort_retention"].fn(spark, SF_SMALL).collect()
    assert out and all(r.week_offset >= 0 for r in out)


def test_triangle_counts_known_graph(spark):
    """K3 {1,2,3} plus pendant edge (3,4): exactly one triangle, each
    member counted once, the pendant node absent."""
    from spark_delta_lakehouse_nyctaxi_spark.operators.graph import triangle_counts

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    got = {r.node: r.n_triangles for r in triangle_counts(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    # two triangles sharing edge (1,2): {1,2,3} and {1,2,4}
    pairs2 = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)], "id_a long, id_b long"
    )
    got2 = {r.node: r.n_triangles for r in triangle_counts(pairs2).collect()}
    assert got2 == {1: 2, 2: 2, 3: 1, 4: 1}


def test_importance_weights_favor_target_language(spark):
    """DSIR weights must rank target-language (en) docs above the
    farthest-from-target language on average — the selection signal
    the resampling step consumes."""
    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang")
    w = REGISTRY["q_importance_weights"].fn(spark, SF_SMALL).join(docs, "doc_id")
    rows = w.groupBy("lang").agg(F.avg("dsir_weight").alias("m")).collect()
    means = {r.lang: r.m for r in rows}
    assert means["en"] > means["zh"]


def test_exact_ivf_frame_matches_expression_scores(spark):
    """The frame form (exploded join + scaled-long aggregate) must
    produce bit-identical assignment scores to the per-row expression
    form — they share the tie-free DECIMAL(16,12) term rounding and
    exact long sums, differing only in execution shape."""
    emb = load_table(spark, SF_SMALL, "embeddings").limit(40)
    cents = S.ivf_centroids(emb, n_centroids=4, iters=1, exact=True)
    frame = {
        (r.id, r.cid): r.s
        for r in S.exact_cell_scores_frame(emb, cents).collect()
    }
    expr_rows = emb.select(
        F.col("vec_id").alias("id"),
        S._exact_cell_scores(F.col("embedding"), cents).alias("ss"),
    ).collect()
    expr = {(r.id, cid): s for r in expr_rows for cid, s in enumerate(r.ss)}
    assert frame == expr and frame


def test_exact_ivf_recall_close_to_default_pipeline(spark):
    """The md5/decimal-exact IVF must behave like the xxhash64/double
    pipeline: same index quality on the testdata (both find most
    brute-force neighbors at 4 probes)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    truth = {(r.query_id, r.neighbor_id) for r in S.brute_force_topk(emb, q, k=3).collect()}
    cents = S.ivf_centroids(emb, n_centroids=8, iters=2, exact=True)
    got = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(emb, q, cents, n_probe=4, k=3, exact=True).collect()
    }
    assert len(truth & got) / len(truth) >= 0.6


def test_pysource_pushdown_contract_is_load_bearing(spark, tmp_path):
    """Spark must NOT re-apply filters the connector accepted — so the
    q_pysource_pushdown value oracle genuinely certifies connector-side
    filtering. Proven by a deliberately broken reader that claims the
    filters but ignores them: its rows LEAK."""
    import json

    from pyspark.sql import functions as F

    from spark_delta_lakehouse_nyctaxi_spark.sources.pysource import (
        JsonlPushdownDataSource,
        JsonlPushdownReader,
    )

    d = tmp_path / "push"
    d.mkdir()
    with open(d / "part.jsonl", "w") as fh:
        for i in range(10):
            fh.write(json.dumps({"event_id": i, "k": i % 3}) + "\n")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    spark.dataSource.register(JsonlPushdownDataSource)
    good = (
        spark.read.format("jsonl_manifest_fp")
        .schema("event_id long, k long")
        .option("path", str(d))
        .load()
        .filter(F.col("k") == 1)
    )
    assert sorted(r.event_id for r in good.collect()) == [1, 4, 7]

    class BrokenReader(JsonlPushdownReader):
        def _row_passes(self, _d):
            return True  # claims the filters, never applies them

    class BrokenDataSource(JsonlPushdownDataSource):
        @classmethod
        def name(cls):
            return "jsonl_manifest_broken"

        def reader(self, schema):
            return BrokenReader(schema, self.options)

    spark.dataSource.register(BrokenDataSource)
    leaked = (
        spark.read.format("jsonl_manifest_broken")
        .schema("event_id long, k long")
        .option("path", str(d))
        .load()
        .filter(F.col("k") == 1)
    )
    # all 10 rows come back: Spark did not re-apply the accepted filter
    assert leaked.count() == 10


def test_interval_overlap_join_semantics(spark):
    """Half-open overlap, duplicate-free multi-bucket attribution, keying."""
    import datetime as dt

    from spark_delta_lakehouse_nyctaxi_spark.operators.joins import (
        interval_overlap_join,
    )

    def t(minute, second=0):
        return dt.datetime(2024, 1, 1, 0, minute, second)

    left = spark.createDataFrame(
        [
            # spans buckets 0..3 at 1-min buckets: dedup would fail w/o
            # canonical attribution (overlaps r1 in 3 shared buckets)
            ("a", 1, t(0), t(3, 30)),
            # half-open: ends exactly where r2 starts -> NO overlap
            ("a", 2, t(4), t(5)),
            ("b", 3, t(0), t(10)),  # same times, different key
        ],
        "k string, lid int, ls timestamp_ntz, le timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            ("a", 10, t(1), t(6)),  # overlaps lid=1 (3 shared buckets)
            ("a", 11, t(5), t(7)),  # touches lid=2 only at the boundary
            ("b", 12, t(2), t(3)),  # contained in lid=3
        ],
        "k string, rid int, rs timestamp_ntz, re timestamp_ntz",
    )
    out = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_us=60 * 1_000_000, by=["k"]
    )
    pairs = sorted((r.lid, r.rid) for r in out.select("lid", "rid").collect())
    # exactly once each: (1,10) despite 3 shared buckets (canonical
    # attribution, no distinct); (2,11) absent (half-open boundary);
    # key b only matches key b.
    assert pairs == [(1, 10), (2, 10), (3, 12)]
    # unkeyed variant: key column dropped from the join -> cross-key pairs
    out2 = interval_overlap_join(
        left.drop("k"), right.drop("k"), "ls", "le", "rs", "re", bucket_us=60 * 1_000_000
    )
    pairs2 = sorted((r.lid, r.rid) for r in out2.select("lid", "rid").collect())
    assert pairs2 == [(1, 10), (1, 12), (2, 10), (3, 10), (3, 11), (3, 12)]


def test_scale7_decimal_tie_parity_with_duckdb(spark):
    """The tie-proof-scale contract behind the exact index family:
    for |v| < 1, Spark's half-up double->decimal cast at scale 7 must
    agree with DuckDB's cast on EXACT midpoints (odd/2^8 values have
    8-digit expansions ending in 5 — true scale-7 ties). At scale 10
    the same data diverges (DuckDB flips to half-even past 8
    significant digits; e.g. -0.27392578125 -> -0.2739257812 there),
    which is why the family quantizes at 7."""
    import duckdb

    # |v| < 1 only — that IS the precondition: at 1.69140625 (9 sig
    # digits) DuckDB already flips to half-even
    vals = [k / 256 for k in range(1, 256, 2)]
    vals += [-v for v in vals]
    sp = {
        r.v: str(r.q)
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .selectExpr("v", "CAST(v AS DECIMAL(16,7)) AS q")
        .collect()
    }
    con = duckdb.connect()
    for v in vals:
        dk = con.sql(f"SELECT CAST(CAST({v!r} AS DOUBLE) AS DECIMAL(28,7))").fetchone()[0]
        assert str(dk) == sp[v], (v, str(dk), sp[v])


def test_certify_unit_range_raises_out_of_range(spark):
    from spark_delta_lakehouse_nyctaxi_spark.operators.similarity import (
        _certify_unit_range,
    )

    ok = spark.createDataFrame([(1, [0.5, -0.99])], "vec_id long, embedding array<double>")
    _certify_unit_range(ok, "embedding")  # no raise
    bad = spark.createDataFrame([(1, [0.5, -1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(AssertionError, match="precondition"):
        _certify_unit_range(bad, "embedding")


def test_k_core_peels_tail_keeps_triangle(spark):
    """Triangle + chain: the 2-core is exactly the triangle (the chain
    peels away over multiple rounds — exercises the iteration, not
    just one filter), and core degrees are within-core."""
    from spark_delta_lakehouse_nyctaxi_spark.operators.graph import k_core

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: r.core_degree for r in k_core(edges, k=2, max_iters=8).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # non-convergence certificate: chain of 6 needs 5 peels at k=2;
    # a 2-iteration cap must raise, not return a wrong intermediate
    chain = [(i, i + 1) for i in range(1, 7)]
    ce = spark.createDataFrame(chain + [(b, a) for a, b in chain], "src long, dst long")
    with pytest.raises(AssertionError, match="converge"):
        k_core(ce, k=2, max_iters=2)


def test_mv_catalog_rewrite_semantics(spark, tmp_path):
    """Match rules: dims-subset + filter-dims + measure-derivability;
    cheapest MV wins; non-derivable queries fall back to base with
    identical values."""
    from spark_delta_lakehouse_nyctaxi_spark.operators.materialized import (
        Measure,
        MVCatalog,
    )

    li = load_table(spark, SF_SMALL, "lineitem")
    ms = [Measure("n", "count"), Measure("rev", "sum", "l_extendedprice")]
    cat = MVCatalog(spark)
    cat.define("fine", li, ["l_shipdate", "l_returnflag"], ms, str(tmp_path / "fine"))
    cat.define("coarse", li, ["l_returnflag"], ms, str(tmp_path / "coarse"))
    # both match an unfiltered by-flag query; the coarser (smaller) wins
    out, src = cat.answer(li, ["l_returnflag"], ms)
    assert src == "coarse"
    base_out, base_src = cat.answer(li, ["l_suppkey"], ms)  # no MV has suppkey
    assert base_src == "base"
    # a shipdate filter disqualifies the coarse MV (filter dim missing)
    out2, src2 = cat.answer(
        li, ["l_returnflag"], ms,
        filters=[("l_shipdate", ">=", __import__("datetime").datetime(1995, 1, 1))],
    )
    assert src2 == "fine"
    # value neutrality: MV answer == direct base aggregate, bitwise
    direct = {
        r.l_returnflag: (r.n, r.rev)
        for r in li.filter("l_shipdate >= TIMESTAMP '1995-01-01'")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(22,2)"))
            .cast("double")
            .alias("rev"),
        )
        .collect()
    }
    got = {r.l_returnflag: (r.n, r.rev) for r in out2.collect()}
    assert got == direct


# ---------------------------------------------------------------------------
# First-principles portable sketches (queries/sketches.py)
# ---------------------------------------------------------------------------


def test_count_min_guarantee_one_sided(spark):
    """Count-Min never underestimates: estimate >= truth for every probe."""
    from spark_delta_lakehouse_nyctaxi_spark.queries.sketches import q_count_min

    rows = q_count_min(spark, SF_SMALL).collect()
    assert rows, "expected probe rows"
    for r in rows:
        assert r.overestimate >= 0, f"CM underestimated user {r.user_id}"
        assert r.cms_estimate >= r.true_count


def test_bloom_membership_zero_false_negatives(spark):
    """Bloom filters admit false positives but NEVER false negatives."""
    from spark_delta_lakehouse_nyctaxi_spark.queries.sketches import (
        q_bloom_membership,
    )

    rows = q_bloom_membership(spark, SF_SMALL).collect()
    assert rows
    assert all(r.n_false_neg == 0 for r in rows)
    # sanity: the filter claims at least every member
    assert all(r.n_claimed >= r.n_members for r in rows)


def test_hll_estimate_within_theoretical_error(spark):
    """HLL p=8 standard error is 1.04/sqrt(256) = 6.5%; allow 4 sigma."""
    from spark_delta_lakehouse_nyctaxi_spark.queries.sketches import q_hll_sketch

    row = q_hll_sketch(spark, SF_MEDIUM).collect()[0]
    assert row.n_exact > 0
    assert row.rel_err < 4 * (1.04 / 16.0), f"rel_err {row.rel_err} out of bound"


def test_pca_power_iteration_invariants(spark):
    """Eigenvector is unit-norm, eigenvalue positive, residual finite;
    the Rayleigh quotient dominates every single-axis variance (the
    dominant PC explains at least as much variance as any raw axis,
    up to the reported convergence residual)."""
    import math

    from spark_delta_lakehouse_nyctaxi_spark.queries.similarity import (
        q_pca_power_iteration,
    )

    r = q_pca_power_iteration(spark, SF_SMALL).collect()[0]
    v = [r[f"v{i}"] for i in range(1, 9)]
    assert abs(math.fsum(x * x for x in v) - 1.0) < 1e-12
    assert r.eigenvalue > 0
    assert r.residual >= 0 and math.isfinite(r.residual)


def test_pca_projection_scores_are_centered_dots(spark):
    from spark_delta_lakehouse_nyctaxi_spark.queries.similarity import (
        q_pca_projection,
    )

    rows = q_pca_projection(spark, SF_SMALL).collect()
    assert len(rows) == 15
    scores = [abs(r.pc1_score) for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_hll_merge_is_lossless(spark):
    """max-of-shard-maxima == global max: the mergeability property
    that makes sketches a cross-cluster rollup, asserted on data."""
    from spark_delta_lakehouse_nyctaxi_spark.queries.sketches import q_hll_merge

    r = q_hll_merge(spark, SF_SMALL).collect()[0]
    assert r.merge_lossless is True
    assert r.checksum_merged == r.checksum_direct
    assert r.n_shards >= 2


# ---------------------------------------------------------------------------
# Behavioral analytics (queries/analytics.py)
# ---------------------------------------------------------------------------


def test_markov_rows_are_conditional_distributions(spark):
    import math

    from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

    rows = REGISTRY["q_markov_transitions"].fn(spark, SF_SMALL).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r.prev, []).append(r.prob)
    for prev, ps in by_prev.items():
        assert abs(math.fsum(ps) - 1.0) < 1e-12, prev


def test_retention_offset_zero_is_full_cohort(spark):
    from spark_delta_lakehouse_nyctaxi_spark.queries.analytics import (
        q_retention_cohorts,
    )

    rows = q_retention_cohorts(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.retention_rate <= 1.0
        if r.week_offset == 0:
            assert r.n_active == r.cohort_size


def test_ewma_matches_sequential_recursion(spark):
    """The 16-term truncated dyadic EWMA must equal the renormalized
    prefix of the classic recursion s_t = x_t/2 + s_{t-1}/2."""
    from spark_delta_lakehouse_nyctaxi_spark.queries.analytics import (
        q_ewma_smoother,
    )
    from spark_delta_lakehouse_nyctaxi_spark.sources.readers import load_table

    out = {r.event_id: r.ewma for r in q_ewma_smoother(spark, SF_SMALL).collect()}
    ev = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    by_user = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    uid, seq = next((u, s) for u, s in by_user.items() if len(s) >= 16)
    xs = [r.value for r in seq[:16]][::-1]  # xs[0] = newest
    raw = xs[0] * 2.0**-1
    for i in range(1, 16):
        raw = raw + xs[i] * 2.0 ** -(i + 1)
    expected = raw / (1.0 - 2.0**-16)
    assert out[seq[15].event_id] == expected


def test_gini_bounds_and_degenerate_equality(spark):
    """Gini lies in [0, 1); a perfectly equal distribution scores
    (n-1)/n - ... exactly 0 under the closed form."""
    from spark_delta_lakehouse_nyctaxi_spark.queries.analytics import (
        q_gini_concentration,
    )

    r = q_gini_concentration(spark, SF_SMALL).collect()[0]
    assert 0.0 <= r.gini < 1.0
    assert r.total_cents > 0
    # closed-form sanity on an equal distribution: x_i all equal ->
    # 2*sum(i*x) = 2x * n(n+1)/2 = x*n*(n+1) = (n+1)*sum(x) -> gini 0
    n, x = 5, 700
    num = 2 * sum(i * x for i in range(1, n + 1)) - (n + 1) * (n * x)
    assert num == 0


def test_cusum_finds_injected_mean_shift(spark):
    """On a hand-built series with a hard mean shift, the scaled CUSUM
    argmax lands exactly on the last day of the low regime."""
    rows = [(i, 100.0 if i <= 10 else 500.0) for i in range(1, 21)]
    # scaled C_k = n*cumsum_k - k*total, argmax |.| at k = 10
    n = len(rows)
    total = sum(int(v * 100) for _, v in rows)
    best_k, best = None, -1
    cum = 0
    for k, (_, v) in enumerate(rows, 1):
        cum += int(v * 100)
        c = abs(n * cum - k * total)
        if c > best:
            best, best_k = c, k
    assert best_k == 10


def test_lorenz_deciles_shares_sum_to_one(spark):
    import math

    from spark_delta_lakehouse_nyctaxi_spark.queries.analytics import (
        q_lorenz_deciles,
    )

    rows = sorted(q_lorenz_deciles(spark, SF_SMALL).collect(), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    assert abs(math.fsum(r.revenue_share for r in rows) - 1.0) < 1e-12
    # Lorenz curve is convex: decile shares nondecreasing in rank order
    shares = [r.revenue_share for r in rows]
    assert shares == sorted(shares)
    assert abs(rows[-1].cumulative_share - 1.0) < 1e-12


def test_hll_intersection_brackets_exact(spark):
    """Inclusion-exclusion on p=8 sketches is noisy but must land
    within a loose multiple of the component error bound."""
    from spark_delta_lakehouse_nyctaxi_spark.queries.sketches import (
        q_hll_intersection,
    )

    r = q_hll_intersection(spark, SF_MEDIUM).collect()[0]
    assert r.exact_intersection > 0
    # component estimates within 4 sigma each; intersection inherits
    # roughly the union of their absolute errors
    sigma = 1.04 / 16.0
    slack = 4 * sigma * (r.exact_a + r.exact_b)
    assert abs(r.est_intersection - r.exact_intersection) <= slack


def test_poisson_bootstrap_ci_brackets_point_estimate(spark):
    from spark_delta_lakehouse_nyctaxi_spark.queries.analytics import (
        q_poisson_bootstrap,
    )

    r = q_poisson_bootstrap(spark, SF_SMALL).collect()[0]
    assert r.n_replicates == 64
    assert r.ci_lower <= r.ci_upper
    # a 95% CI from 64 replicates should bracket the full-data mean
    assert r.ci_lower <= r.mean_daily_cents <= r.ci_upper
    # and be nondegenerate
    assert r.ci_upper > r.ci_lower


def test_distributed_prefix_sum_matches_window(spark):
    """The range-exchange prefix sum must equal the single-partition
    ordered-window cumsum for any total order, including multi-column
    values and negative values."""
    import random

    from pyspark.sql import Window as W

    from spark_delta_lakehouse_nyctaxi_spark.operators.indexing import (
        distributed_prefix_sum,
    )

    rng = random.Random(7)
    rows = [(i, rng.randint(-50, 50), rng.randint(0, 9)) for i in range(2000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, a long, b long").repartition(8)
    got = {
        r.k: (r.cum_a, r.cum_b)
        for r in distributed_prefix_sum(df, ["k"], ["a", "b"], num_partitions=7).collect()
    }
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
    exp = {
        r.k: (r.ca, r.cb)
        for r in df.select(
            "k", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
        ).collect()
    }
    assert got == exp


def test_duplicated_spans_matches_python_bruteforce(spark):
    """duplicated_spans (Lee-et-al substring-dedup excision list) must
    agree with a direct Python reimplementation — duplicated l-gram
    positions merged into maximal islands — on a corpus with known
    cross-doc repeats, within-doc repeats, adjacent/overlapping spans,
    and short documents below the gram length."""
    import re

    from spark_delta_lakehouse_nyctaxi_spark.operators.dedup import (
        duplicated_spans,
    )

    boiler = "the quick brown fox jumps over the lazy dog again"  # 10 toks
    docs = [
        (0, boiler + " unique tail zero alpha beta gamma delta"),
        (1, "prefix one two three " + boiler),  # cross-doc repeat
        (2, boiler + " middle filler words " + boiler),  # within-doc ×2
        (3, "too short to hold any gram"),  # < 8 tokens of overlap
        (4, "x1 x2 x3 x4 x5 x6 x7 x8 x9"),  # no repeats anywhere
    ]
    l = 8
    tok = {i: re.split(r"\s+", t.strip()) for i, t in docs}
    from collections import Counter

    grams = Counter()
    for ts in tok.values():
        for p in range(len(ts) - l + 1):
            grams[" ".join(ts[p : p + l])] += 1
    expected = set()
    for i, ts in tok.items():
        dup_p = [
            p
            for p in range(len(ts) - l + 1)
            if grams[" ".join(ts[p : p + l])] >= 2
        ]
        run: list[int] = []
        for p in dup_p:
            if run and p - run[-1] > l:
                expected.add((i, run[0], run[-1] + l - 1, run[-1] - run[0] + l))
                run = []
            run.append(p)
        if run:
            expected.add((i, run[0], run[-1] + l - 1, run[-1] - run[0] + l))
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(3)
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicated_spans(df, "doc_id", "text", l=l).collect()
    }
    assert got == expected and expected  # non-vacuous


def test_literal_frame_roundtrip_and_validation(spark):
    """literal_frame renders a JVM LocalRelation: doubles must
    round-trip bit-exactly via the repr/CAST path, the plan must show
    LocalTableScan (not a Python-RDD scan), and the r6 advisor's two
    latent misuse classes must be loud errors — parameterized types
    (a naive comma split would silently mis-assign columns) and rows
    that don't match the column count (zip would silently truncate)."""
    from spark_delta_lakehouse_nyctaxi_spark.operators.local_frames import (
        literal_frame,
    )

    vals = [(1, 0.1 + 0.2), (2, -0.27392578125), (3, None)]
    df = literal_frame(spark, vals, "id int, x double")
    got = {r.id: r.x for r in df.collect()}
    assert got[1] == 0.1 + 0.2 and got[2] == -0.27392578125
    assert got[3] is None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    with pytest.raises(ValueError, match="unsupported type"):
        literal_frame(spark, [(1, 1.5)], "id int, x decimal(10,2)")
    with pytest.raises(ValueError, match="cannot parse|unsupported"):
        literal_frame(spark, [(1, [1.0])], "id int, x array<double>")
    with pytest.raises(ValueError, match="cells for"):
        literal_frame(spark, [(1, 2.0, 3.0)], "id int, x double")


@pytest.mark.parametrize("position", ["middle", "last"])
def test_minhash_arrow_kernel_skips_empty_docs(spark, position):
    """An empty or NULL shingle array yields no signature row, as in
    the explode + aggregate form: an empty doc never borrows the next
    doc's signature, and one last in its batch does not raise."""
    coeffs = D.linear_hash_coeffs(8)
    rows = [(1, [3, 5]), (2, [7, 11, 13])]
    if position == "middle":
        rows = [rows[0], (9, []), (10, None), rows[1]]
    else:
        rows = rows + [(10, None), (9, [])]
    arrs = spark.createDataFrame(rows, "id long, sh_arr array<bigint>").coalesce(1)
    sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
    jvm = {
        r["id"]: (list(r["signature"]), r["n_sh"])
        for r in D.minhash_signatures_linear(sh, coeffs).collect()
    }
    arrow = {
        r["id"]: (list(r["signature"]), r["n_sh"])
        for r in D.minhash_signatures_linear_arrow(arrs, coeffs).collect()
    }
    assert set(jvm) == {1, 2}
    assert arrow == jvm
