"""Round-12 optimization gates.

- reliable_checkpoint: both storage paths (localCheckpoint fallback /
  reliable checkpoint when a checkpoint dir is configured) produce
  identical frames, and the dedup operators built on it return
  identical pairs/clusters either way (VERDICT r11 item 3).
- reader memos: eviction at the size cap never changes results
  (VERDICT r11 item 8), and the mtime freshness token invalidates a
  rewritten path (round-11 ADVICE).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from spark_delta_lakehouse_nyctaxi_spark.operators import dedup as D
from spark_delta_lakehouse_nyctaxi_spark.operators.checkpoint import (
    reliable_checkpoint,
)
from spark_delta_lakehouse_nyctaxi_spark.sources import readers as R

SF_SMALL = "/root/testdata/sf0.001"
CKPT_DIR = "/tmp/spark-graft-test-ckpt"


@pytest.fixture(scope="module")
def spark():
    from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

    return get_spark("test-round12")


def _clear_checkpoint_dir(sc) -> None:
    """SparkContext has no unsetCheckpointDir; clear the underlying
    Scala Option so subsequent code sees the dir-less session (the
    ``checkpointDir_$eq`` field setter is package-public bytecode)."""
    setter = getattr(sc._jsc.sc(), "checkpointDir_$eq")
    setter(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


@pytest.fixture()
def checkpoint_dir(spark):
    """Temporarily configure a reliable checkpoint dir, restoring the
    dir-less default afterwards (other tests rely on the local path)."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    os.makedirs(CKPT_DIR, exist_ok=True)
    sc.setCheckpointDir(CKPT_DIR)
    try:
        yield CKPT_DIR
    finally:
        _clear_checkpoint_dir(sc)
        shutil.rmtree(CKPT_DIR, ignore_errors=True)


def _pairs_and_clusters(spark):
    docs = R.load_table(spark, SF_SMALL, "documents")
    pairs = D.jaccard_pairs_adaptive(docs, "doc_id", "text", threshold=0.1)
    clusters = D.duplicate_clusters(pairs.select("id_a", "id_b"))
    return (
        sorted(tuple(r) for r in pairs.select("id_a", "id_b").collect()),
        sorted(tuple(r) for r in clusters.collect()),
    )


def test_reliable_checkpoint_identical_across_paths(spark, checkpoint_dir):
    """Pairs and clusters are identical whether the barrier is a
    localCheckpoint (no dir) or a reliable checkpoint (dir set)."""
    with_dir = _pairs_and_clusters(spark)
    _clear_checkpoint_dir(spark.sparkContext)
    without_dir = _pairs_and_clusters(spark)
    assert with_dir == without_dir
    assert with_dir[0], "test corpus must produce at least one pair"


def test_reliable_checkpoint_uses_configured_dir(spark, checkpoint_dir):
    """With a dir configured the barrier writes reliable checkpoint
    files there (fault-tolerant storage), not executor-local blocks."""
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = reliable_checkpoint(df, eager=True)
    assert out.count() == 100
    entries = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(checkpoint_dir)
        for f in fs
    ]
    assert entries, "reliable checkpoint left no files in the dir"


def test_session_cleans_reliable_checkpoints(spark):
    """Reliable checkpoint files are removed once their frame is
    garbage-collected: the session enables the context cleaner's
    checkpoint cleanup (Spark leaves it off by default)."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_reliable_checkpoint_local_fallback(spark):
    """Without a dir the helper falls back to localCheckpoint and the
    values are unchanged."""
    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(50).withColumn("x", F.col("id") + 1)
    out = reliable_checkpoint(df, eager=True)
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_table_memo_eviction_never_changes_results(spark):
    """Filling the memo past its cap evicts old entries; re-loading an
    evicted table re-derives the same plan and the same rows."""
    before = R.load_table(spark, SF_SMALL, "orders")
    n_before = before.count()
    # force eviction of everything by flooding the memo with synthetic
    # keys (values don't matter — eviction pops oldest insertions)
    for i in range(R._MEMO_CAP + 5):
        R._evict_if_full(R._TABLE_MEMO)
        R._TABLE_MEMO[("synthetic", str(i), None)] = before
    after = R.load_table(spark, SF_SMALL, "orders")
    assert after.count() == n_before
    # the flood itself respected the cap
    assert len(R._TABLE_MEMO) <= R._MEMO_CAP
    # drop the synthetic keys so later tests start clean
    for k in [k for k in R._TABLE_MEMO if k[0] == "synthetic"]:
        R._TABLE_MEMO.pop(k)


def test_minhash_arrow_kernel_bit_identical(spark):
    """The Arrow/numpy signature kernel is bit-identical to the JVM
    explode + 32-min aggregate it replaces (same ids, same signature
    arrays, same n_sh), on real corpus shingles at sf0.001."""
    from pyspark.sql import functions as F

    from spark_delta_lakehouse_nyctaxi_spark.queries.dedup import _MH_COEFFS

    docs = R.load_table(spark, SF_SMALL, "documents")
    arrs = D.doc_shingle_arrays(docs, "doc_id", "text", k=3, hashed="md5").persist()
    sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
    jvm = {
        r["id"]: (list(r["signature"]), r["n_sh"])
        for r in D.minhash_signatures_linear(sh, _MH_COEFFS).collect()
    }
    arrow = {
        r["id"]: (list(r["signature"]), r["n_sh"])
        for r in D.minhash_signatures_linear_arrow(arrs, _MH_COEFFS).collect()
    }
    arrs.unpersist()
    assert jvm == arrow
    assert len(jvm) > 0


def test_minhash_arrow_kernel_negative_ids_java_mod(spark):
    """np.fmod matches Java/Spark % for NEGATIVE shingle ids too (the
    xxhash64-hashed path can produce them): both forms agree on a
    synthetic frame with negative 64-bit ids."""
    from pyspark.sql import functions as F

    coeffs = D.linear_hash_coeffs(8)
    rows = [
        (1, [-(2**62) + 7, -12345, 3]),
        (2, [-1, -2, 2**60]),
        (3, [5]),
    ]
    arrs = spark.createDataFrame(rows, "id long, sh_arr array<bigint>")
    sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
    jvm = {
        r["id"]: (list(r["signature"]), r["n_sh"])
        for r in D.minhash_signatures_linear(sh, coeffs).collect()
    }
    arrow = {
        r["id"]: (list(r["signature"]), r["n_sh"])
        for r in D.minhash_signatures_linear_arrow(arrs, coeffs).collect()
    }
    assert jvm == arrow


def test_star_contraction_long_chain_log_rounds(spark):
    """VERDICT r11 item 7: the distributed path is large-star/small-star
    contraction — a 512-hop chain (min-label propagation's worst case,
    needing ~512 rounds) must converge within ceil(log2(diameter)) + 1
    rounds, to the component minimum for every node."""
    import math
    import random

    rng = random.Random(7)
    ids = rng.sample(range(1, 10**9), 513)
    pairs = [(min(a, b), max(a, b)) for a, b in zip(ids, ids[1:])]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    bound = math.ceil(math.log2(512)) + 1
    out = {
        r.id: r.cluster_id
        for r in D.duplicate_clusters(
            df, local_threshold=0, max_iter=bound
        ).collect()
    }
    lo = min(ids)
    assert out == {n: lo for n in ids}


def test_star_contraction_parity_with_union_find(spark):
    """Random multi-component graphs: the distributed star-contraction
    path and the local union-find path produce identical labelings."""
    import random

    rng = random.Random(20260818)
    for trial in range(3):
        n = rng.randint(10, 60)
        nodes = rng.sample(range(1, 10**6), n)
        m = rng.randint(n // 2, 2 * n)
        pairs = []
        for _ in range(m):
            a, b = rng.sample(nodes, 2)
            pairs.append((min(a, b), max(a, b)))
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        dist = {
            (r.id, r.cluster_id)
            for r in D.duplicate_clusters(df, local_threshold=0).collect()
        }
        local = {
            (r.id, r.cluster_id) for r in D.duplicate_clusters(df).collect()
        }
        assert dist == local, f"trial {trial}: star != union-find"


def test_table_memo_freshness_token(spark, tmp_path):
    """Rewriting a table path invalidates the memo entry (mtime key):
    the reader sees the new file listing instead of a stale snapshot."""
    src = os.path.join(SF_SMALL, "region.parquet")
    dst_dir = str(tmp_path / "sfX")
    os.makedirs(dst_dir, exist_ok=True)
    dst = os.path.join(dst_dir, "region.parquet")
    shutil.copyfile(src, dst)
    n1 = R.load_table(spark, dst_dir, "region").count()
    # rewrite the path with a different row count and a newer mtime
    spark.read.parquet(src).limit(2).write.mode("overwrite").parquet(dst)
    os.utime(dst, None)
    n2 = R.load_table(spark, dst_dir, "region").count()
    assert n1 > 0 and n2 == 2 and n1 != n2
