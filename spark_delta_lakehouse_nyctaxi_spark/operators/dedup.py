"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Designed for 100 TB corpora:
- exact dedup is one hash-shuffle on the fingerprint
- MinHash signatures are computed in a single explode→groupBy pass
  (one shuffle), banded, and candidate pairs come from a bucket
  self-join — never an all-pairs cross join
- survivor selection is deterministic (min id), so results are stable
  under any partitioning
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .checkpoint import reliable_checkpoint
from .text import tokens


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Deterministic exact dedup: keep the min-``order_col`` row per key
    group (reference semantics: dropDuplicates at etl/silver_job.py:205,
    made deterministic per SURVEY.md §7.4).

    Implemented as ``min_by(struct(row), order_col)`` — ONE hash
    aggregate. vs. the row_number window formulation: partial aggregation
    runs map-side (each task forwards at most one candidate row per key,
    so the shuffle carries ~|groups| rows instead of |input|), and
    there's no per-partition sort. Deterministic whenever ``order_col``
    is unique per group (callers pass a row id). ``order_col`` must be
    non-null — min_by skips null-ordered rows."""
    row = F.struct(*[F.col(c) for c in df.columns])
    agg = df.groupBy(*key_cols).agg(F.min_by(row, F.col(order_col)).alias("__row"))
    return agg.select("__row.*")


def doc_shingle_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    hashed: bool | str = False,
    parallelism: int | None = None,
) -> DataFrame:
    """Distinct k-token shingles per document as ONE ROW PER DOC
    (``id``, ``sh_arr``) — the compact form the minhash pipeline runs
    on: signatures, band hashes, set sizes, and exact intersections are
    all per-row array expressions over this frame, so nothing past the
    initial repartition needs a per-shingle shuffle.

    Pure JVM expressions: tokenize, slide a window of k with zipped
    shifted slices. No Python in the hot path.

    Scale/shuffle design:
    - The input is hash-repartitioned on the id FIRST: document corpora
      often arrive as a few large files (at sf0.1, one parquet = one
      task), and everything below would otherwise run at file
      parallelism. Partitioning by id also pre-positions the frame for
      id-keyed joins downstream — no further exchange.
    - (id, shingle) distinctness is per-document, so it's computed with
      ``array_distinct`` on the per-doc shingle array — no global
      distinct() shuffle anywhere.

    ``hashed=True`` replaces each shingle string with its xxhash64 —
    Jaccard/MinHash are invariant under an injective map, and 8-byte
    keys cut downstream shuffle volume ~3× at scale (collision
    probability ~2^-64 per pair, immaterial).  ``hashed="md5"`` uses
    the 60-bit md5-derived id instead (:func:`md5_id`) — same
    injectivity argument, but exactly reproducible in any engine with
    an md5() (the DuckDB oracle mirrors it bit-for-bit), which is what
    upgrades the minhash-LSH query from rows-only to value-oracled.

    Documents with no shingles (empty/whitespace text) are dropped,
    matching the exploded form where they simply produce no rows.
    """
    nparts = parallelism or df.sparkSession.sparkContext.defaultParallelism
    # Empty/whitespace/NULL docs are dropped with a CHEAP pre-shuffle
    # predicate equivalent to the old post-hoc `size(sh_arr) > 0`:
    # trim(text) <> '' ⟺ the token array is non-empty ⟺ every shingle
    # window keeps its non-empty leading token ⟺ sh_arr is non-empty
    # (and NULL text fails both forms).  The post-hoc form was a
    # scale-killer in disguise: Catalyst pushed it below the
    # repartition exchange by SUBSTITUTING the entire shingle+md5
    # expression tree into the filter, so the whole shingle pipeline
    # executed twice — once at scan parallelism (one task per input
    # file) just to decide the filter, then again above the exchange
    # (measured 0.97s of a 3.0s q_minhash_lsh run in the single-task
    # pre-exchange Filter at sf0.1; guide §1.2 "don't compute things
    # you throw away" / §7.2 duplicated subtrees).  Bonus: empty docs
    # now drop BEFORE the shuffle (guide §2.3).
    with_toks = (
        df.filter(F.trim(F.col(text_col)) != "")
        .repartition(nparts, id_col)
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("t"))
    )
    n = F.size("t")
    shifted = [F.col("t").alias("w0")] + [
        F.slice("t", i + 1, F.greatest(n - i, F.lit(1))).alias(f"w{i}") for i in range(1, k)
    ]
    zipped = F.arrays_zip(*shifted)
    sh = F.when(n >= k, F.slice(zipped, 1, n - k + 1)).otherwise(F.slice(zipped, 1, 1))
    fields = [f"w{i}" for i in range(k)]
    joined = F.transform(sh, lambda z: F.concat_ws(" ", *[z.getField(f) for f in fields]))
    arr = F.filter(F.array_distinct(joined), lambda s: s != "")
    if hashed == "md5":
        arr = F.transform(arr, lambda s: md5_id(s))
    elif hashed:
        arr = F.transform(arr, lambda s: F.xxhash64(s))
    # No post-hoc size(sh_arr) filter: the pre-shuffle trim predicate
    # above already guarantees sh_arr is non-empty (re-adding one here
    # would be re-pushed below the exchange as the full expression).
    return with_toks.select("id", arr.alias("sh_arr"))


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    hashed: bool = False,
    parallelism: int | None = None,
) -> DataFrame:
    """Exploded shingle frame (one row per (id, shingle)) — the form the
    co-shingle Jaccard join consumes. See :func:`doc_shingle_arrays`
    for the per-doc array form (and the shuffle design notes)."""
    arrs = doc_shingle_arrays(df, id_col, text_col, k, hashed, parallelism)
    return arrs.select("id", F.explode("sh_arr").alias("shingle"))


#: Mersenne prime 2^31-1 — the classic universal-hash modulus.  With
#: a, b < P and x reduced mod P first, a*x+b < 2^62 stays inside int64
#: in BOTH Spark and DuckDB, so the permutation hashes below are exact
#: integer arithmetic any engine reproduces bit-for-bit.
MINHASH_PRIME = 2_147_483_647


def md5_id(col: str | Column) -> Column:
    """60-bit integer id from the first 15 hex chars of md5 — an
    injective-enough (collision ~2^-60) stand-in for xxhash64 whose
    value is reproducible in ANY engine with an md5() function:
    DuckDB's ``('0x' || substr(md5(x), 1, 15))::BIGINT`` matches this
    bit-for-bit (verified incl. UTF-8 multibyte input).  15 hex chars
    (not 16) so the value fits SIGNED int64 in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def linear_hash_coeffs(num_hashes: int = 32, seed: int = 20240814) -> list[tuple[int, int]]:
    """The (a, b) coefficient list for the ``(a*x + b) mod P`` MinHash
    permutation family — seeded, so the family is a FIXED constant both
    the Spark pipeline and the DuckDB oracle embed as literals."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MINHASH_PRIME), rnd.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_signatures_linear(
    sh: DataFrame, coeffs: list[tuple[int, int]], p: int = MINHASH_PRIME
) -> DataFrame:
    """MinHash signatures from the classic linear permutation family
    ``h_i(x) = (a_i * (x mod p) + b_i) mod p`` over integer shingle ids
    (use :func:`md5_id`-hashed shingles).  Same single-shuffle groupBy
    shape as :func:`minhash_signatures`, but the hash family is plain
    int64 arithmetic — which makes the WHOLE minhash-LSH pipeline
    reproducible in the DuckDB oracle (xxhash64 is Spark-only).

    Exactness: x mod p and all products stay < 2^62 (see
    MINHASH_PRIME), and both engines define ``%`` identically on
    nonnegative int64 — bit-for-bit parity, verified by the
    q_minhash_lsh value oracle.

    The per-permutation expression is rendered as ONE SQL string per
    hash (coefficients are plain int literals) instead of composing
    ~10 Column objects each: the Column form costs ~300 py4j round
    trips ≈ 0.39 s of driver time per plan construction vs 0.03 s for
    the parsed form — measured identical values and identical analyzed
    plans (guide §7.3: plan-construction time is driver-side,
    single-threaded work)."""
    mins = [
        F.expr(f"MIN(({a} * (shingle % {p}) + {b}) % {p}) AS h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = sh.groupBy("id").agg(*mins, F.count("*").alias("n_sh"))
    return agg.select(
        "id",
        F.array(*[f"h{i}" for i in range(len(coeffs))]).alias("signature"),
        "n_sh",
    )


def minhash_signatures_linear_arrow(
    arrs: DataFrame, coeffs: list[tuple[int, int]], p: int = MINHASH_PRIME
) -> DataFrame:
    """:func:`minhash_signatures_linear` computed as a vectorized numpy
    kernel over the per-doc shingle-array frame — bit-identical values,
    measured ~5% faster on the full LSH pipeline at sf0.1 (min 0.97 vs
    1.02, med 1.09 vs 1.13, interleaved A/B; VERDICT r11 item 2).

    Why this one crosses the Python boundary when the rest of the repo
    stays JVM-pure: the 32-min aggregate is the single heaviest
    expression block of the minhash family (~5.5 s CPU at sf0.1 —
    32 × 3 arithmetic ops per shingle, evaluated per-row in the
    aggregate), and the array form hands numpy whole columnar batches:
    one fmod/multiply/add sweep per permutation plus a segmented
    ``minimum.reduceat`` per doc.  One MapInArrow node replaces the
    explode + groupBy aggregate — same zero extra shuffles (the frame
    is id-partitioned either way), one JVM↔Arrow round trip per batch.

    Exactness: shingle ids are reduced with ``np.fmod`` (truncated
    remainder — the same semantics as Java/Spark ``%`` for ANY sign;
    md5_id shingles are nonnegative anyway), products stay < 2^62 (see
    MINHASH_PRIME), and int64 arithmetic is exact in both engines —
    verified value-identical against the aggregate form and by the
    q_minhash_lsh value oracle.

    Memory: the per-hash loop keeps one flat int64 temp per batch
    (~32 bytes/shingle peak), never the 32×shingles matrix; batch size
    is bounded by spark.sql.execution.arrow.maxRecordsPerBatch.

    Falls back to the JVM aggregate for non-integral shingle types."""
    id_t = arrs.schema["id"].dataType.simpleString()
    elem_t = arrs.schema["sh_arr"].dataType.elementType.simpleString()
    if elem_t not in ("bigint", "int", "smallint", "tinyint"):
        sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
        return minhash_signatures_linear(sh, coeffs, p)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        A = np.array([a for a, _ in coeffs], dtype=np.int64)
        B = np.array([b for _, b in coeffs], dtype=np.int64)
        nh = len(coeffs)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            lst = batch.column(1)
            lens = np.asarray(
                pc.fill_null(pc.list_value_length(lst), 0).to_numpy(
                    zero_copy_only=False
                ),
                dtype=np.int64,
            )
            # an empty or NULL array explodes to no shingle and so gets
            # no signature row; reduceat would hand an empty segment the
            # next doc's value (or index past the end when it is last)
            keep = lens > 0
            if not keep.any():
                continue
            ids = batch.column(0).filter(pa.array(keep))
            lens = lens[keep]
            vals = lst.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            # truncated remainder == Java/Spark % for any sign
            xm = np.fmod(vals, p)
            starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
            nd = len(lens)
            sig = np.empty((nd, nh), dtype=np.int64)
            for i in range(nh):
                h = np.fmod(A[i] * xm + B[i], p)
                sig[:, i] = np.minimum.reduceat(h, starts)
            sig_col = pa.ListArray.from_arrays(
                pa.array(np.arange(nd + 1, dtype=np.int32) * nh),
                pa.array(sig.ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, sig_col, pa.array(lens)], ["id", "signature", "n_sh"]
            )

    return arrs.select("id", "sh_arr").mapInArrow(
        kernel, f"id {id_t}, signature array<bigint>, n_sh bigint"
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 32) -> DataFrame:
    """MinHash signature per id: ``num_hashes`` seeded xxhash64 mins,
    computed in ONE groupBy pass (single shuffle). The shingle-set size
    ``n_sh`` rides along in the same aggregate — downstream exact-Jaccard
    reuses it instead of re-shuffling the shingle frame."""
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
        for seed in range(num_hashes)
    ]
    agg = sh.groupBy("id").agg(*mins, F.count("*").alias("n_sh"))
    return agg.select(
        "id", F.array(*[f"h{s}" for s in range(num_hashes)]).alias("signature"), "n_sh"
    )


def minhash_signatures_from_arrays(arrs: DataFrame, num_hashes: int = 32) -> DataFrame:
    """MinHash signature as a pure projection over the per-doc shingle
    array (:func:`doc_shingle_arrays`): each of the ``num_hashes``
    seeded mins is ``array_min(transform(sh_arr, xxhash64(·, seed)))``
    — identical values to :func:`minhash_signatures`, ZERO shuffles
    (the aggregate form needs one groupBy pass over exploded shingles).
    ``sh_arr`` is kept so downstream exact-Jaccard can intersect in
    place; ``n_sh`` is its size, free."""
    sig = F.array(
        *[
            F.array_min(F.transform("sh_arr", lambda s: F.xxhash64(s, F.lit(seed))))
            for seed in range(num_hashes)
        ]
    )
    return arrs.select("id", sig.alias("signature"), F.size("sh_arr").alias("n_sh"), "sh_arr")


def _band_hashes(bands: int) -> Column:
    """Array of ``bands`` band-hashes over the ``signature`` column:
    xxhash64 of the comma-joined band slice."""
    rows_per_band = F.floor(F.size("signature") / bands).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(
                ",",
                F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band).cast(
                    "array<string>"
                ),
            )
        ),
    )


def _band_keys(bands: int) -> Column:
    """Array of ``bands`` EXACT band keys: the band's signature slice
    comma-joined as a string (no hashing).  Unlike :func:`_band_hashes`
    two distinct band contents can never share a bucket (xxhash64
    collisions merge buckets, harmless for recall but unreproducible in
    an oracle) — this is the banding the DuckDB mirror re-derives
    verbatim, so bucket membership is bit-identical across engines."""
    rows_per_band = F.floor(F.size("signature") / bands).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            ",",
            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band).cast(
                "array<string>"
            ),
        ),
    )


def _id_pair_expansion() -> Column:
    """In-bucket (id_a < id_b) pair expansion over a sorted ``ids``
    array, as one parsed SQL string — identical expression tree /
    values / schema to the nested Column-lambda form it replaces
    (pytest parity via the candidate/pair gates), ~60 ms less py4j
    chatter per plan construction (guide §7.3).  Built per call: expr()
    parses with the active session."""
    return F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )


def lsh_candidate_pairs_grouped(
    sig: DataFrame,
    bands: int = 8,
    max_bucket_size: int | None = None,
    exact_keys: bool = False,
) -> DataFrame:
    """LSH candidate pairs WITHOUT a self-join: group ids per
    (band_idx, band_hash) bucket, expand each bucket's sorted id list
    to its in-bucket pairs with array expressions, then distinct across
    bands.

    vs. the self-join form (:func:`lsh_candidate_pairs`): one hash
    aggregate instead of a join (half the shuffled rows — ids only, one
    side), no join machinery, same output. Pair expansion is O(bucket²)
    either way; ``max_bucket_size`` drops degenerate hot buckets (a
    bucket of 100k near-identical boilerplate docs would emit 5e9
    pairs) — the standard LSH skew guard at corpus scale; None keeps
    exact parity with the self-join.  ``exact_keys=True`` buckets on
    the un-hashed band content (:func:`_band_keys`) so bucket
    membership is engine-reproducible — required for the value oracle.
    """
    keys = _band_keys(bands) if exact_keys else _band_hashes(bands)
    banded = sig.select("id", F.posexplode(keys).alias("band_idx", "band_hash"))
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = _id_pair_expansion()
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_pairs_from_arrays(
    arrs: DataFrame, pairs: DataFrame, threshold: float = 0.0
) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-doc array intersection.

    Joins the (small) pair list to the per-doc shingle-array frame twice
    — one row per doc per side — and computes
    ``size(array_intersect(arr_a, arr_b))`` in place. vs. joining
    through the exploded shingle frame (:func:`jaccard_pairs` with
    ``pairs``): shuffles |pairs| array-payload rows instead of
    |pairs|×shingles/doc rows, and skips the per-pair count aggregate
    and both size joins entirely. ``arrs`` is id-partitioned by
    construction, so each join only exchanges the pair side.
    """
    a = arrs.select(F.col("id").alias("id_a"), F.col("sh_arr").alias("arr_a"))
    b = arrs.select(F.col("id").alias("id_b"), F.col("sh_arr").alias("arr_b"))
    n_common = F.size(F.array_intersect("arr_a", "arr_b"))
    # "merge" hints so the STATIC estimator can never pick the
    # corpus-sized array frame as a broadcast build side (it sized the
    # persisted arrs at ~2 MB and planned BroadcastHashJoin BuildRight
    # over it — the guide §3.1 estimate-failure class; at 100 TB that
    # is an executor-OOM hash relation).  NOTE (round-11 ADVICE): a
    # merge hint on either side pins the join to sort-merge through
    # AQE re-optimization too — the small pair side is NOT broadcast
    # either.  That trade is deliberate and re-measured (r12,
    # interleaved A/B on the full LSH pipeline at sf0.1): the
    # broadcast-pairs form measures ~0.1-0.16 s faster (min 1.05 vs
    # 1.21, med 1.23 vs 1.35) — that is the known, bounded local price
    # of removing the scale-unsafe shape.  The corpus side reuses its
    # id-partitioning (no exchange), only the pair side is shuffled.
    # The pair list is NOT provably small (it is data-dependent —
    # dup-dense corpora blow past any broadcast cap, and the 8 GB
    # broadcast hard cap would fail the job outright), so a broadcast
    # hint on it would re-introduce the same OOM class on the other
    # side; a count-guarded broadcast costs an extra action + barrier
    # that eats the saving.
    out = (
        pairs.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                n_common.cast("double")
                / (F.size("arr_a") + F.size("arr_b") - n_common)
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def lsh_candidate_pairs(sig: DataFrame, bands: int = 8) -> DataFrame:
    """Band the signature and self-join on (band_idx, band_hash) buckets.

    Returns candidate pairs (id_a < id_b), deduplicated across bands.
    Bucket join is an equi-join — shuffles on the band hash, never
    all-pairs.
    """
    banded = sig.select(
        "id", F.posexplode(_band_hashes(bands)).alias("band_idx", "band_hash")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def prefix_filter_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """EXACT candidate superset for Jaccard ≥ threshold via AllPairs/
    PPJoin prefix filtering (Bayardo et al. 2007, Xiao et al. 2008) —
    the scale-safe replacement for the naive co-shingle self-join.

    Canonical shingle order = (global document frequency ASC, shingle
    ASC). A document with set size s keeps only its first
    ``s - ceil(t·s) + 1`` shingles in that order; two documents with
    J ≥ t must share a prefix shingle (if all common elements sat in
    A's suffix of size ceil(t·s)-1, the overlap would be < t·s ≤ |A∩B|
    — contradiction). The join therefore runs only over PREFIX
    entries, and because hot shingles sort LAST they almost never
    enter a prefix — the quadratic blowup of the co-shingle join on
    common shingles disappears while recall stays exactly 1
    (parity-tested against the naive form).

    The ceil is computed as ``ceil(t·s − 1e-9)``: IEEE rounding of
    ``t·s`` can land one ulp above an exact integer, which would
    SHORTEN the prefix and silently drop pairs; the epsilon can only
    lengthen it (still exact, marginally more candidates).

    Shuffle shape — the input is scanned ONCE: document frequency is a
    count window over the shingle partitioning (no separate aggregate +
    join-back), rank/size share the id partitioning (one exchange), and
    pairs come from a per-prefix-shingle bucket aggregate expanded with
    array expressions (the lsh_candidate_pairs_grouped pattern) instead
    of a self-join — so the prefix frame is never computed twice.
    Everything is bounded by prefix size, not raw shingle frequency.
    """
    from pyspark.sql.window import Window

    w_df = Window.partitionBy("shingle")
    w_rank = Window.partitionBy("id").orderBy("df", "shingle")
    w_sz = Window.partitionBy("id")
    pre = (
        sh.withColumn("df", F.count("*").over(w_df))
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("sz", F.count("*").over(w_sz))
        .filter(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
        )
        .select("id", "shingle")
    )
    buckets = (
        pre.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = _id_pair_expansion()
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_pairs_grouped(arrs: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Exact co-shingle Jaccard WITHOUT the self-join: group (id, set
    size) members per shingle bucket, expand each bucket's sorted
    member list to its in-bucket pairs with array expressions, then
    count per pair — the count IS ``n_common`` (a pair appears in
    exactly one bucket per shared shingle), and the sizes ride along in
    the bucket structs so no size join-back is needed.

    Output-identical to ``jaccard_pairs(sh, threshold=t)`` (pytest
    parity gate): same pair set (co-occurring ids with id_a < id_b from
    the sorted expansion), same integer n_common / set sizes, and the
    jaccard expression is the same double division.

    vs. the self-join form (guide §2.4 / §3.1): the old plan broadcast
    ONE FULL SIDE of the exploded shingle frame (the static estimator
    sizes a localCheckpoint at ~2 MB and picks BroadcastHashJoin —
    measured ~0.7 s/task of broadcast-build/deserialize stall at sf0.1,
    and a corpus-sized broadcast at 100 TB if the estimate ever stays
    under the threshold) plus two more broadcasts for the per-doc size
    frame. This form is two hash aggregates — shingle buckets, then
    pair counts — with NO join machinery anywhere. Pair expansion is
    O(bucket²) either way; callers (jaccard_pairs_adaptive) only take
    this path when Σ df·(df−1)/2 is under the pair budget, so bucket
    fan-out is bounded by construction (hot corpora go through the
    AllPairs prefix filter instead)."""
    sh = arrs.select(
        "id", F.size("sh_arr").alias("n_sh"), F.explode("sh_arr").alias("shingle")
    )
    # Explicit shingle repartition at defaultParallelism BEFORE the
    # bucket aggregate: the stage above this exchange is compute-DENSE
    # but byte-LIGHT (the O(Σ df·(df−1)/2) in-bucket pair expansion runs
    # fused with the aggregate), so AQE's size-based coalescing would
    # shrink it to 1-4 tasks and serialize the expansion (measured 0.84s
    # wall on 4 tasks vs ~0.2s at full width, sf0.1 — the guide §2.5
    # "compute doesn't follow bytes" caveat). REPARTITION_BY_NUM pins
    # the width; the groupBy reuses the same exchange, so shuffle count
    # and bytes are unchanged.
    nparts = arrs.sparkSession.sparkContext.defaultParallelism
    buckets = (
        sh.repartition(nparts, "shingle")
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("id", "n_sh"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    # One parsed SQL string instead of nested Column-lambda composition:
    # identical expression tree / values / schema (pytest-gated), ~60 ms
    # less py4j chatter per plan construction (guide §7.3).
    pairs = F.expr(
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms) - i - 1), "
        "y -> struct(x.id AS id_a, y.id AS id_b, "
        "x.n_sh AS n_a, y.n_sh AS n_b))))"
    )
    inter = (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = inter.select(
        "id_a",
        "id_b",
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        ).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def jaccard_pairs_adaptive(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    k: int = 3,
    pair_budget: int = 50_000_000,
) -> DataFrame:
    """Cost-based EXACT near-dup pair join: choose between the
    co-shingle self-join and AllPairs prefix filtering from the data's
    actual shingle-frequency profile — both paths produce identical
    output, so the choice is purely physical (the same call Catalyst
    makes between broadcast and shuffle joins, made here because the
    statistic it needs — Σ df·(df−1)/2, the co-shingle join's EXACT
    candidate-pair count — is not in its cost model).

    One frequency aggregate (a scalar to the driver) prices the naive
    join. Under ``pair_budget`` the co-shingle join is provably
    bounded and wins on stage count (uniform corpora, test SFs); above
    it — hot boilerplate shingles, the 100 TB regime — the prefix
    filter's rarest-first pruning takes over. Parity across both
    branches is pytest-gated.

    The per-doc shingle-array frame is materialized ONCE
    (localCheckpoint, eager) before anything branches: the pair stage
    fans it out 3-4 ways (both sides of the self-join or the
    prefix-filter, the size frame, and the budget statistic), and
    without a materialization barrier each consumer stage re-executed
    the full tokenize+shingle+hash pipeline concurrently — measured
    18.4s of the 25s task time in q_curation_pipeline_v2's pair stage
    at sf0.1, vs 1.0s for the identical join over materialized
    shingles (guide §1.2 "don't compute things you throw away", §5
    caching-for-reuse).  localCheckpoint(eager) rather than persist():
    consumers read materialized blocks, nothing leaks into a
    long-lived session (the blocks, or with a checkpoint dir the
    checkpoint files, are cleaned once the frame is GC'd: session.py
    turns on checkpoint cleanup), and the budget count() below
    doubles as the barrier the old code paid a separate upstream
    execution for.  At 100 TB this
    IS a checkpoint to cluster storage: reliable_checkpoint switches
    to fault-tolerant ``checkpoint()`` whenever the session has a
    checkpoint dir configured (executor loss cannot strand the
    pipeline), and only falls back to localCheckpoint on
    checkpoint-dir-less single-box sessions like the bench.
    """
    arrs = reliable_checkpoint(
        doc_shingle_arrays(df, id_col, text_col, k=k, hashed=True), eager=True
    )
    # Cheap short-circuit: co-shingle candidates can never exceed
    # N·(N−1)/2, so a small corpus is provably under budget without the
    # frequency pass.  N counts the checkpointed per-doc rows — a
    # metadata-only job over materialized blocks (empty-shingle docs
    # are excluded, which only lowers the bound; both branches produce
    # identical output so the choice stays purely physical).
    n = arrs.count()
    if n * (n - 1) / 2 <= pair_budget:
        return jaccard_pairs_grouped(arrs, threshold=threshold)
    sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
    est = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("est"))
        .first()["est"]
    )
    if est is not None and est <= pair_budget:
        return jaccard_pairs_grouped(arrs, threshold=threshold)
    cand = prefix_filter_candidates(sh, threshold)
    return jaccard_pairs_from_arrays(arrs, cand, threshold=threshold)


def jaccard_pairs(
    sh: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.0,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard.

    With ``pairs`` (the LSH path): intersections are computed BY JOINING
    THROUGH THE CANDIDATE PAIRS — cost is O(|pairs| × shingles/doc),
    immune to hot-shingle skew. Without ``pairs``: co-shingle self-join
    (exact, but skew-prone on common shingles — small inputs only).
    ``sizes`` (id, n_sh) skips the size-shuffle when the caller already
    has it (minhash_signatures provides it for free).
    """
    if sizes is None:
        sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    if pairs is not None:
        sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
        sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
        inter = (
            pairs.join(sh_a, "id_a")
            .join(sh_b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_common"))
        )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def document_segments(
    df: DataFrame, id_col: str, text_col: str, seg_len: int = 10
) -> DataFrame:
    """One row per non-overlapping ``seg_len``-token span of each
    document: (``id``, ``seg_idx``, ``seg``, ``seg_tokens``). The span
    inventory behind C4/RefinedWeb-style SPAN-level dedup — finer than
    whole-document dedup (a boilerplate paragraph pasted into thousands
    of otherwise-distinct pages is invisible to document fingerprints).

    Pure JVM expressions: tokenize once, explode a 0..ceil(n/L)-1 index
    sequence, slice the token array per index. The explode multiplies
    rows ~n/L-fold but adds NO shuffle — it pipelines into whatever
    exchange the consumer needs."""
    d = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t")).withColumn(
        "__n", F.size("__t")
    )
    d = d.withColumn(
        "seg_idx",
        F.explode(
            F.sequence(
                F.lit(0),
                (F.ceil(F.col("__n") / F.lit(seg_len)) - F.lit(1)).cast("int"),
            )
        ),
    )
    return d.select(
        "id",
        "seg_idx",
        F.array_join(
            F.slice("__t", F.col("seg_idx") * seg_len + 1, F.lit(seg_len)), " "
        ).alias("seg"),
        F.least(F.lit(seg_len), F.col("__n") - F.col("seg_idx") * seg_len).alias(
            "seg_tokens"
        ),
    ).filter(F.col("seg") != "")


def segment_dedup(
    segments: DataFrame, id_col: str = "id", idx_col: str = "seg_idx",
    seg_col: str = "seg",
) -> DataFrame:
    """Mark the globally-FIRST occurrence of each distinct span
    (ordered by document id, then span position) with ``kept = true``;
    every repeat — across documents or within one — is ``kept = false``.
    Downstream either drops unkept spans (C4-style span excision) or
    aggregates kept token counts per doc.

    One shuffle, keyed on the span fingerprint. The partition-by
    cardinality is ~|distinct spans| (huge, uniform: md5 of content),
    so per-partition sorted groups are tiny — the same scale shape as
    exact document dedup, just at span granularity."""
    w = Window.partitionBy(F.md5(F.col(seg_col))).orderBy(
        F.col(id_col), F.col(idx_col)
    )
    return segments.withColumn("kept", F.row_number().over(w) == 1)


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    l: int = 8,
    min_repeats: int = 2,
    parallelism: int | None = None,
) -> DataFrame:
    """MAXIMAL duplicated-coverage islands (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): each
    returned span is a maximal contiguous island of tokens covered by
    the extents of ``l``-grams that occur ≥ ``min_repeats`` times
    anywhere in the corpus (cross-document or within one document),
    with islands whose gap is ≤ ``l`` merged. Token COVERAGE — what
    the excision step needs — is exactly the union of duplicated-gram
    extents; interior ``l``-grams of a merged island need not
    themselves be duplicated (e.g. duplicated grams at positions 0 and
    8 with ``l=8`` merge into one island whose grams 1..7 were never
    tested). Returns (``doc_id``, ``span_start``, ``span_end``,
    ``span_tokens``) with 0-based inclusive token offsets — the
    excision list a substring-dedup pass feeds to the text surgery
    step.

    The reference formulation builds a corpus-wide suffix array; the
    Spark-first equivalent is ``l``-gram anchoring: a duplicated
    substring of length ≥ ``l`` is always covered by duplicated
    ``l``-grams, so (1) posexplode every token position
    into its ``l``-gram fingerprint (md5 of the joined window — the
    engine-reproducible hash family), (2) count occurrences per
    fingerprint with ONE window over the fingerprint partition (huge
    uniform key space — the same shuffle shape as exact dedup; at
    100 TB this is the only corpus-sized exchange and it carries
    (id, pos, 16-byte hash) rows, linear in total tokens), (3) keep
    positions whose gram repeats, (4) merge overlapping-or-adjacent
    surviving spans per document into maximal islands with a running
    lag/sum window partitioned by doc (per-partition work bounded by
    document length). No pairwise comparison anywhere — candidate
    volume is Σ n_tokens rows, never corpus².

    Deterministic pure integer/hash arithmetic end to end —
    value-oracles bitwise against the identical SQL over
    ``string_split_regex``/``array_to_string``.
    """
    nparts = parallelism or df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(nparts, id_col).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("t")
    )
    n = F.size("t")
    grams = (
        toks.filter(n >= l)
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), n - l)).alias("p"),
            F.col("t"),
        )
        .select(
            "id",
            "p",
            F.md5(F.array_join(F.slice("t", F.col("p") + 1, l), " ")).alias("g"),
        )
    )
    cnt = F.count("*").over(Window.partitionBy("g"))
    dup = grams.withColumn("c", cnt).filter(F.col("c") >= min_repeats)
    wd = Window.partitionBy("id").orderBy("p")
    # two chained windows over the SAME spec (lag, then running sum of
    # the new-island flags): one exchange + one sort, reused by both —
    # a window function cannot nest inside another in one projection
    flagged = dup.withColumn("prev", F.lag("p").over(wd))
    # spans [p, p+l-1] and [q, q+l-1] merge iff q - p <= l
    island = F.sum(
        F.when(
            F.col("prev").isNull() | (F.col("p") - F.col("prev") > l), 1
        ).otherwise(0)
    ).over(wd)
    return (
        flagged.withColumn("island", island)
        .groupBy(F.col("id").alias(id_col), "island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + l - 1).alias("span_end"),
            (F.max("p") - F.min("p") + l).alias("span_tokens"),
        )
        .drop("island")
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash signature: per-token hash, bitwise ±1 vote, sign → bit.

    One explode + one groupBy (single shuffle); the ``bits`` votes are
    computed as conditional sums in the same aggregate.

    ``hash_fn="xxhash64"`` (default, fastest) or ``"md5"`` — the 60-bit
    :func:`md5_id` family, engine-reproducible so the q_simhash value
    oracle can recompute the signatures bit-for-bit in DuckDB (pass
    ``bits=60`` with it; votes and the bit-reassembly are exact int64
    arithmetic in both engines).  Hamming-distance semantics are
    identical across families."""
    tok = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
    )
    h = md5_id("token") if hash_fn == "md5" else F.xxhash64("token")
    hashed = tok.select("id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("id").agg(*votes)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * (2**i if i < 63 else -(2**63))).otherwise(0)
    return agg.select("id", sig.alias("simhash"))


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs → (id, cluster_id
    = smallest id in the component). This is the resolution step every
    near-dup pipeline needs after pair detection: Jaccard/cosine pairs
    are not transitive, so "keep one per PAIR" over-deletes — you must
    cluster first, then keep one survivor per CLUSTER.

    Iterative smallest-label propagation, pure DataFrame ops: each
    round, every node takes min(own label, neighbors' labels) — one
    equi-join plus one map-side-combinable min aggregate (shuffled by
    node id both times, so AQE can reuse the partitioning). Converges
    in ≤ graph-diameter rounds; near-dup components are tiny cliques in
    practice (diameter ≤ ~3), and only the per-round convergence SCALAR
    reaches the driver — never the edge set. For adversarial
    long-chain graphs swap in large-star/small-star (Kiveris et al.),
    which squares distances per round; same contract.
    """
    # Materialize the DIRECTED pair list once before mirroring it: the
    # union's two branches are separate plan subtrees, so without this
    # the entire upstream pair pipeline (shingle join + Jaccard
    # verification — the most expensive stages of every caller) would
    # execute TWICE, once per direction (measured ~2× the pair-stage
    # cost on q_training_pipeline at sf0.1; guide §2.4 "remove
    # shuffles outright" / §5 caching-for-reuse). A checkpoint
    # rather than persist: it also truncates the lineage so the
    # per-iteration loop below replans against a leaf, and its storage
    # is cleaned once the frame is GC'd (localCheckpoint blocks always;
    # reliable checkpoint files because session.py enables checkpoint
    # cleanup); reliable_checkpoint uses cluster storage when a
    # checkpoint dir is configured, so executor loss can't strand the
    # job at scale.
    fwd = reliable_checkpoint(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        eager=True,
    )
    # Near-dup edge sets are metadata-sized relative to the corpus
    # (pairs survive an LSH/Jaccard threshold): below the threshold,
    # union-find on the collected edges beats paying per-iteration job
    # scheduling for a graph that fits in one hand — the same
    # "driver holds k·dim, never the data" budget as ivf_centroids.
    # Memory math for the default threshold: 100k edges collect as
    # 100k × 2 longs ≈ 1.6 MB raw (≈ tens of MB as Row objects), and
    # the parent dict holds ≤ 200k int entries ≈ 20 MB — far under any
    # driver heap. Above it, the distributed loop takes over unchanged.
    #
    # Branch on the DIRECTED count (mirrored count = exactly 2×, so
    # `2·n_fwd ≤ threshold` is the identical branch condition): the
    # local path never needs the mirrored frame at all — union(a,b)
    # makes union(b,a) a no-op — so the union+persist and the doubled
    # collect volume are paid only on the distributed path (guide §1.2
    # "don't compute things you throw away").
    n_fwd = fwd.count()
    if 2 * n_fwd <= local_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in fwd.collect():
            a, b = row.src, row.dst
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id keeps cluster_id = component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(x, find(x)) for x in parent]
        id_type = pairs.schema[id_a].dataType
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [StructField("id", id_type), StructField("cluster_id", id_type)]
        )
        # Hand the local map to the JVM as ARROW batches (a pandas
        # frame under spark.sql.execution.arrow.pyspark.enabled), not a
        # pickled-Python RDD: createDataFrame(list) parallelizes into
        # defaultParallelism pickled slices, so the consumer's
        # BroadcastExchange over "Scan ExistingRDD" forked ~32 Python
        # workers to unpickle a few thousand rows — measured as a
        # 0.3-1.2 s stall of EVERY task in the join stage downstream
        # (guide §4.1 "every Python path pays"; the Arrow form is the
        # §6 arrow-for-driver-transfers rule applied in reverse).
        # Falls back to the pickle path automatically if pandas/Arrow
        # can't represent the id type (never the case for the long /
        # string ids callers use).
        try:
            import pandas as pd

            local = pd.DataFrame(out, columns=["id", "cluster_id"])
        except Exception:
            local = out
        return pairs.sparkSession.createDataFrame(local, schema)
    # Distributed path (the 100 TB regime): LARGE-STAR / SMALL-STAR
    # contraction (Kiveris et al. 2014, "Connected Components in
    # MapReduce and Beyond") instead of plain min-label propagation.
    # Min-label needs diameter-many rounds (an adversarial id chain =
    # thousands of shuffles); each large+small round roughly SQUARES
    # the contracted distance, so convergence is O(log diameter)
    # rounds — verified by the synthetic long-chain gate
    # (tests/test_round12.py: a 512-hop path converges in
    # <= ceil(log2 d) + 1 rounds, parity with union-find).
    #
    # Per round, with edges kept CANONICAL as (u, v), u > v:
    # - large-star: over the mirrored neighbor list of each node n,
    #   link every strictly-larger neighbor to m(n) = min(N(n) ∪ {n});
    # - small-star: over the canonical list keyed by the larger
    #   endpoint u, link u and all its smaller neighbors to their
    #   minimum.
    # Both passes are a groupBy(min) + same-key join-back (the join
    # reuses the aggregate's partitioning — no extra exchange) and an
    # edge rewrite; NOTHING is ever collected.  The fixed point is a
    # star forest centered at each component's minimum id (paper
    # Thm 1), so labels read directly off the final edge list.
    # Convergence = the canonical edge set is UNCHANGED by a full
    # round, checked exactly with a count + exceptAll probe (no
    # checksum false-convergence risk); each round's set is
    # materialized via reliable_checkpoint, so lineage stays flat and
    # executor loss is survivable when a checkpoint dir is set.
    e = reliable_checkpoint(
        fwd.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        eager=True,
    )
    n_edges = e.count()
    converged = False
    for _ in range(max_iter):
        # large-star over mirrored neighborhoods
        nbrs = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over canonical (larger-endpoint-keyed) lists
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(mins2, "u")
        small = (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_e = reliable_checkpoint(small, eager=True)
        new_n = new_e.count()
        if new_n == n_edges and new_e.exceptAll(e).isEmpty():
            e = new_e
            converged = True
            break
        e, n_edges = new_e, new_n
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters: star contraction did not converge in "
            f"{max_iter} rounds — raise max_iter (each round squares "
            f"contracted distances, so this needs ~log2(diameter) rounds)"
        )
    # Star forest: every edge is (member, component-min); centers are
    # exactly the dst side.  Labels = members' edges + (center, center),
    # plus (x, x) for a node seen only in self-loops, which the
    # canonical edge set dropped and union-find labels as its own
    # cluster.
    centers = e.select(F.col("v").alias("id")).distinct()
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id")).union(
        centers.select("id", F.col("id").alias("cluster_id"))
    )
    loners = (
        fwd.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("id"))
        .distinct()
        .join(labels, "id", "left_anti")
    )
    labels = labels.union(loners.select("id", F.col("id").alias("cluster_id")))
    return reliable_checkpoint(labels, eager=True)


def resolve_duplicates(
    df: DataFrame, clusters: DataFrame, id_col: str
) -> DataFrame:
    """Keep one canonical row per duplicate cluster (the cluster-min
    id) plus every unclustered row. Broadcast-friendly: the cluster map
    is |near-dup nodes| rows, orders of magnitude smaller than the
    corpus."""
    c = clusters.select(F.col("id").alias(id_col), "cluster_id")
    return (
        df.join(c, id_col, "left")
        .filter(F.col("cluster_id").isNull() | (F.col(id_col) == F.col("cluster_id")))
        .drop("cluster_id")
    )
