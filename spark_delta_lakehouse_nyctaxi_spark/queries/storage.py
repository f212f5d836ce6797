"""Storage-path queries: CSV scan/sink round-trip, time travel,
incremental CDC, and the full silver transform — each driving the REAL
storage layer (VersionedTable / CSV files), verified against SQL
oracles expressing the intended end state."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..incremental import incremental_append, refresh_aggregate
from ..sources.readers import load_table, read_csv
from ..sources.table import VersionedTable
from .merge import scratch_dir
from . import register


@register(
    "q_scan_csv",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    """,
    doc="CSV sink + scan round-trip (S1/S7): write orders as CSV with "
        "header (coalesced, tests the single-file sink path), read back "
        "with header+inferSchema (etl/bronze_job.py:17-38 semantics). "
        "Doubles round-trip via shortest-repr; the oracle is the "
        "original table.",
)
def q_scan_csv(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    path = scratch_dir("csv")
    orders.coalesce(1).write.option("header", "true").mode("overwrite").csv(path)
    return read_csv(spark, path).select(
        F.col("o_orderkey").cast("long"),
        F.col("o_custkey").cast("long"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double"),
    )


@register(
    "q_time_travel",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    doc="Time-travel scan (S3; utils/delta_ops.py:132-164): write v0, "
        "append v1, read back version 0 — the oracle is v0's contents.",
)
def q_time_travel(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    t = VersionedTable(spark, scratch_dir("ttravel"))
    t.write(orders.filter(F.col("o_orderkey") % 3 == 0), mode="overwrite")
    t.write(orders.filter(F.col("o_orderkey") % 3 == 1), mode="append")
    return t.read(version=0)


@register(
    "q_incremental",
    """
    SELECT event_id, ts, user_id, value FROM events
    """,
    doc="Incremental CDC (F5+S5; utils/incremental.py): seed the target "
        "with pre-cutoff events, run watermark→filter→append over the "
        "full source; end state must equal the source exactly (each row "
        "ingested once).",
)
def q_incremental(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    t = VersionedTable(spark, scratch_dir("incr"))
    t.write(events.filter(F.col("ts") <= cutoff), mode="overwrite")
    incremental_append(t, events, "ts")
    return t.read()


@register(
    "q_silver_pipeline",
    """
    WITH f AS (
        SELECT o_orderkey, o_custkey,
               LOWER(TRIM(o_orderstatus)) AS o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority,
               CAST(o_orderdate AS DATE) AS order_date
        FROM orders
        WHERE o_orderkey IS NOT NULL AND o_orderdate IS NOT NULL
          AND o_totalprice >= 0.0
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority, order_date
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY o_orderdate) AS rn
        FROM f
    ) WHERE rn = 1
    """,
    doc="The complete silver transform (casts + normalize + conjunctive "
        "filters + deterministic dedup + schema enforcement) as one "
        "verifiable query — the pipeline's semantics under the oracle.",
)
def q_silver_pipeline(spark, sf_dir):
    from ..pipeline.jobs import silver_transform

    bronze = load_table(spark, sf_dir, "orders")
    return silver_transform(bronze, {"filters": {"min_total_price": 0.0}})


@register(
    "q_range_layout",
    """
    SELECT CAST(l_shipdate AS DATE) AS ship_date,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY CAST(l_shipdate AS DATE)
    """,
    doc="Range-partitioned sorted layout (OPTIMIZE/Z-ORDER analogue for "
        "plain parquet): repartitionByRange(l_shipdate) + "
        "sortWithinPartitions gives globally range-clustered files, so "
        "a time-window scan prunes to the few overlapping files via "
        "parquet min/max — the layout discipline a 100 TB fact table "
        "needs. The query writes the layout, reads it back, and "
        "aggregates a window; the oracle is the same window on the "
        "original table (layout must not change results).",
)
def q_range_layout(spark, sf_dir):
    from .aggregates import dsum

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    path = scratch_dir("rangelayout")
    (
        l.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.to_date("l_shipdate").alias("ship_date"))
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@register(
    "q_zorder_layout",
    """
    SELECT l_suppkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(22,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 200
    GROUP BY l_suppkey
    """,
    doc="Z-order (Morton) clustered layout over (l_partkey, l_suppkey): "
        "the OPTIMIZE ZORDER analogue — bit-interleaved rank positions, "
        "range-partitioned and sorted so parquet min/max stats prune "
        "point/range predicates on EITHER column. The query writes the "
        "layout, reads it back through a partkey range, and aggregates; "
        "the oracle is the same predicate on the original table (layout "
        "must never change results).",
)
def q_zorder_layout(spark, sf_dir):
    from ..sources.zorder import write_zordered
    from .aggregates import dsum

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    path = scratch_dir("zorder")
    write_zordered(l, path, ["l_partkey", "l_suppkey"], num_files=8)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("l_partkey").between(100, 200))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "q_hilbert_layout",
    """
    SELECT l_suppkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(22,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 200 AND l_suppkey BETWEEN 10 AND 60
    GROUP BY l_suppkey
    """,
    doc="HILBERT-curve clustered layout over (l_partkey, l_suppkey) - "
        "the locality-preserving upgrade of q_zorder_layout (liquid-"
        "clustering-style): successive curve cells are edge-adjacent, "
        "so file bounding boxes are tighter than Morton's "
        "diagonal-jump cells and min/max pruning admits fewer files "
        "for the same 2-D predicate (Moon et al., TKDE 2001). The "
        "curve walk is certified cell-by-cell against the classic "
        "xy2d reference in tests/test_bucketing.py; the oracle here "
        "is layout INDEPENDENCE - the same 2-D range predicate on the "
        "original table must give identical results (a layout that "
        "changes answers is corruption, not clustering).",
)
def q_hilbert_layout(spark, sf_dir):
    from ..sources.hilbert import write_hilbert_clustered
    from .aggregates import dsum

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    path = scratch_dir("hilbert")
    write_hilbert_clustered(
        l, path, ["l_partkey", "l_suppkey"], num_files=8
    )
    back = spark.read.parquet(path)
    return (
        back.filter(
            F.col("l_partkey").between(100, 200)
            & F.col("l_suppkey").between(10, 60)
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "q_table_changes",
    """
    WITH v0 AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 0
    ), src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
    ), v1 AS (
        SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
               COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
               COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
               COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus
        FROM v0 t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
    ), v2 AS (
        SELECT * FROM v1 WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN o.o_custkey ELSE n.o_custkey END AS o_custkey,
           CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice ELSE n.o_totalprice END AS o_totalprice,
           CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus ELSE n.o_orderstatus END AS o_orderstatus,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update_postimage' END AS _change_type
    FROM v0 o FULL JOIN v2 n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR n.o_custkey     IS DISTINCT FROM o.o_custkey
       OR n.o_totalprice  IS DISTINCT FROM o.o_totalprice
       OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
    """,
    doc="Change data feed across three table versions (Delta CDF "
        "analog): v0 seed → v1 MERGE upsert → v2 delete-overwrite; "
        "changes(0, latest) must tag every key as insert / "
        "update_postimage / delete exactly once, with insert/update "
        "rows carrying the new image and deletes the old. Verified "
        "against the equivalent snapshot full-outer diff in SQL.",
)
def q_table_changes(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    t = VersionedTable(spark, scratch_dir("cdf"))
    t.write(orders.filter(F.col("o_orderkey") % 3 == 0), mode="overwrite")
    t.merge(
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        ),
        keys=["o_orderkey"],
    )
    t.write(t.read().filter(F.col("o_orderkey") % 5 != 0), mode="overwrite")
    return t.changes(0, keys=["o_orderkey"])


@register(
    "q_incremental_agg",
    """
    SELECT CAST(o_orderdate AS DATE) AS order_date,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY 1
    """,
    doc="Incremental materialized-view maintenance: the daily-KPI "
        "aggregate is seeded from pre-cutoff orders, then two refresh "
        "batches fold PARTIAL aggregates of only the new rows into the "
        "stored view (MERGE with additive update_exprs — matched "
        "groups add, new groups insert). The additive column stays "
        "DECIMAL inside the table so seed ⊕ increments is bit-equal "
        "to the from-scratch aggregate regardless of batching; the "
        "oracle IS that from-scratch aggregate. The reference recomputes "
        "gold from all of silver every run (etl/gold_job.py:40-97) — "
        "this is the 100 TB-viable alternative.",
)
def q_incremental_agg(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")

    def partial(df):
        return df.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(22,2)")).alias("total_revenue"),
        )

    c1 = F.lit("1993-01-01").cast("timestamp_ntz")
    c2 = F.lit("1996-01-01").cast("timestamp_ntz")
    t = VersionedTable(spark, scratch_dir("incagg"))
    t.write(partial(orders.filter(F.col("o_orderdate") < c1)), mode="overwrite")
    refresh_aggregate(
        t,
        partial(orders.filter((F.col("o_orderdate") >= c1) & (F.col("o_orderdate") < c2))),
        keys=["order_date"],
        add_columns=["n_orders", "total_revenue"],
    )
    refresh_aggregate(
        t,
        partial(orders.filter(F.col("o_orderdate") >= c2)),
        keys=["order_date"],
        add_columns=["n_orders", "total_revenue"],
    )
    return t.read().select(
        "order_date", "n_orders", F.col("total_revenue").cast("double").alias("total_revenue")
    )


@register(
    "q_table_dml",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
    """,
    doc="Row-level DML through the versioned storage path (Delta "
        "UPDATE/DELETE analogs): UPDATE SET price*1.1 WHERE open, then "
        "DELETE WHERE key%7=0 — each a new rewritten version (old "
        "versions stay time-travelable; partitioned deletes carry "
        "untouched partitions by reference). Oracle is the equivalent "
        "CASE + filter over the source.",
)
def q_table_dml(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    t = VersionedTable(spark, scratch_dir("dml"))
    t.write(orders.filter(F.col("o_orderkey") % 3 == 0), mode="overwrite")
    t.update({"o_totalprice": "o_totalprice * 1.1"}, condition="o_orderstatus = 'O'")
    t.delete("o_orderkey % 7 = 0")
    return t.read()


@register(
    "q_scan_json",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    doc="JSON-lines source scan (S1's sibling): events staged as "
        "json-lines files, read back with a DECLARED schema (single "
        "pass — schema inference doubles the IO at 100 TB), nested "
        "field projected out. Oracle extracts the same field from the "
        "original props strings.",
)
def q_scan_json(spark, sf_dir):
    from ..sources.readers import read_json

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.from_json("props", "k long").alias("p")
    )
    path = scratch_dir("jsonl")
    ev.select(F.to_json(F.struct("event_id", F.col("p.k").alias("k"))).alias("j")).coalesce(
        4
    ).write.mode("overwrite").text(path)
    return read_json(spark, path, "event_id long, k long").select("event_id", "k")


@register(
    "q_scan_orc",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_totalprice > 100000.0
    """,
    doc="ORC source/sink round-trip (the other columnar format Spark "
        "ships natively): orders written as ORC, read back, filter "
        "pushed to the ORC reader the same way parquet gets it. Oracle "
        "is the same predicate on the original table.",
)
def q_scan_orc(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir("orc")
    orders.write.mode("overwrite").orc(path)
    return spark.read.orc(path).filter(F.col("o_totalprice") > 100000.0)


@register(
    "q_scan_pysource",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    doc="Custom Python DataSource (Spark 4 pyspark.sql.datasource API — "
        "sources/pysource.py): JSONL manifest read through a "
        "user-defined connector with explicit partition planning (one "
        "InputPartition per file → per-executor reads, nothing on the "
        "driver). Same staged data and oracle as q_scan_json, proving "
        "the custom connector matches the built-in reader row-for-row.",
)
def q_scan_pysource(spark, sf_dir):
    from ..sources.pysource import JsonlDataSource

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.from_json("props", "k long").alias("p")
    )
    path = scratch_dir("pysrc")
    ev.select(
        F.to_json(F.struct("event_id", F.col("p.k").alias("k"))).alias("j")
    ).coalesce(4).write.mode("overwrite").text(path)
    spark.dataSource.register(JsonlDataSource)
    return spark.read.format("jsonl_manifest").option("path", path).load()


@register(
    "q_scan_text",
    "SELECT text AS value FROM documents",
    doc="Line-based text source round-trip (spark.read.text — the raw "
        "ingestion format for unstructured corpora): documents staged "
        "as text files, read back one row per line. The corpus has no "
        "embedded newlines, so the round-trip is exact; the oracle is "
        "the original text column.",
)
def q_scan_text(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("text")
    path = scratch_dir("text_src")
    docs.coalesce(4).write.mode("overwrite").text(path)
    return spark.read.text(path)


@register(
    "q_scan_binary",
    """
    SELECT CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
           md5(text) AS content_md5,
           CAST(LENGTH(text) AS BIGINT) AS content_len
    FROM documents WHERE doc_id < 64
    """,
    doc="binaryFile source — THE ingest path for multimodal payloads "
        "(images/audio enter the lake as opaque bytes + path "
        "metadata): 64 per-document binary files staged, read back "
        "with spark.read.format('binaryFile'), keyed by file name with "
        "md5/length of the content verified against the source bytes. "
        "At 100 TB this reader scales like any file scan (one task per "
        "file group); pathGlobFilter/recursiveFileLookup handle layout.",
)
def q_scan_binary(spark, sf_dir):
    import os

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    path = scratch_dir("bin_src")
    os.makedirs(path, exist_ok=True)
    for r in docs.select("doc_id", "text").collect():  # 64 small files — test staging only
        with open(os.path.join(path, f"{r.doc_id}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    bf = spark.read.format("binaryFile").load(path)
    return bf.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.md5(F.col("content")).alias("content_md5"),
        F.col("length").alias("content_len"),
    )


@register(
    "q_stats_skipping",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderkey BETWEEN 100 AND 700
    GROUP BY o_orderstatus
    """,
    doc="Manifest-level data skipping (Delta per-file stats analog): a "
        "clustered ingest (four key-range appends, each commit storing "
        "per-unit min/max in the version manifest via "
        "write(stats_cols=...)) is scanned through a key-range "
        "predicate; units whose stats are provably disjoint never reach "
        "the reader's FILE LISTING — pruning BEFORE parquet footers are "
        "even opened, one manifest read on the driver. The query raises "
        "if nothing was skipped, so the driver's value check also "
        "certifies the pruning really engaged. Complements "
        "q_zorder_layout (row-group stats pruning inside files). At "
        "100 TB with time-ordered ingest this is the difference between "
        "listing one unit and listing the table.",
)
def q_stats_skipping(spark, sf_dir):
    from .aggregates import dsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = VersionedTable(spark, scratch_dir("skipping"))
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    q = mx // 4 + 1
    for i in range(4):
        batch = orders.filter(
            (F.col("o_orderkey") >= i * q) & (F.col("o_orderkey") < (i + 1) * q)
        )
        t.write(batch, mode="append" if i else "overwrite", stats_cols=["o_orderkey"])
    out = t.scan({"o_orderkey": (100, 700)})
    # the contract is executable: a scan that silently degraded to
    # reading every unit must fail loudly, not pass on correct values
    if t.last_scan["skipped"] < 2:
        raise AssertionError(f"stats skipping ineffective: {t.last_scan}")
    return out.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price")
    )


@register(
    "q_mor_delete",
    """
    SELECT event_id, user_id, value FROM events
    WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
      AND NOT coalesce(value > 300, false)
    UNION ALL
    SELECT event_id, user_id, value FROM events
    WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    """,
    doc="Merge-on-read DELETE (deletion-vector / Iceberg equality-"
        "delete analog): the predicate commits as a metadata-only "
        "tombstone — zero data rewrite, the O(1)-commit path that "
        "matters when a GDPR delete hits a 100 TB table — and reads "
        "apply it scoped to the units that existed at delete time, so "
        "the post-cutoff append here keeps its value>300 rows even "
        "though they match the tombstone. OPTIMIZE later materializes "
        "and clears pending tombstones (test-pinned). The oracle is "
        "the two-epoch union the scoping semantics define.",
)
def q_mor_delete(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    t = VersionedTable(spark, scratch_dir("mordel"))
    t.write(ev.filter(F.col("ts") < cutoff).drop("ts"), mode="overwrite")
    t.delete("value > 300", mode="merge-on-read")
    t.write(ev.filter(F.col("ts") >= cutoff).drop("ts"), mode="append")
    return t.read()


@register(
    "q_cdf_sync",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 50.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE NOT (o_orderkey % 7 = 0)
    """,
    doc="Change-data-feed ROUND TRIP: a downstream table is bootstrapped "
        "from the source snapshot, the source takes an UPDATE and a "
        "merge-on-read DELETE, and sync_changes replays the net feed "
        "with one whenMatchedDelete-capable MERGE — the downstream copy "
        "must equal the source's final state exactly (the oracle "
        "recomputes that state relationally). At 100 TB the consumer "
        "reads the CHANGES, never the table.",
)
def q_cdf_sync(spark, sf_dir):
    from ..incremental import sync_changes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = VersionedTable(spark, scratch_dir("cdfsrc"))
    dst = VersionedTable(spark, scratch_dir("cdfdst"))
    src.write(orders, mode="overwrite")
    sync_changes(src, dst, ["o_orderkey"], from_version=0)  # bootstrap
    src.update({"o_totalprice": "o_totalprice + 50.0"}, "o_orderkey % 10 = 0")
    src.delete("o_orderkey % 7 = 0", mode="merge-on-read")
    sync_changes(src, dst, ["o_orderkey"], from_version=0)
    return dst.read()


@register(
    "q_column_rename",
    f"""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Metadata-only column rename round trip (Delta column-mapping "
        "analog): write even-key orders, RENAME o_totalprice→price "
        "(zero data IO — the query RAISES unless the manifest carries "
        "the mapping, so the driver's value check certifies the "
        "metadata-only path), append the odd-key rows under the NEW "
        "logical name, read back and aggregate. The oracle recomputes "
        "the end state relationally over the full orders table.",
)
def q_column_rename(spark, sf_dir):
    from .aggregates import dsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = VersionedTable(spark, scratch_dir("rename"))
    t.write(orders.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    t.rename_column("o_totalprice", "price")
    if t.detail()["column_mapping"] != {"o_totalprice": "price"}:
        raise AssertionError("rename did not commit as a metadata-only mapping")
    t.write(
        orders.filter(F.col("o_orderkey") % 2 == 1).withColumnRenamed(
            "o_totalprice", "price"
        ),
        mode="append",
    )
    return (
        t.read()
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("n_orders"), dsum("price").alias("total_price"))
    )


@register(
    "q_stream_pysource",
    """
    SELECT CAST(r.range AS BIGINT) AS i,
           ('0x' || substr(md5(CAST(r.range AS VARCHAR)), 1, 15))::BIGINT % 1000 AS v
    FROM range(300) r
    """,
    doc="STREAMING custom Python DataSource (Spark 4 "
        "SimpleDataSourceStreamReader — sources/pysource.py): a "
        "synthetic offset-tracked feed drained through a real "
        "checkpointed streaming query into a memory sink. The rows are "
        "a pure function of the offset range (md5-derived payloads), "
        "so the oracle re-derives the exact expected table — the value "
        "check certifies offset planning, micro-batch delivery, and "
        "exactly-once accumulation end-to-end.",
)
def q_stream_pysource(spark, sf_dir):
    import time as _time
    import uuid as _uuid

    from ..sources.pysource import CounterStreamDataSource

    spark.dataSource.register(CounterStreamDataSource)
    tbl = f"pysrc_stream_{_uuid.uuid4().hex[:8]}"
    sdf = (
        spark.readStream.format("counter_stream")
        .option("total", "300")
        .option("batch", "100")
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(tbl)
        .outputMode("append")
        .option("checkpointLocation", scratch_dir("ckpt_pysrc"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.table(tbl).count() >= 300:
                break
            _time.sleep(0.3)
        else:
            raise TimeoutError("counter_stream did not deliver 300 rows in 120s")
    finally:
        q.stop()
    return spark.table(tbl)


@register(
    "q_table_clone",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
    """,
    doc="Hard-link SHALLOW CLONE round trip: snapshot the even-key "
        "orders, clone the table (zero data copy — every parquet file "
        "hard-linked, O(files) driver time, no Spark job), then DELETE "
        "and APPEND on the ORIGINAL. The clone must still read exactly "
        "the snapshot — the oracle recomputes that state relationally, "
        "so the value check certifies clone isolation. Unlike Delta's "
        "shallow clone, vacuuming either side cannot break the other "
        "(links keep inodes alive).",
)
def q_table_clone(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = VersionedTable(spark, scratch_dir("clonesrc"))
    t.write(orders.filter(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    clone = t.clone(scratch_dir("clonedst"))
    # mutate the ORIGINAL after cloning — the clone must not see it
    t.delete("o_totalprice > 100000.0")
    t.write(
        orders.filter(F.col("o_orderkey") % 2 == 1).limit(10), mode="append"
    )
    return clone.read()


@register(
    "q_generated_column",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS price_band
    FROM orders
    """,
    doc="Generated column (Delta GENERATED ALWAYS AS analog) round "
        "trip: register price_band = floor(o_totalprice/50000), write "
        "half the rows WITHOUT the column (it is computed), append the "
        "other half WITH it precomputed (the write job that stores it "
        "also counts rows breaking the equation, with the CHECK "
        "constraints — a wrong value rejects the commit). The oracle "
        "recomputes the expression relationally over all rows.",
)
def q_generated_column(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = VersionedTable(spark, scratch_dir("gencol"))
    band = F.floor(F.col("o_totalprice") / 50000.0).cast("long")
    t.write(
        orders.filter(F.col("o_orderkey") % 2 == 0).withColumn("price_band", band),
        mode="overwrite",
    )
    t.add_generated_column("price_band", "CAST(floor(o_totalprice / 50000.0) AS BIGINT)")
    # the appender omits the column — the table computes it
    t.write(orders.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    return t.read()


@register(
    "q_identity_column",
    """
    WITH b1 AS (
        SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 = 1
    ),
    b2 AS (
        SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 = 2
    )
    SELECT o_orderkey, o_custkey,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_id
    FROM b1
    UNION ALL
    SELECT o_orderkey, o_custkey,
           (SELECT COUNT(*) FROM b1)
               + ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_id
    FROM b2
    """,
    doc="Identity column (Delta GENERATED ALWAYS AS IDENTITY analog, "
        "round 4): the table allocates monotonically increasing ids on "
        "every write that omits the column — assignment runs through "
        "the distributed global_row_number pattern (range exchange + "
        "offset cumsum, no single-partition window), the watermark "
        "carries across commits, and explicit supply is refused. Two "
        "appends of disjoint order slices; the oracle reproduces the "
        "deterministic lexicographic allocation with ROW_NUMBER plus "
        "the first batch's count as the second batch's offset.",
)
def q_identity_column(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    t = VersionedTable(spark, scratch_dir("identity"))
    t.add_identity_column("row_id", start=1, step=1)
    t.write(orders.filter(F.col("o_orderkey") % 7 == 1), mode="overwrite")
    t.write(orders.filter(F.col("o_orderkey") % 7 == 2), mode="append")
    return t.read()


@register(
    "q_bloom_skipping",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders WHERE o_custkey = 7
    """,
    doc="Bloom-filter data skipping (Delta/Parquet bloom index analog, "
        "round 4) — the POINT-LOOKUP complement of range stats: four "
        "hash-disjoint appends each store a per-unit 4096-bit bloom "
        "over o_custkey in the manifest (write(bloom_cols=...); "
        "appends inherit the bloom columns), and an equality scan "
        "probes the value's 5 xxhash64 bit positions against each "
        "bitset — value-free units never reach the file listing, no "
        "range clustering required. The query RAISES unless ≥ 2 units "
        "were provably skipped, so the value check certifies the "
        "pruning engaged. min/max stats cannot skip here (every unit "
        "spans the full custkey range — that is the point).",
)
def q_bloom_skipping(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    t = VersionedTable(spark, scratch_dir("bloom"))
    # hash-partitioned batches: custkey ranges OVERLAP fully across
    # units (min/max useless) but each custkey lands in exactly one
    for i in range(4):
        batch = orders.filter(F.col("o_custkey") % 4 == i).coalesce(1)
        t.write(batch, mode="append" if i else "overwrite", bloom_cols=["o_custkey"])
    out = t.scan(eq={"o_custkey": 7})
    if t.last_scan["skipped"] < 2:
        raise AssertionError(f"bloom skipping ineffective: {t.last_scan}")
    return out


@register(
    "q_pysource_writer",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    doc="Custom Python DataSource WRITER (Spark 4 API, round 4 — the "
        "write half of q_scan_pysource's connector): the frame is "
        "written THROUGH the user-defined sink — per-partition "
        "executor-side part files, two-phase driver commit (tmp-rename "
        "finalization, overwrite reconciliation, row-count manifest) — "
        "then read back through the same connector's reader. The "
        "oracle is the original relational content, so a lost "
        "partition, a half-written file, or a broken commit protocol "
        "fails the value check.",
)
def q_pysource_writer(spark, sf_dir):
    import json
    import os

    from ..sources.pysource import JsonlDataSource

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.from_json("props", "k long").alias("p")
    ).select("event_id", F.col("p.k").alias("k"))
    path = scratch_dir("pysink")
    spark.dataSource.register(JsonlDataSource)
    ev.repartition(4).write.format("jsonl_manifest").mode("overwrite").option(
        "path", path
    ).save()
    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    n = ev.count()
    if man["rows"] != n:
        raise AssertionError(f"sink manifest rows {man['rows']} != {n}")
    return (
        spark.read.format("jsonl_manifest")
        .schema("event_id long, k long")
        .option("path", path)
        .load()
    )


@register(
    "q_column_defaults",
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus
                ELSE 'UNREVIEWED' END AS review_status,
           CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2.0
                ELSE o_totalprice END AS adj_price
    FROM orders
    """,
    doc="Column DEFAULTs (Delta ALTER TABLE ... SET DEFAULT analog, "
        "round 4 — completing the generated/identity/default column "
        "triple): even-keyed rows are written WITH explicit values "
        "(pass through untouched), odd-keyed rows omit both columns "
        "and get the registered defaults — one literal, one "
        "row-dependent expression (a superset of Delta's "
        "constant-foldable defaults). The oracle inlines the CASE per "
        "row; a default leaking onto explicit rows or vice versa "
        "flips values.",
)
def q_column_defaults(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    t = VersionedTable(spark, scratch_dir("defaults"))
    even = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderstatus").alias("review_status"),
        (F.col("o_totalprice") * 2.0).alias("adj_price"),
    )
    t.write(even, mode="overwrite")
    t.add_column_default("review_status", "'UNREVIEWED'")
    t.add_column_default("adj_price", "o_totalprice")
    t.write(
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice"
        ),
        mode="append",
    )
    return t.read()


@register(
    "q_replace_where",
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'F'
                THEN o_totalprice * 0.5 ELSE o_totalprice END AS price
    FROM orders
    """,
    doc="Delta overwrite+replaceWhere analog (round 4): the idempotent "
        "backfill — status-'F' rows are atomically replaced with a "
        "repriced frame while every other row (and its units, carried "
        "BY REFERENCE via the file-level matched-file scan) is "
        "untouched; incoming rows outside the predicate reject the "
        "whole commit. The oracle applies the replacement relationally. "
        "The status partitioning makes the carry observable: only the "
        "'F' partition is rewritten.",
)
def q_replace_where(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price")
    )
    t = VersionedTable(spark, scratch_dir("replwhere"))
    t.write(orders, mode="overwrite", partition_by=["o_orderstatus"])
    repriced = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus", (F.col("price") * 0.5).alias("price")
    )
    t.replace_where(repriced, "o_orderstatus = 'F'")
    return t.read()


@register(
    "q_pysource_pushdown",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 2
      AND event_id < 5000
    """,
    doc="Python DataSource FILTER PUSHDOWN (Spark 4.1 pushFilters — "
        "completing the connector surface: batch reader with partition "
        "planning, streaming reader, two-phase writer, and now "
        "pushdown): the comparison predicates are accepted by the "
        "connector and evaluated INSIDE its read loop; because "
        "accepted filters are not returned to Spark, nothing "
        "re-applies them — so the value check certifies the connector "
        "genuinely filtered (a claimed-but-ignored filter leaks rows "
        "and fails the hash).",
)
def q_pysource_pushdown(spark, sf_dir):
    from ..sources.pysource import JsonlPushdownDataSource

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.from_json("props", "k long").alias("p")
    )
    path = scratch_dir("pushdown")
    ev.select(
        F.to_json(F.struct("event_id", F.col("p.k").alias("k"))).alias("j")
    ).coalesce(4).write.mode("overwrite").text(path)
    # the pushdown conf is session-global and read at plan time — save
    # and restore it around an in-query materialization (mirroring
    # q_bloom_join, ADVICE r4) instead of leaking it into every later
    # query of the sweep
    conf_key = "spark.sql.python.filterPushdown.enabled"
    try:
        saved = spark.conf.get(conf_key)
    except Exception:
        saved = None
    spark.conf.set(conf_key, "true")
    try:
        spark.dataSource.register(JsonlPushdownDataSource)
        out = (
            spark.read.format("jsonl_manifest_fp")
            .schema("event_id long, k long")
            .option("path", path)
            .load()
            .filter((F.col("k") >= 2) & (F.col("event_id") < 5000))
        )
        rows, schema = out.collect(), out.schema
    finally:
        if saved is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, saved)
    return spark.createDataFrame(rows, schema)


@register(
    "q_scan_xml",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    """,
    doc="XML source/sink round-trip (Spark 4 ships the former spark-xml "
        "package as a built-in format): events written as XML rows "
        "(rowTag=event), read back with an explicit schema (inference "
        "is a second pass over the files at scale, and typed reads are "
        "the production shape). Doubles survive via Java shortest-repr "
        "toString, which reparses to the identical bit pattern, so the "
        "oracle is the original projection. At 100 TB the XML reader "
        "distributes like any text scan — one task per file split; "
        "rowTag framing handles records spanning splits.",
)
def q_scan_xml(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = scratch_dir("xml_src")
    (
        ev.coalesce(4)
        .write.format("xml")
        .option("rowTag", "event")
        .mode("overwrite")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema("event_id long, user_id long, event_type string, value double")
        .load(path)
    )


@register(
    "q_dpp_certified",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE year(o_orderdate) % 2 = 0
    GROUP BY 1
    """,
    doc="DYNAMIC PARTITION PRUNING, certified in-query: orders is laid "
        "out partitioned by order year (the classic date-partitioned "
        "fact at 100 TB), then joined to a small dim whose filter "
        "(grp = 'g0' == even years) is only knowable at runtime. "
        "Catalyst must inject a dynamicpruningexpression into the "
        "fact scan's PartitionFilters so only the selected year "
        "directories are read — on a 7-year 100 TB fact that is the "
        "difference between scanning ~4/7 of the data and all of it. "
        "Like q_bloom_join, the query RAISES if the executed plan does "
        "not carry the pruning subquery, so the driver's value check "
        "doubles as a plan certificate. The oracle states the end "
        "semantics (even-year revenue) directly.",
)
def q_dpp_certified(spark, sf_dir):
    from ..plans import explain_str
    from .aggregates import dsum

    path = scratch_dir("dpp_fact")
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.withColumn("order_year", F.year("o_orderdate").cast("int"))
        .write.mode("overwrite")
        .partitionBy("order_year")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    years = [r.order_year for r in fact.select("order_year").distinct().collect()]
    dim = spark.createDataFrame(
        [(y, f"g{y % 2}") for y in sorted(years)], "order_year int, grp string"
    )
    joined = (
        fact.join(dim.filter(F.col("grp") == "g0"), "order_year")
        .groupBy("order_year")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )
    if "dynamicpruningexpression" not in explain_str(joined).lower():
        raise AssertionError(
            "dynamic partition pruning was not injected into the fact scan"
        )
    return joined


@register(
    "q_log_checkpoint",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderkey % 12 <= 7
    GROUP BY o_orderstatus
    """,
    doc="Version-log CHECKPOINTING (metadata scale): 13 commits land on "
        "a VersionedTable, the 10th auto-writes a parquet checkpoint of "
        "the full manifest history (Delta's _delta_log "
        "NNN.checkpoint.parquet, found by listing the log), and "
        "cleanup_log() deletes the covered JSON manifests. At 100k commits snapshot resolution "
        "through the log would otherwise reopen 100k driver-side JSON "
        "files; through the checkpoint it is one parquet read + the "
        "tail. The query then TIME TRAVELS to version 7 — a version "
        "whose JSON manifest no longer exists — proving the checkpoint "
        "retains every time-travel target (stronger than Delta, whose "
        "checkpoints hold only the live snapshot). RAISES in-query if "
        "the checkpoint/cleanup invariants do not hold, so the "
        "value check doubles as a storage-layout certificate.",
)
def q_log_checkpoint(spark, sf_dir):
    import os

    from .aggregates import dsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = VersionedTable(spark, scratch_dir("logckpt"))
    t.write(orders.filter(F.col("o_orderkey") % 12 == 0), mode="overwrite")
    for i in range(1, 13):
        t.write(orders.filter(F.col("o_orderkey") % 12 == i), mode="append")
    ck_v, infos = t._read_checkpoint()
    if ck_v != 10 or len(infos) != 11:
        raise AssertionError(f"auto-checkpoint missing: ck_v={ck_v}")
    removed = t.cleanup_log()
    if removed != 11:
        raise AssertionError(f"cleanup removed {removed} manifests, want 11")
    if any(t._is_version_file(f) and int(f[:-5]) <= 10 for f in os.listdir(t._vlog)):
        raise AssertionError("covered JSON manifests survived cleanup")
    # version 7 = slices 0..7; its JSON manifest is gone — resolution
    # goes through the checkpoint
    return (
        t.read(version=7)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


@register(
    "q_compact_certified",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderkey % 8 < 6
    GROUP BY o_orderstatus
    """,
    doc="OPTIMIZE/COMPACTION certified in-query: six small appends "
        "fragment the table into many units (the streaming-ingest "
        "small-file problem — at 100 TB a scan of 10^6 tiny files is "
        "dominated by open/seek overhead and planning, not bytes), "
        "then compact(target_files=2) rewrites the snapshot. The query "
        "RAISES unless (a) the data-file count actually dropped to "
        "the target (24 4-file append fragments -> 2), (b) the compaction committed as a new OPTIMIZE "
        "version (history preserved — time travel to the fragmented "
        "snapshot still works, checked live), and (c) min/max skipping "
        "stats survived the rewrite (OPTIMIZE must never silently "
        "degrade a skipping-enabled table into an always-scan one). "
        "The value check then reads the compacted snapshot — "
        "compaction must be byte-neutral on the data. Reference "
        "analogue: utils/delta_ops.py:29-54 OPTIMIZE runbook step.",
)
def q_compact_certified(spark, sf_dir):
    from .aggregates import dsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = VersionedTable(spark, scratch_dir("compact"))
    t.write(
        orders.filter(F.col("o_orderkey") % 8 == 0).repartition(4),
        mode="overwrite",
        stats_cols=["o_orderkey"],
    )
    for i in range(1, 6):
        t.write(
            orders.filter(F.col("o_orderkey") % 8 == i).repartition(4),
            mode="append",
        )
    import glob
    import os

    def _n_files(vinfo):
        return sum(
            len(glob.glob(os.path.join(t._data, u, "**", "*.parquet"), recursive=True))
            + (1 if os.path.isfile(os.path.join(t._data, u)) else 0)
            for u in vinfo.units
        )

    frag = t._resolve()
    n_frag = _n_files(frag)
    info = t.compact(target_files=2)
    n_after = _n_files(info)
    if n_frag < 20 or n_after > 2:
        raise AssertionError(
            f"compaction did not consolidate: {n_frag} -> {n_after} data files"
        )
    if info.operation != "OPTIMIZE" or info.version != frag.version + 1:
        raise AssertionError("compaction must commit as the next OPTIMIZE version")
    if not info.extra.get("stats"):
        raise AssertionError("OPTIMIZE dropped the skipping stats")
    # history preserved: the fragmented snapshot is still time-travelable
    if t.read(version=frag.version).count() != t.read().count():
        raise AssertionError("compaction changed row count vs prior snapshot")
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


@register(
    "q_cbo_stats",
    """
    SELECT n.n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(22,2))) AS DOUBLE) AS total_balance
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY n.n_name
    """,
    doc="COST-BASED OPTIMIZER statistics, certified in-query: ANALYZE "
        "TABLE ... COMPUTE STATISTICS FOR COLUMNS populates table- and "
        "column-level stats (row counts, NDVs, min/max) in the "
        "catalog, then the join runs with spark.sql.cbo.enabled + "
        "joinReorder so the optimizer costs join orders from measured "
        "cardinalities instead of raw file sizes — on a 100 TB "
        "warehouse the difference between a dim-first and fact-first "
        "plan is orders of magnitude of shuffle. The query RAISES "
        "unless DESC EXTENDED reports both table rowCount and "
        "column-level stats for the join/filter columns (the "
        "certificate that ANALYZE actually populated the catalog, not "
        "just parsed). Session confs and catalog tables cleaned up "
        "after materialization.",
)
def q_cbo_stats(spark, sf_dir):
    from .aggregates import dsum

    confs = {"spark.sql.cbo.enabled": "true", "spark.sql.cbo.joinReorder.enabled": "true"}
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        load_table(spark, sf_dir, "customer").write.mode("overwrite").saveAsTable(
            "cbo_customer"
        )
        load_table(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(
            "cbo_nation"
        )
        spark.sql(
            "ANALYZE TABLE cbo_customer COMPUTE STATISTICS "
            "FOR COLUMNS c_custkey, c_nationkey, c_mktsegment, c_acctbal"
        )
        spark.sql("ANALYZE TABLE cbo_nation COMPUTE STATISTICS FOR COLUMNS n_nationkey")
        desc = spark.sql("DESC EXTENDED cbo_customer").collect()
        stats_row = {r.col_name: r.data_type for r in desc}.get("Statistics", "")
        if "rows" not in stats_row:
            raise AssertionError(f"ANALYZE left no table rowCount: {stats_row!r}")
        col = {
            r.info_name: r.info_value
            for r in spark.sql("DESC EXTENDED cbo_customer c_nationkey").collect()
        }
        if col.get("distinct_count") in (None, "NULL") or col.get("max") in (None, "NULL"):
            raise AssertionError(f"ANALYZE left no column stats: {col}")
        out = spark.sql(
            """
            SELECT n.n_name,
                   COUNT(*) AS n_customers,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(22,2))) AS DOUBLE)
                       AS total_balance
            FROM cbo_customer c JOIN cbo_nation n ON c.c_nationkey = n.n_nationkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY n.n_name
            """
        )
        rows, schema = out.collect(), out.schema
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS cbo_customer")
        spark.sql("DROP TABLE IF EXISTS cbo_nation")
    return spark.createDataFrame(rows, schema)


@register(
    "q_corrupt_records",
    """
    SELECT COUNT(*) FILTER (WHERE o_orderkey % 7 <> 0) AS n_valid,
           COUNT(*) FILTER (WHERE o_orderkey % 7 = 0) AS n_corrupt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2)))
                FILTER (WHERE o_orderkey % 7 <> 0) AS DOUBLE) AS valid_revenue
    FROM orders
    """,
    doc="PERMISSIVE ingestion with CORRUPT-RECORD capture (the "
        "schema-drift quarantine every production bronze layer needs): "
        "a JSONL batch is staged with every 7th record truncated "
        "mid-object, then read back with an explicit schema, "
        "mode=PERMISSIVE, and columnNameOfCorruptRecord — malformed "
        "lines land intact in the quarantine column with every data "
        "field null instead of failing the job (FAILFAST) or vanishing "
        "(DROPMALFORMED). The value check proves the parser classified "
        "EXACTLY the injected corruption (counts and the valid-side "
        "revenue must reconcile against the injection rule). At 100 TB "
        "this is one streaming-friendly scan; quarantined lines "
        "re-process after upstream fixes without re-reading the good "
        "99%.",
)
def q_corrupt_records(spark, sf_dir):
    from .aggregates import dsum
    from .merge import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    js = orders.select(
        F.col("o_orderkey"),
        F.to_json(
            F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
        ).alias("line"),
    ).select(
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.expr("substr(line, 1, length(line) - 1)"),  # truncated object
        )
        .otherwise(F.col("line"))
        .alias("value")
    )
    path = scratch_dir("jsonq")
    js.write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double, "
            "_corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return parsed.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_valid"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("_corrupt").isNull(),
                F.col("o_totalprice").cast("decimal(22,2)"),
            )
        )
        .cast("double")
        .alias("valid_revenue"),
    )


@register(
    "q_cache_table",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(22,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_quantity < 30
    GROUP BY l_returnflag
    """,
    doc="SQL CACHE TABLE (eager in-memory columnar materialization): "
        "a filtered projection is pinned with CACHE TABLE, and the "
        "aggregate must plan an InMemoryTableScan over the cached "
        "relation instead of re-reading parquet — the interactive-"
        "dashboard / iterative-ML pattern where one working set feeds "
        "many queries. RAISES unless the cached scan is actually in "
        "the plan (a silently-missed cache re-scans 100 TB every "
        "query). UNCACHE in a finally block restores session state.",
)
def q_cache_table(spark, sf_dir):
    from ..plans import explain_str

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("cache_li_src")
    try:
        # re-invocable in one session: CACHE TABLE ... AS has no OR
        # REPLACE form, so a prior invocation's view must go first
        spark.sql("UNCACHE TABLE IF EXISTS cache_li_v")
        spark.sql("DROP VIEW IF EXISTS cache_li_v")
        spark.sql(
            "CACHE TABLE cache_li_v AS "
            "SELECT l_returnflag, l_quantity FROM cache_li_src WHERE l_quantity < 30"
        )
        out = spark.sql(
            """
            SELECT l_returnflag,
                   COUNT(*) AS n_items,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(22,2))) AS DOUBLE) AS sum_qty
            FROM cache_li_v GROUP BY l_returnflag
            """
        )
        if "InMemoryRelation" not in explain_str(out):
            raise AssertionError("aggregate did not read the cached relation")
        rows, schema = out.collect(), out.schema
    finally:
        spark.sql("UNCACHE TABLE IF EXISTS cache_li_v")
        spark.sql("DROP VIEW IF EXISTS cache_li_v")
        spark.catalog.dropTempView("cache_li_src")
    return spark.createDataFrame(rows, schema)


@register(
    "q_mv_rewrite",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    GROUP BY l_returnflag
    """,
    doc="MATERIALIZED-VIEW QUERY REWRITE (operators/materialized.py): "
        "a (shipdate, returnflag)-grain aggregate MV with exact "
        "DECIMAL partials is defined over lineitem, then a coarser "
        "roll-up query (by returnflag, filtered on shipdate) is "
        "transparently ANSWERED FROM THE MV — the rewriter checks "
        "dims-subset / filter-dims / measure-derivability and picks "
        "the cheapest match; decimal partials re-aggregate exactly, "
        "so the rewrite is value-neutral BY CONSTRUCTION, and the "
        "oracle (the direct base-table aggregate) proves it. RAISES "
        "unless (a) the rewriter chose the MV, (b) the executed plan "
        "scans the MV parquet and NOT the lineitem file, and (c) a "
        "deliberately non-derivable query (grouping by a non-MV dim) "
        "falls back to base. On a 100 TB fact this answers dashboard "
        "roll-ups from a few thousand MV rows instead of a fact scan; "
        "the MV itself maintains incrementally (incremental.py).",
)
def q_mv_rewrite(spark, sf_dir):
    from ..operators.materialized import Measure, MVCatalog
    from ..plans import explain_str

    li = load_table(spark, sf_dir, "lineitem")
    cat = MVCatalog(spark)
    measures = [
        Measure("n_items", "count"),
        Measure("revenue", "sum", "l_extendedprice"),
    ]
    mv_path = scratch_dir("mv_daily")
    cat.define(
        "mv_ship_flag",
        li,
        dims=["l_shipdate", "l_returnflag"],
        measures=measures,
        path=mv_path,
    )
    import datetime

    out, source = cat.answer(
        li,
        dims=["l_returnflag"],
        measures=measures,
        filters=[("l_shipdate", ">=", datetime.datetime(1995, 1, 1))],
    )
    if source != "mv_ship_flag":
        raise AssertionError(f"rewriter chose {source!r}, expected the MV")
    plan = explain_str(out)
    if "mv_daily" not in plan or "lineitem.parquet" in plan:
        raise AssertionError("rewritten plan does not scan the MV (or scans base)")
    # non-derivable query (groups by a dim the MV lacks) must fall back
    _, fb = cat.answer(li, dims=["l_suppkey"], measures=[measures[0]])
    if fb != "base":
        raise AssertionError(f"non-derivable query wrongly matched {fb!r}")
    return out

# ---- q_layout_skipping -----------------------------------------------
# The quantitative companion to q_zorder_layout/q_hilbert_layout: those
# oracles prove layout INDEPENDENCE of results; this one measures the
# thing a layout is FOR — how many files a manifest min/max check
# admits under a 1-D (lexicographic) layout vs a Morton
# (bit-interleaved) layout, for BOTH predicate shapes that matter:
# a range on the leading key (lexicographic's best case) and a range
# on the trailing key ONLY (lexicographic's blind spot — every file
# spans the whole trailing-key domain, zero pruning). Keys are scaled
# into 10 bits from the table's own min/max (NOT modulo — wrapping
# destroys locality, measured: a %1024 Morton admitted MORE files
# than lexicographic), so the simulation is SF-independent; the
# predicate boxes are percentile slices of the key ranges for the
# same reason. NTILE file assignment makes both engines derive
# identical file populations; all metrics exact integers.
_SKIP_FILES = 16
_SKIP_BITS = 10


def _morton_sql(u: str, v: str, shift: str) -> str:
    """Morton interleave as engine-portable SQL: u bit b -> 2b,
    v bit b -> 2b+1. ``shift`` is 'duck' (<</>>) or 'spark'
    (shiftleft/shiftright)."""
    terms = []
    for b in range(_SKIP_BITS):
        if shift == "duck":
            terms.append(f"((({u} >> {b}) & 1) << {2 * b})")
            terms.append(f"((({v} >> {b}) & 1) << {2 * b + 1})")
        else:
            terms.append(f"shiftleft(shiftright({u}, {b}) & 1, {2 * b})")
            terms.append(
                f"shiftleft(shiftright({v}, {b}) & 1, {2 * b + 1})"
            )
    return " + ".join(terms)


def _skip_arm_sql(layout: str, order: str, pred: str, lo: str, hi: str,
                  key: str) -> str:
    return f"""
    SELECT '{layout}' AS layout, '{pred}' AS predicate,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN mn <= _h AND mx >= _l THEN 1 ELSE 0 END)
                AS BIGINT) AS n_candidate_files,
           CAST(SUM(CASE WHEN mn <= _h AND mx >= _l THEN sz ELSE 0 END)
                AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS true_rows
    FROM (
        SELECT f, COUNT(*) AS sz,
               MIN({key}) AS mn, MAX({key}) AS mx,
               SUM(CASE WHEN {key} BETWEEN {lo} AND {hi} THEN 1 ELSE 0 END)
                   AS n_match,
               ANY_VALUE({lo}) AS _l, ANY_VALUE({hi}) AS _h
        FROM (
            SELECT b.*, NTILE({_SKIP_FILES}) OVER (ORDER BY {order}) AS f
            FROM base b
        )
        GROUP BY f
    )
    """


_SKIP_STATS_SQL = """
    stats AS (
        SELECT MIN(l_partkey) AS pk_mn, MAX(l_partkey) AS pk_mx,
               MIN(l_suppkey) AS sk_mn, MAX(l_suppkey) AS sk_mx
        FROM lineitem
    ),
    base AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               pk_mn + (pk_mx - pk_mn) * 5 // 100 AS pk_lo,
               pk_mn + (pk_mx - pk_mn) * 15 // 100 AS pk_hi,
               sk_mn + (sk_mx - sk_mn) * 10 // 100 AS sk_lo,
               sk_mn + (sk_mx - sk_mn) * 30 // 100 AS sk_hi,
               {z} AS z
        FROM (
            SELECT l.*,
                   s.pk_mn, s.pk_mx, s.sk_mn, s.sk_mx,
                   CASE WHEN s.pk_mx = s.pk_mn THEN 0
                        ELSE ((l.l_partkey - s.pk_mn) * 1023)
                             // (s.pk_mx - s.pk_mn) END AS u,
                   CASE WHEN s.sk_mx = s.sk_mn THEN 0
                        ELSE ((l.l_suppkey - s.sk_mn) * 1023)
                             // (s.sk_mx - s.sk_mn) END AS v
            FROM lineitem l CROSS JOIN stats s
        )
    )
"""

_LIN_ORDER = "l_partkey, l_suppkey, l_orderkey, l_linenumber"
_Z_ORDER = "z, l_orderkey, l_linenumber"

_LAYOUT_SKIPPING_SQL = (
    "WITH "
    + _SKIP_STATS_SQL.format(z=_morton_sql("u", "v", "duck"))
    + _skip_arm_sql("linear", _LIN_ORDER, "leading_key_range",
                    "pk_lo", "pk_hi", "l_partkey")
    + " UNION ALL "
    + _skip_arm_sql("linear", _LIN_ORDER, "trailing_key_range",
                    "sk_lo", "sk_hi", "l_suppkey")
    + " UNION ALL "
    + _skip_arm_sql("zorder", _Z_ORDER, "leading_key_range",
                    "pk_lo", "pk_hi", "l_partkey")
    + " UNION ALL "
    + _skip_arm_sql("zorder", _Z_ORDER, "trailing_key_range",
                    "sk_lo", "sk_hi", "l_suppkey")
)


@register(
    "q_layout_skipping",
    _LAYOUT_SKIPPING_SQL,
    doc="FILE-SKIPPING EFFICIENCY CERTIFICATE, linear vs Z-order × "
        "leading-key vs trailing-key predicates: assign lineitem rows "
        "to 16 simulated files by NTILE under (a) lexicographic "
        "(l_partkey, l_suppkey) order and (b) Morton order (10-bit "
        "interleave of min/max-scaled keys — scaled, NOT modulo: "
        "wrapping destroys locality, measured live), compute each "
        "file's min/max manifest stats, and count the files a range "
        "predicate ADMITS under the min/max intersection rule — the "
        "exact skipping logic VersionedTable's manifest scan runs. "
        "The two predicate shapes certify the 100 TB trade: on the "
        "leading key lexicographic is optimal; on the trailing key "
        "alone it admits EVERY file while Morton still prunes "
        "(~sqrt(x) of files for an x-selective box). true_rows is "
        "layout-invariant (re-certified per arm). File assignment "
        "runs through distributed_ntile (range exchange + closed-form "
        "bucket sizes — never a single-partition window); all metrics "
        "exact integers, fully VALUE-ORACLED.",
)
def q_layout_skipping(spark, sf_dir):
    from ..operators.indexing import distributed_ntile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    st = li.agg(
        F.min("l_partkey").alias("pk_mn"), F.max("l_partkey").alias("pk_mx"),
        F.min("l_suppkey").alias("sk_mn"), F.max("l_suppkey").alias("sk_mx"),
    ).collect()[0]  # 4 longs — the same metadata-sized stats pass OPTIMIZE does
    pk_mn, pk_mx, sk_mn, sk_mx = st.pk_mn, st.pk_mx, st.sk_mn, st.sk_mx

    def scaled(col, mn, mx):
        if mx == mn:
            return "0"
        return f"(({col} - {mn}) * 1023) div ({mx} - {mn})"

    base = li.withColumn(
        "u", F.expr(scaled("l_partkey", pk_mn, pk_mx)).cast("long")
    ).withColumn(
        "v", F.expr(scaled("l_suppkey", sk_mn, sk_mx)).cast("long")
    ).withColumn("z", F.expr(_morton_sql("u", "v", "spark")).cast("long"))

    boxes = {
        "leading_key_range": (
            "l_partkey",
            pk_mn + (pk_mx - pk_mn) * 5 // 100,
            pk_mn + (pk_mx - pk_mn) * 15 // 100,
        ),
        "trailing_key_range": (
            "l_suppkey",
            sk_mn + (sk_mx - sk_mn) * 10 // 100,
            sk_mn + (sk_mx - sk_mn) * 30 // 100,
        ),
    }
    orders = {
        "linear": ["l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"],
        "zorder": ["z", "l_orderkey", "l_linenumber"],
    }
    out = None
    for layout, order in orders.items():
        files = distributed_ntile(base, _SKIP_FILES, order, "f")
        for pred, (key, lo, hi) in boxes.items():
            per_file = files.groupBy("f").agg(
                F.count("*").alias("sz"),
                F.min(key).alias("mn"),
                F.max(key).alias("mx"),
                F.sum(
                    F.when(F.col(key).between(lo, hi), 1).otherwise(0)
                ).alias("n_match"),
            )
            cand = (F.col("mn") <= hi) & (F.col("mx") >= lo)
            row = per_file.agg(
                F.count("*").cast("long").alias("n_files"),
                F.sum(F.when(cand, 1).otherwise(0))
                .cast("long")
                .alias("n_candidate_files"),
                F.sum(F.when(cand, F.col("sz")).otherwise(0))
                .cast("long")
                .alias("rows_scanned"),
                F.sum("n_match").cast("long").alias("true_rows"),
            ).select(
                F.lit(layout).alias("layout"),
                F.lit(pred).alias("predicate"),
                "n_files",
                "n_candidate_files",
                "rows_scanned",
                "true_rows",
            )
            out = row if out is None else out.unionByName(row)
    return out
