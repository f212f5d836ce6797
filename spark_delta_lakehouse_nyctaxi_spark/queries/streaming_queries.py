"""Streaming queries in the verification registry: a real Structured
Streaming pipeline (file source → watermark → window agg → sink),
drained deterministically with availableNow and verified against a SQL
oracle — a finite stream in complete mode must equal the batch answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.readers import load_table
from ..streaming import read_parquet_stream, run_available_now, stream_dedup
from .merge import scratch_dir
from . import register

# Streaming watermarks require TIMESTAMP (LTZ) event time — NTZ is
# rejected by withWatermark. The staged parquet's NTZ micros are read
# under the declared LTZ schema.  Round 3 made the query OUTPUTS
# session-TZ-proof: the streaming math runs on instants, and _utc_out /
# the join select pin the collected rendering to the UTC wall the NTZ
# oracles expect — and streaming/stateful.py localizes the
# session-naive pandas timestamps applyInPandasWithState delivers back
# to true UTC epoch before comparing against GroupState's UTC-millis
# watermark/timeout APIs.  EVERY streaming query — windows, joins,
# dedup, stateful sessionization — now verifies bitwise under both UTC
# and America/New_York sessions.
_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _staged_events(spark, sf_dir: str) -> str:
    path = scratch_dir("stream_events")
    load_table(spark, sf_dir, "events").drop("props").coalesce(4).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _utc_out(spark, df, *ts_cols):
    """Pin LTZ output timestamps to their UTC wall regardless of the
    session timezone (same rendering fix as the stream-stream joins:
    the streaming math runs on instants; only the collected rendering
    is session-dependent). No-op under the driver's UTC session."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    return df.select(
        *[
            F.to_utc_timestamp(c, tz).alias(c) if c in ts_cols else F.col(c)
            for c in df.columns
        ]
    )


@register(
    "q_stream_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="Structured Streaming watermarked 1-hour tumbling window over a "
        "file-source stream, drained with availableNow (complete mode) — "
        "must equal the batch/time_bucket answer exactly.",
)
def q_stream_window(spark, sf_dir):
    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    agg = (
        sdf.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("window_start"), "n_events", "sum_value")
    )
    run_available_now(
        agg, scratch_dir("ckpt_win"), memory_table="q_stream_window_out", output_mode="complete"
    )
    return _utc_out(spark, spark.table("q_stream_window_out"), "window_start")


@register(
    "q_stream_sessionize_state",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    sess AS (
      SELECT user_id, sid,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events,
             MAX(sid) OVER (PARTITION BY user_id) AS last_sid
      FROM numbered GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM sess
    WHERE sid < last_sid
       OR session_end + INTERVAL 30 MINUTE <
          (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    doc="applyInPandasWithState custom stateful sessionization (30-min "
        "inactivity gap, event-time timeout). Under an availableNow drain "
        "the closed-session set is deterministic: a session closes iff a "
        "later session exists for the same user (gap) or its end+gap fell "
        "strictly below the final watermark max(ts)-delay (timeout).",
)
def q_stream_sessionize_state(spark, sf_dir):
    from ..streaming.stateful import sessionize_with_state

    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA).select(
        "user_id", "ts", "event_id", "event_type"
    )
    sessions = sessionize_with_state(sdf)
    run_available_now(
        sessions, scratch_dir("ckpt_sess"), memory_table="q_stream_sessionize_state_out"
    )
    return _utc_out(
        spark,
        spark.table("q_stream_sessionize_state_out").select(
            "user_id", "session_start", "session_end", "n_events"
        ),
        "session_start",
        "session_end",
    )


@register(
    "q_stream_dedup_det",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM (
      SELECT e.*,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events e
    ) t
    WHERE rn = 1
    """,
    doc="Deterministic streaming dedup (NOTES.md round-2 item): "
        "per-microbatch min-(ts, event_id) partial reduction, then a "
        "foreachBatch MERGE whose matched-update condition keeps the "
        "globally earliest event per user. Survivor is independent of "
        "microbatch arrival order — fully value-oracle-checked, unlike "
        "dropDuplicatesWithinWatermark's arrival-order survivor.",
)
def q_stream_dedup_det(spark, sf_dir):
    from ..sources.table import VersionedTable

    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    tbl = VersionedTable(spark, scratch_dir("dedup_det_tbl"))

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        # Map-side combinable reduction: struct min orders by
        # (ts, event_id, ...) lexicographically; event_id is unique so
        # the survivor is total-ordered.
        best = (
            batch_df.groupBy("user_id")
            .agg(F.min(F.struct("ts", "event_id", "event_type", "value")).alias("m"))
            .select(
                F.col("m.event_id").alias("event_id"),
                F.col("m.ts").alias("ts"),
                "user_id",
                F.col("m.event_type").alias("event_type"),
                F.col("m.value").alias("value"),
            )
        )
        tbl.merge(
            best,
            keys=["user_id"],
            update_condition="s.ts < t.ts OR (s.ts = t.ts AND s.event_id < t.event_id)",
        )

    run_available_now(sdf, scratch_dir("ckpt_dd_det"), foreach_batch=sink)
    return _utc_out(
        spark,
        tbl.read().select("event_id", "ts", "user_id", "event_type", "value"),
        "ts",
    )


@register(
    "q_stream_dedup",
    None,  # survivor choice depends on microbatch arrival order → rows-only
    doc="Streaming dropDuplicatesWithinWatermark on user_id over the "
        "event stream; pytest asserts the invariants (≥ distinct users, "
        "< total rows).",
)
def q_stream_dedup(spark, sf_dir):
    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    deduped = stream_dedup(sdf, ["user_id"], "ts", "5 minutes")
    run_available_now(
        deduped, scratch_dir("ckpt_dd"), memory_table="q_stream_dedup_out"
    )
    return _utc_out(spark, spark.table("q_stream_dedup_out"), "ts")


@register(
    "q_stream_stream_join",
    """
    SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id,
           a.ts AS click_ts, b.ts AS view_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts BETWEEN a.ts - INTERVAL 10 MINUTE AND a.ts
    """,
    doc="Watermarked stream-stream inner join: clicks joined to the "
        "views that preceded them within 10 minutes, both sides "
        "watermarked so join state is bounded (the time-range condition "
        "is what lets Spark expire buffered rows — an unbounded-state "
        "join never survives at scale). Drained with availableNow; a "
        "finite inner join must equal the batch self-join exactly.",
)
def q_stream_stream_join(spark, sf_dir):
    return _stream_stream_join(spark, sf_dir, "inner", "q_stream_stream_join_out")


@register(
    "q_stream_stream_left_join",
    """
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
         v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
         wm AS (SELECT least((SELECT MAX(click_ts) FROM c),
                             (SELECT MAX(view_ts) FROM v))
                       - INTERVAL 30 MINUTE AS w)
    SELECT c.click_id, v.view_id, c.user_id, c.click_ts, v.view_ts
    FROM c JOIN v ON c.user_id = v.user_id
     AND v.view_ts BETWEEN c.click_ts - INTERVAL 10 MINUTE AND c.click_ts
    UNION ALL
    SELECT c.click_id, CAST(NULL AS BIGINT), c.user_id, c.click_ts,
           CAST(NULL AS TIMESTAMP)
    FROM c
    WHERE NOT EXISTS (
            SELECT 1 FROM v
            WHERE v.user_id = c.user_id
              AND v.view_ts BETWEEN c.click_ts - INTERVAL 10 MINUTE
                                AND c.click_ts)
      AND c.click_ts < (SELECT w FROM wm)
    """,
    doc="Watermarked stream-stream LEFT OUTER join (NOTES.md round-2 "
        "item). Null-padded rows are emitted only once the watermark "
        "proves no future match can arrive, so the oracle is the batch "
        "inner join PLUS unmatched clicks below the final global "
        "watermark = min(max click_ts, max view_ts) - 30min delay "
        "(empirically bracketed at sf0.001 and sf0.01: every unmatched "
        "click strictly below it is emitted, the ones above are held in "
        "state — exactly the bounded-state behavior a 100 TB stream "
        "needs; an unwatermarked outer join would buffer forever).",
)
def q_stream_stream_left_join(spark, sf_dir):
    return _stream_stream_join(
        spark, sf_dir, "left_outer", "q_stream_stream_left_join_out"
    )


@register(
    "q_stream_stream_full_join",
    """
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
         v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
         wm AS (SELECT least((SELECT MAX(click_ts) FROM c),
                             (SELECT MAX(view_ts) FROM v))
                       - INTERVAL 30 MINUTE AS w)
    SELECT c.click_id, v.view_id, c.user_id, c.click_ts, v.view_ts
    FROM c JOIN v ON c.user_id = v.user_id
     AND v.view_ts BETWEEN c.click_ts - INTERVAL 10 MINUTE AND c.click_ts
    UNION ALL
    SELECT c.click_id, CAST(NULL AS BIGINT), c.user_id, c.click_ts,
           CAST(NULL AS TIMESTAMP)
    FROM c
    WHERE NOT EXISTS (
            SELECT 1 FROM v
            WHERE v.user_id = c.user_id
              AND v.view_ts BETWEEN c.click_ts - INTERVAL 10 MINUTE
                                AND c.click_ts)
      AND c.click_ts < (SELECT w FROM wm)
    UNION ALL
    SELECT CAST(NULL AS BIGINT), v.view_id, v.user_id,
           CAST(NULL AS TIMESTAMP), v.view_ts
    FROM v
    WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = v.user_id
              AND v.view_ts BETWEEN c.click_ts - INTERVAL 10 MINUTE
                                AND c.click_ts)
      AND v.view_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
    """,
    doc="Watermarked stream-stream FULL OUTER join — completes the "
        "streaming join-type matrix (inner/left/full). Null-padded "
        "rows emit only when the watermark proves no future match can "
        "arrive; the two sides evict asymmetrically: an unmatched "
        "click is final once the watermark passes click_ts, but an "
        "unmatched view can still be matched by clicks up to "
        "view_ts + 10min (the time-range condition), so its "
        "null-padded row emits only when the watermark passes "
        "view_ts + 10min. The oracle = batch inner join ∪ both "
        "unmatched tails below their respective eviction bounds, with "
        "the final global watermark = min(max click_ts, max view_ts) "
        "- 30min delay. user_id column note: for null-padded VIEW "
        "rows Spark emits the view's user id through the coalesced "
        "output (see _stream_stream_join's full_outer select).",
)
def q_stream_stream_full_join(spark, sf_dir):
    return _stream_stream_join(
        spark, sf_dir, "full_outer", "q_stream_stream_full_join_out"
    )


@register(
    "q_stream_stream_semi_join",
    """
    SELECT event_id AS click_id, user_id, ts AS click_ts
    FROM events c
    WHERE event_type = 'click'
      AND EXISTS (
            SELECT 1 FROM events v
            WHERE v.event_type = 'view'
              AND v.user_id = c.user_id
              AND v.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts)
    """,
    doc="Watermarked stream-stream LEFT SEMI join — the last join "
        "shape Structured Streaming supports, completing the matrix "
        "(inner/left/full/semi): clicks that have at least one view "
        "in the preceding 10 minutes, emitted ONCE per click at "
        "match time. Unlike the outer joins, the drained result is "
        "watermark-INDEPENDENT (matched rows never wait for "
        "eviction; unmatched rows never emit), so the oracle is the "
        "plain batch EXISTS semi-join with no eviction-boundary "
        "modeling at all — the strongest-determinism entry in the "
        "family. State stays bounded exactly as in the inner join.",
)
def q_stream_stream_semi_join(spark, sf_dir):
    return _stream_stream_join(
        spark, sf_dir, "left_semi", "q_stream_stream_semi_join_out"
    )


def _stream_stream_join(spark, sf_dir, how, out_table):
    path = _staged_events(spark, sf_dir)
    clicks = (
        read_parquet_stream(spark, path, _SCHEMA)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    views = (
        read_parquet_stream(spark, path, _SCHEMA)
        .filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "30 minutes")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("view_ts") <= F.col("click_ts")),
        how,
    )
    # Session-TZ-proof the OUTPUT timestamps: the join math runs on
    # instants (TZ-independent), but collected LTZ values render in the
    # session TZ — to_utc_timestamp pins the rendering to the UTC wall
    # the NTZ oracle expects (a no-op under the driver's UTC session,
    # verified bitwise under America/New_York too).
    tz = spark.conf.get("spark.sql.session.timeZone")
    if how == "left_semi":
        # semi output carries ONLY the left side's columns
        joined = joined.select(
            "click_id",
            "user_id",
            F.to_utc_timestamp("click_ts", tz).alias("click_ts"),
        )
    else:
        joined = joined.select(
            "click_id",
            "view_id",
            # left/inner rows always carry the click's user_id; full-outer
            # view-padded rows only have v_user — coalesce covers all shapes
            F.coalesce("user_id", "v_user").alias("user_id"),
            F.to_utc_timestamp("click_ts", tz).alias("click_ts"),
            F.to_utc_timestamp("view_ts", tz).alias("view_ts"),
        )
    run_available_now(joined, scratch_dir("ckpt_" + out_table), memory_table=out_table)
    return spark.table(out_table)


@register(
    "q_stream_static_join",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(22,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    doc="Stream-static enrichment join: the event stream joined to the "
        "static customer dimension (broadcast — the dim is read once "
        "per microbatch, never shuffled) and aggregated per market "
        "segment. The standard streaming-ETL enrichment shape; a "
        "finite drain in complete mode must equal the batch join "
        "exactly.",
)
def q_stream_static_join(spark, sf_dir):
    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = sdf.join(F.broadcast(dim), sdf.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(22,2)")).cast("double").alias("sum_value"),
    )
    run_available_now(
        agg,
        scratch_dir("ckpt_ssd"),
        memory_table="q_stream_static_join_out",
        output_mode="complete",
    )
    return spark.table("q_stream_static_join_out")


@register(
    "q_stream_window_append",
    """
    WITH wm AS (SELECT MAX(ts) - INTERVAL 1 MINUTE AS w FROM events)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
    doc="The same tumbling-window aggregate as q_stream_window in "
        "APPEND output mode: a window row is emitted exactly once, "
        "when the watermark passes its end and the result is final — "
        "the mode a downstream incremental sink actually consumes "
        "(complete mode rewrites the world every batch). Oracle: "
        "batch windows whose end ≤ final watermark max(ts) - 1min; "
        "the last in-flight window stays in state, unemitted.",
)
def q_stream_window_append(spark, sf_dir):
    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    agg = (
        sdf.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("window_start"), "n_events", "sum_value")
    )
    run_available_now(
        agg,
        scratch_dir("ckpt_win_ap"),
        memory_table="q_stream_window_append_out",
        output_mode="append",
    )
    return _utc_out(spark, spark.table("q_stream_window_append_out"), "window_start")


@register(
    "q_stream_sliding_window",
    """
    SELECT time_bucket(INTERVAL '30 minutes', ts)
             - INTERVAL (k * 30) MINUTE AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS sum_value
    FROM events, (SELECT unnest([0, 1]) AS k)
    GROUP BY 1
    """,
    doc="Watermarked SLIDING window (1 hour every 30 minutes) over the "
        "event stream: each event lands in exactly two overlapping "
        "windows. Complete-mode drain must equal the batch answer — "
        "the oracle replicates each row into its slide offsets with a "
        "constant 2-row unnest (no range join).",
)
def q_stream_sliding_window(spark, sf_dir):
    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    agg = (
        sdf.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("window_start"), "n_events", "sum_value")
    )
    run_available_now(
        agg,
        scratch_dir("ckpt_slide"),
        memory_table="q_stream_sliding_window_out",
        output_mode="complete",
    )
    return _utc_out(spark, spark.table("q_stream_sliding_window_out"), "window_start")


@register(
    "q_stream_incremental_agg",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
    doc="Streaming MATERIALIZED VIEW: each microbatch's partial "
        "aggregate is folded into a VersionedTable with an additive "
        "expression MERGE (refresh_aggregate) — update mode without "
        "unbounded state, queryable mid-stream, versioned. The "
        "additive column stays DECIMAL inside the view, so the end "
        "state is bit-equal to the batch aggregate under ANY "
        "microbatch split — the oracle is that batch aggregate.",
)
def q_stream_incremental_agg(spark, sf_dir):
    from ..incremental import refresh_aggregate
    from ..sources.table import VersionedTable

    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    t = VersionedTable(spark, scratch_dir("stream_mv"))

    # foreachBatch can REPLAY a batch after a failure/restart; an
    # additive fold applied twice double-counts. Each commit records
    # (app_id, batch_id) and replayed batches are skipped — the Delta
    # txnAppId/txnVersion idempotent-writer pattern.
    app_id = "q_stream_incremental_agg"

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        last = t.last_txn_version(app_id)
        if last is not None and batch_id <= last:
            return  # replayed batch — already folded into the view
        partial = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,2)")).alias("sum_value"),
        )
        if not t.exists():
            t.write(partial, mode="overwrite",
                    extra=VersionedTable.txn_extra(app_id, batch_id))
        else:
            refresh_aggregate(
                t, partial, keys=["user_id"],
                add_columns=["n_events", "sum_value"], txn=(app_id, batch_id),
            )

    run_available_now(sdf, scratch_dir("ckpt_mv"), foreach_batch=fold)
    return t.read().select(
        "user_id", "n_events", F.col("sum_value").cast("double").alias("sum_value")
    )


@register(
    "q_stream_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
    doc="Spark's NATIVE session_window aggregation (dynamic gap-merged "
        "windows, 30-min inactivity) over the watermarked stream, "
        "complete-mode drain — covers the built-in operator the "
        "applyInPandasWithState sessionizer (q_stream_sessionize_state) "
        "implements by hand; a finite drain must produce exactly the "
        "batch lag/cumsum session set. Note session_window.end is "
        "last_event+gap by definition, so session_end is taken as "
        "MAX(ts) via the agg, not the window bound.",
)
def q_stream_session_window(spark, sf_dir):
    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    agg = (
        sdf.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    run_available_now(
        agg,
        scratch_dir("ckpt_sesswin"),
        memory_table="q_stream_session_window_out",
        output_mode="complete",
    )
    return _utc_out(spark, spark.table("q_stream_session_window_out"), "session_start", "session_end")


@register(
    "q_stream_rocksdb_state",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="Stateful streaming on the ROCKSDB STATE STORE "
        "(spark.sql.streaming.stateStore.providerClass -> "
        "RocksDBStateStoreProvider): the same watermarked 1-hour "
        "tumbling aggregate as q_stream_window, but window state lives "
        "in an embedded RocksDB instead of the default in-JVM-heap "
        "HDFSBackedStateStore — the production configuration for "
        "large-state streaming (state no longer bounded by executor "
        "heap; incremental checkpointing of SST files). RAISES unless "
        "the executed query's state operator reports RocksDB custom "
        "metrics, so the value check certifies the provider actually "
        "engaged; session conf saved/restored. Results must be "
        "bit-identical to the batch oracle AND to the default-provider "
        "twin — state backend choice must never change semantics.",
)
def q_stream_rocksdb_state(spark, sf_dir):
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        saved = spark.conf.get(conf_key)
    except Exception:
        saved = None
    spark.conf.set(conf_key, provider)
    try:
        path = _staged_events(spark, sf_dir)
        sdf = read_parquet_stream(spark, path, _SCHEMA)
        agg = (
            sdf.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(22,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(F.col("win.start").alias("window_start"), "n_events", "sum_value")
        )
        q = run_available_now(
            agg,
            scratch_dir("ckpt_rocks"),
            memory_table="q_stream_rocksdb_out",
            output_mode="complete",
        )
        prog = q.lastProgress or {}
        ops = prog.get("stateOperators") or []
        metrics = (ops[0].get("customMetrics") or {}) if ops else {}
        if not any("rocksdb" in k.lower() for k in metrics):
            raise AssertionError(
                "RocksDB state store did not engage (no rocksdb custom "
                f"metrics in state operator progress: {sorted(metrics)[:5]})"
            )
        out = spark.table("q_stream_rocksdb_out")
        rows, schema = out.collect(), out.schema
    finally:
        if saved is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, saved)
    return _utc_out(
        spark, spark.createDataFrame(rows, schema), "window_start"
    )


@register(
    "q_stream_multi_batch",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id
    """,
    doc="MICRO-BATCH PARTITIONING INVARIANCE: the same file-source "
        "stream drained with maxFilesPerTrigger=1 (forcing one "
        "micro-batch per staged file instead of one big availableNow "
        "batch) must produce byte-identical aggregates — state "
        "accumulation across many small batches is semantically "
        "invisible. RAISES unless the run actually split into "
        "multiple batches (progress-certified), so the invariance is "
        "really exercised. This is the property that lets a 100 TB "
        "backfill run as thousands of rate-limited micro-batches "
        "without changing results; decimal-cast sums keep the "
        "cross-batch accumulation order-invariant.",
)
def q_stream_multi_batch(spark, sf_dir):
    # stage with repartition(4): _staged_events uses coalesce, which
    # cannot INCREASE the single-file sf0.01 source's partition count
    path = scratch_dir("stream_events_multi")
    load_table(spark, sf_dir, "events").drop("props").repartition(4).write.mode(
        "overwrite"
    ).parquet(path)
    sdf = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = sdf.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(22,2)")).cast("double").alias("sum_value"),
    )
    q = run_available_now(
        agg,
        scratch_dir("ckpt_multi"),
        memory_table="q_stream_multi_batch_out",
        output_mode="complete",
    )
    n_batches = len(q.recentProgress)
    if n_batches < 2:
        raise AssertionError(
            f"expected multiple micro-batches, got {n_batches} — rate limit ignored"
        )
    return spark.table("q_stream_multi_batch_out")


@register(
    "q_stream_exactly_once",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id
    """,
    doc="EXACTLY-ONCE under CRASH + REPLAY, demonstrated live: the "
        "stream runs as 4 rate-limited micro-batches whose sink "
        "appends per-batch partial aggregates to a VersionedTable "
        "with a TRANSACTIONAL BATCH-ID GUARD; a fault is injected in "
        "the WORST position — after batch 2's data is durably written "
        "but before its checkpoint commit — so the restarted query "
        "REPLAYS batch 2 into the sink, and only the guard (skip "
        "batch ids already in the table) prevents double counting. "
        "RAISES unless the crash fired, the replay was observed, and "
        "every batch id landed exactly once. This is the idempotent-"
        "foreachBatch contract every production Spark sink needs "
        "(checkpoint WAL pins replayed offsets; the sink supplies "
        "idempotence). Final per-user totals are decimal-exact sums "
        "of the per-batch partials — order- and batching-invariant — "
        "and must equal the batch-free oracle.",
)
def q_stream_exactly_once(spark, sf_dir):
    import os

    from ..sources.table import VersionedTable

    stage = scratch_dir("stream_events_eo")
    load_table(spark, sf_dir, "events").drop("props").repartition(4).write.mode(
        "overwrite"
    ).parquet(stage)
    tbl = VersionedTable(spark, scratch_dir("eo_tbl"))
    crash_flag = os.path.join(scratch_dir("eo_flag"), "crashed")
    os.makedirs(os.path.dirname(crash_flag), exist_ok=True)
    replays = {"n": 0}

    def sink(batch_df, batch_id):
        # txn guard reads COMMITTED BATCH IDS from the version-log
        # metadata (driver-side manifests, the Delta txn-appId pattern)
        # — no per-batch scan of the growing partials table
        committed = {v.extra.get("eo_batch") for v in tbl._versions()}
        if batch_id in committed:
            replays["n"] += 1  # replay detected — idempotent skip
            return
        part = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,2)"))
            .cast("double")
            .alias("sum_value"),
        ).withColumn("batch_id", F.lit(batch_id))
        tbl.write(part, mode="append", extra={"eo_batch": batch_id})
        if batch_id == 2 and not os.path.exists(crash_flag):
            # worst-case fault: data durable, checkpoint NOT committed
            with open(crash_flag, "w") as f:
                f.write("x")
            raise RuntimeError("injected fault after durable write of batch 2")

    ckpt = scratch_dir("ckpt_eo")
    sdf = (
        spark.readStream.schema(_SCHEMA).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    crashed = False
    try:
        run_available_now(sdf, ckpt, foreach_batch=sink)
    except Exception:
        crashed = True
    if not crashed:
        raise AssertionError("fault injection did not fire")
    # restart from the same checkpoint: batch 2 replays, guard skips it
    sdf2 = (
        spark.readStream.schema(_SCHEMA).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    run_available_now(sdf2, ckpt, foreach_batch=sink)
    if replays["n"] < 1:
        raise AssertionError("checkpoint replay of the failed batch not observed")
    per_batch = tbl.read()
    ids = [r.batch_id for r in per_batch.select("batch_id").distinct().collect()]
    if sorted(ids) != [0, 1, 2, 3]:
        raise AssertionError(f"batch ids not exactly-once: {sorted(ids)}")
    return per_batch.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        F.sum(F.col("sum_value").cast("decimal(22,2)")).cast("double").alias("sum_value"),
    )


def _stream_hll_oracle_sql() -> str:
    # identical register algebra to queries/sketches.py:q_hll_sketch,
    # over the streaming source's user_id key
    m, rest = 256, 52
    return f"""
    WITH hashed AS (
        SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h,
               user_id
        FROM events
    ),
    regs AS (
        SELECT h % {m} AS bucket,
               MAX(CASE WHEN h // {m} = 0 THEN {rest + 1}
                        ELSE bit_count(((h // {m}) & -(h // {m})) - 1) + 1 END) AS m_j
        FROM hashed GROUP BY 1
    ),
    folded AS (
        SELECT COUNT(*) AS n_set,
               SUM((CAST(1 AS BIGINT) << ({rest + 1} - m_j))) AS s_present,
               SUM(m_j * (bucket + 1)) AS register_checksum
        FROM regs
    ),
    exact AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events)
    SELECT CAST(n_set AS BIGINT) AS n_registers_set,
           CAST(register_checksum AS BIGINT) AS register_checksum,
           (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
               / CAST(s_present + ({m} - n_set) * (CAST(1 AS BIGINT) << {rest + 1}) AS DOUBLE)
               AS hll_estimate,
           CAST(n_exact AS BIGINT) AS n_exact
    FROM folded, exact
    """


@register(
    "q_stream_hll",
    _stream_hll_oracle_sql(),
    doc="STREAMING CARDINALITY MONITOR: maintain the q_hll_sketch "
        "register table incrementally over the event stream — each "
        "micro-batch folds its (bucket, rho-max) partials into the "
        "accumulator by register-wise MAX inside foreachBatch. The "
        "scale/robustness story is ALGEBRAIC: max-merge is idempotent "
        "and commutative, so batch REPLAY after a crash cannot corrupt "
        "the sketch (unlike additive folds, which need the txn-id "
        "guard q_stream_incremental_agg carries) and the final "
        "registers are bit-identical to a batch build REGARDLESS of "
        "how availableNow splits the micro-batches — which is what "
        "makes this streaming query fully VALUE-ORACLED, not "
        "rows-only. State is <= 256 rows however large the stream. "
        "The exact distinct rides the oracle as the honesty column.",
)
def q_stream_hll(spark, sf_dir):
    from ..operators.dedup import md5_id
    from ..sources.table import VersionedTable

    m, rest = 256, 52
    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    t = VersionedTable(spark, scratch_dir("stream_hll"))

    def regs_of(df):
        parts = df.select(
            md5_id(F.col("user_id").cast("string")).alias("h")
        ).select(
            (F.col("h") % m).alias("bucket"),
            F.shiftright(F.col("h"), 8).alias("r"),
        )
        rho = (
            F.when(F.col("r") == 0, F.lit(rest + 1))
            .otherwise(F.bit_count(F.expr("(r & -r)") - F.lit(1)) + F.lit(1))
        )
        return parts.select("bucket", rho.alias("m_j")).groupBy("bucket").agg(
            F.max("m_j").alias("m_j")
        )

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        partial = regs_of(batch_df)
        if t.exists():
            merged = (
                t.read()
                .unionByName(partial)
                .groupBy("bucket")
                .agg(F.max("m_j").alias("m_j"))
            )
        else:
            merged = partial
        # <=256-row frame; idempotent max-merge makes replay harmless
        t.write(merged.localCheckpoint(), mode="overwrite")

    run_available_now(sdf, scratch_dir("ckpt_hll"), foreach_batch=fold)
    regs = t.read()
    folded = regs.agg(
        F.count("*").alias("n_set"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {rest + 1} - CAST(m_j AS INT))")
        ).alias("s_present"),
        F.sum(F.col("m_j") * (F.col("bucket") + 1)).alias("register_checksum"),
    )
    exact = (
        spark.read.parquet(path)
        .agg(F.count_distinct("user_id").alias("n_exact"))
    )
    denom = F.col("s_present") + (F.lit(m) - F.col("n_set")) * F.shiftleft(
        F.lit(1).cast("long"), rest + 1
    )
    alpha = (
        (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0)))
        * F.lit(65536.0)
        * F.lit(9007199254740992.0)
    )
    from .aggregates import attach_scalar

    return attach_scalar(folded, exact).select(
        F.col("n_set").cast("long").alias("n_registers_set"),
        F.col("register_checksum").cast("long").alias("register_checksum"),
        (alpha / denom.cast("double")).alias("hll_estimate"),
        F.col("n_exact").cast("long").alias("n_exact"),
    )


_PACKING_ORACLE_SQL = """
    WITH c AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens,
               SUM(CAST(len(string_split_regex(trim(text), '\\s+'))
                        AS BIGINT))
                   OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS tok_start,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS first_seq,
           CAST((cum - 1) // 512 AS BIGINT) AS last_seq,
           CAST((cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS BIGINT)
               AS n_seqs
    FROM c
"""


@register(
    "q_stream_packing",
    _PACKING_ORACLE_SQL,
    doc="STREAMING SEQUENCE-PACKING MAINTENANCE: the q_sequence_packing "
        "placement map maintained INCREMENTALLY as document batches "
        "arrive — the corpus is staged as four doc_id-contiguous files "
        "drained one per micro-batch (maxFilesPerTrigger=1, "
        "availableNow), and each batch extends the pack from a 1-row "
        "running token-offset state: within-batch placement via "
        "distributed_prefix_sum (+ the accumulated base), placements "
        "appended in ONE VersionedTable commit that also carries the "
        "(app_id, batch_id) txn marker AND the advanced token offset "
        "as commit metadata — data, idempotence guard and state are "
        "ATOMIC, so a crash at any point either committed the whole "
        "batch or none of it, and checkpoint replay of a committed "
        "batch is skipped by the marker (an additive fold is NOT "
        "replay-safe by algebra, unlike q_stream_hll's max-merge — "
        "the single-commit txn marker is what makes crash replay "
        "harmless, the q_stream_exactly_once / Delta txnAppId "
        "discipline). "
        "Because arrival order = doc_id order by construction, the "
        "final table is BIT-IDENTICAL to the batch q_sequence_packing "
        "— so this streaming query is fully VALUE-ORACLED against the "
        "batch SQL, certifying that incremental maintenance converges "
        "to the batch answer. The continuation property an LLM "
        "ingestion pipeline needs: appending a corpus shard never "
        "repacks history, it extends from the stored offset. State is "
        "1 row however large the stream.",
)
def q_stream_packing(spark, sf_dir):
    from ..operators.indexing import distributed_prefix_sum
    from ..operators.text import token_count
    from ..sources.table import VersionedTable

    seq_len = 512
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", token_count("text").cast("long").alias("n_tokens"))
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    path = scratch_dir("stream_docs")
    span = int(hi) - int(lo) + 1
    # four doc_id-contiguous shards written SEQUENTIALLY so the file
    # stream delivers them in doc_id order — arrival order IS pack
    # order, which is what lets the batch SQL oracle the streaming
    # result bitwise.  FileStreamSource orders by modification time
    # with filename as tiebreak; coarse-granularity filesystems can
    # tie two sequential appends and the uuid-named tiebreak would
    # reorder batches, so each shard's mtime is bumped to a fixed
    # epoch + i seconds — deterministic delivery on ANY filesystem.
    import glob as _glob
    import os as _os

    staged: set = set()
    for i in range(4):
        a = int(lo) + i * span // 4
        b = int(lo) + (i + 1) * span // 4
        docs.filter(
            (F.col("doc_id") >= a) & (F.col("doc_id") < b)
        ).coalesce(1).write.mode("append").parquet(path)
        for fpath in set(_glob.glob(_os.path.join(path, "part-*"))) - staged:
            _os.utime(fpath, (1_700_000_000 + i, 1_700_000_000 + i))
            staged.add(fpath)

    t_out = VersionedTable(spark, scratch_dir("pack_out"))
    app_id = "q_stream_packing"

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        base = 0
        prev = t_out.last_txn_commit(app_id)
        if prev is not None:
            if batch_id <= prev["txn"]["version"]:
                return  # replayed batch — already committed atomically
            base = int(prev["pack_base"])
        cum = distributed_prefix_sum(
            batch_df.select("doc_id", "n_tokens"), ["doc_id"], ["n_tokens"]
        )
        placed = cum.select(
            "doc_id",
            "n_tokens",
            (F.lit(base) + F.col("cum_n_tokens") - F.col("n_tokens")).alias(
                "tok_start"
            ),
        ).localCheckpoint()
        total = cum.agg(F.max("cum_n_tokens")).collect()[0][0]
        # ONE commit = placements + (app_id, batch_id) marker + the
        # advanced offset: no crash point can append rows without the
        # guard, or advance the guard without the rows.
        t_out.write(
            placed,
            mode="append",
            extra={
                **VersionedTable.txn_extra(app_id, batch_id),
                "pack_base": base + int(total),
            },
        )

    sdf = (
        spark.readStream.schema("doc_id bigint, n_tokens bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    run_available_now(sdf, scratch_dir("ckpt_pack"), foreach_batch=fold)
    placed = t_out.read()
    first_seq = F.expr(f"tok_start div {seq_len}")
    last_seq = F.expr(f"(tok_start + n_tokens - 1) div {seq_len}")
    return placed.select(
        "doc_id",
        "n_tokens",
        "tok_start",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + 1).alias("n_seqs"),
    )


def _minhash_oracle_sql():
    from .dedup import _MH_COEFFS, _MH_P, _SHINGLES_SQL

    coef_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_COEFFS)
    )
    return f"""
    WITH sh0 AS ({_SHINGLES_SQL}),
    sh AS (
        SELECT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS x
        FROM sh0
    ),
    coef(i, a, b) AS (VALUES {coef_rows})
    SELECT c.i AS perm_id,
           MIN((c.a * (s.x % {_MH_P}) + c.b) % {_MH_P}) AS register
    FROM sh s CROSS JOIN coef c
    GROUP BY c.i
    """


@register(
    "q_stream_minhash",
    _minhash_oracle_sql(),
    doc="STREAMING MINHASH REGISTER MAINTENANCE: the corpus-level "
        "32-register MinHash sketch (the q_corpus_overlap primitive) "
        "maintained incrementally over 4 document micro-batches "
        "(maxFilesPerTrigger=1, availableNow). Each batch computes its "
        "own 32 permutation mins in ONE aggregate, then min-merges "
        "into the stored register table. Unlike q_stream_packing's "
        "additive fold, min-merge is IDEMPOTENT and COMMUTATIVE — "
        "replaying a batch after a crash re-merges the same mins and "
        "changes nothing, so NO batch-id guard is needed: exactly-once "
        "by ALGEBRA, not by bookkeeping (the q_stream_hll max-merge "
        "discipline). The final register table is bitwise equal to the "
        "batch computation whatever the arrival order or replay "
        "history, so the streaming result is fully VALUE-ORACLED "
        "against the batch SQL. 100 TB contract: state is 32 longs "
        "however large the corpus; each batch contributes one "
        "map-side-combinable aggregate.",
)
def q_stream_minhash(spark, sf_dir):
    from ..operators import dedup as D
    from ..queries.dedup import _MH_COEFFS
    from ..sources.table import VersionedTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    path = scratch_dir("stream_mh_docs")
    span = int(hi) - int(lo) + 1
    for i in range(4):
        a = int(lo) + i * span // 4
        b = int(lo) + (i + 1) * span // 4
        docs.filter(
            (F.col("doc_id") >= a) & (F.col("doc_id") < b)
        ).coalesce(1).write.mode("append").parquet(path)

    t_state = VersionedTable(spark, scratch_dir("mh_state"))

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        arrs = D.doc_shingle_arrays(batch_df, "doc_id", "text", k=3, hashed="md5")
        sh = arrs.select("id", F.explode("sh_arr").alias("shingle"))
        sig = D.minhash_signatures_linear(
            sh.select(F.lit(0).alias("id"), "shingle"), _MH_COEFFS
        )
        regs = sig.select(
            F.posexplode("signature").alias("perm_id", "register")
        ).select(F.col("perm_id").cast("long"), "register")
        if t_state.exists():
            regs = (
                t_state.read().unionByName(regs)
                .groupBy("perm_id")
                .agg(F.min("register").alias("register"))
            )
        t_state.write(regs.localCheckpoint(), mode="overwrite")

    sdf = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    run_available_now(sdf, scratch_dir("ckpt_mh"), foreach_batch=fold)
    return t_state.read().select("perm_id", "register")


_KMV_STREAM_SQL = """
    SELECT h FROM (
        SELECT DISTINCT ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        FROM (
            SELECT unnest(list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')
                   )) AS sh
            FROM (SELECT string_split_regex(trim(text), '\\s+') AS t
                  FROM documents)
        )
        WHERE sh <> ''
        ORDER BY h LIMIT 256
    )
"""


@register(
    "q_stream_kmv",
    _KMV_STREAM_SQL,
    doc="STREAMING KMV (bottom-k) SKETCH MAINTENANCE — the third "
        "mergeable-sketch algebra in the streaming tier alongside "
        "q_stream_hll (max-merge) and q_stream_minhash (min-merge): "
        "per micro-batch, the batch's bottom-256 distinct shingle "
        "hashes; merge = union ∪ state → distinct → re-bottom-256. "
        "Set-union + order-statistic truncation is IDEMPOTENT and "
        "COMMUTATIVE, so crash replay re-merges the same hashes and "
        "changes nothing — exactly-once by ALGEBRA, no batch-id "
        "guard. The final 256-hash state is bitwise equal to the "
        "batch bottom-k whatever the arrival/replay history, so the "
        "ENTIRE SKETCH STATE is value-oracled row-for-row (not just "
        "a derived estimate — the q_kmv_distinct estimator is a pure "
        "function of this state). 100 TB: state is 256 longs; each "
        "batch contributes one TakeOrdered (k per partition, no "
        "global sort).",
)
def q_stream_kmv(spark, sf_dir):
    from ..operators import dedup as D
    from ..sources.table import VersionedTable

    k = 256
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    path = scratch_dir("stream_kmv_docs")
    span = int(hi) - int(lo) + 1
    for i in range(4):
        a = int(lo) + i * span // 4
        b = int(lo) + (i + 1) * span // 4
        docs.filter(
            (F.col("doc_id") >= a) & (F.col("doc_id") < b)
        ).coalesce(1).write.mode("append").parquet(path)

    t_state = VersionedTable(spark, scratch_dir("kmv_state"))

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        arrs = D.doc_shingle_arrays(batch_df, "doc_id", "text", k=3, hashed="md5")
        bottom = (
            arrs.select(F.explode("sh_arr").alias("h"))
            .distinct()
            .orderBy("h")
            .limit(k)
        )
        if t_state.exists():
            bottom = (
                t_state.read().unionByName(bottom)
                .distinct()
                .orderBy("h")
                .limit(k)
            )
        t_state.write(bottom.localCheckpoint(), mode="overwrite")

    sdf = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    run_available_now(sdf, scratch_dir("ckpt_kmv"), foreach_batch=fold)
    return t_state.read().select("h")


def _stream_cms_oracle_sql() -> str:
    from .sketches import _cms_oracle_sql

    return _cms_oracle_sql()


@register(
    "q_stream_count_min",
    _stream_cms_oracle_sql(),
    doc="STREAMING COUNT-MIN MAINTENANCE — the GUARDED-ADDITIVE corner "
        "of the mergeable-sketch taxonomy: q_stream_hll (max-merge) "
        "and q_stream_minhash (min-merge) are exactly-once by ALGEBRA "
        "(idempotent merges shrug off batch replay), q_stream_kmv is "
        "exactly-once by SET algebra (union∘bottom-k), but Count-Min "
        "counter ADDITION is not idempotent — replaying a batch "
        "double-counts — so each micro-batch's partial (r, c, cnt) "
        "cells fold into the sketch table through refresh_aggregate's "
        "(app_id, batch_id) txn guard, the q_stream_incremental_agg / "
        "Delta txnAppId discipline, with the marker committed "
        "ATOMICALLY with the merged counters. Integer counter addition "
        "is exact and associative, so the drained sketch is bitwise "
        "the batch q_count_min sketch under ANY micro-batch split — "
        "the probe at the exact top-20 heavy users is therefore fully "
        "VALUE-ORACLED by the same static SQL. 100 TB: per-batch state "
        "touched is ≤ d·w = 2048 counter rows however large the "
        "stream; the partial build is one map-side-combining groupBy "
        "per batch.",
)
def q_stream_count_min(spark, sf_dir):
    from ..incremental import refresh_aggregate
    from ..sources.table import VersionedTable
    from .sketches import _CMS_COEFFS, _CMS_W, _P

    path = _staged_events(spark, sf_dir)
    sdf = read_parquet_stream(spark, path, _SCHEMA)
    t = VersionedTable(spark, scratch_dir("stream_cms"))
    app_id = "q_stream_count_min"

    def cell_cols():
        return F.posexplode(
            F.array(
                *[
                    ((F.lit(a) * F.col("user_id") + F.lit(b)) % _P % _CMS_W)
                    for a, b in _CMS_COEFFS
                ]
            )
        ).alias("r", "c")

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        partial = (
            batch_df.select(cell_cols())
            .groupBy("r", "c")
            .agg(F.count("*").alias("cnt"))
        )
        if not t.exists():
            t.write(
                partial.localCheckpoint(),
                mode="overwrite",
                extra=VersionedTable.txn_extra(app_id, batch_id),
            )
        else:
            refresh_aggregate(
                t, partial, keys=["r", "c"], add_columns=["cnt"],
                txn=(app_id, batch_id),
            )

    run_available_now(sdf, scratch_dir("ckpt_cms"), foreach_batch=fold)
    sketch = t.read()
    truth = (
        spark.read.parquet(path)
        .groupBy("user_id")
        .agg(F.count("*").alias("true_count"))
        .orderBy(F.col("true_count").desc(), "user_id")
        .limit(20)
    )
    melted = truth.select("user_id", cell_cols())
    est = (
        melted.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return truth.join(F.broadcast(est), "user_id").select(
        "user_id",
        F.col("true_count").cast("long").alias("true_count"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("true_count"))
        .cast("long")
        .alias("overestimate"),
    )


# ---- q_stream_substr_dedup (round 9) --------------------------------------
# The round-9 incremental-ExactSubstr core run as a STREAM: corpus
# shards arrive as doc_id-ordered micro-batches and the per-position
# dedup state folds forward via suffix.merge_shard_dup_lens — the
# daily-ingestion loop (q_incremental_substr_dedup is one day; this is
# the pipeline).  Imports are at the bottom of the module chain:
# suffix.py never imports streaming_queries, so this edge is acyclic.
from .suffix import _CORPUS_SQL as _SFX_CORPUS_SQL
from .suffix import _EXCISE_MIN as _SFX_EXCISE_MIN
from .suffix import _LCP_SQL as _SFX_LCP_SQL


@register(
    "q_stream_substr_dedup",
    "WITH "
    + _SFX_CORPUS_SQL
    + ","
    + _SFX_LCP_SQL
    + f""",
    dl AS MATERIALIZED (
        SELECT g, CAST(MAX(lcp) AS BIGINT) AS dl
        FROM (
            SELECT ga AS g, lcp FROM lcps
            UNION ALL
            SELECT gb AS g, lcp FROM lcps
        )
        GROUP BY g
    ),
    m AS MATERIALIZED (
        SELECT c.g, c.doc_id, COALESCE(d.dl, 0) AS dl,
               CASE WHEN COALESCE(d.dl, 0) >= {_SFX_EXCISE_MIN}
                    THEN c.g + COALESCE(d.dl, 0) ELSE -1 END AS reach
        FROM corpus c LEFT JOIN dl d USING (g)
        WHERE NOT c.is_sentinel
    ),
    pm AS (
        SELECT g, doc_id, dl,
               MAX(reach) OVER (ORDER BY g
                   ROWS UNBOUNDED PRECEDING) > g AS covered
        FROM m
    )
    SELECT CAST({_SFX_EXCISE_MIN} AS BIGINT) AS threshold,
           CAST(4 AS BIGINT) AS n_shards,
           CAST(COUNT(*) AS BIGINT) AS n_positions,
           CAST(COUNT(*) FILTER (WHERE dl >= {_SFX_EXCISE_MIN}) AS BIGINT)
               AS n_spans,
           CAST(COUNT(*) FILTER (WHERE covered) AS BIGINT) AS n_covered,
           CAST(COUNT(DISTINCT doc_id) FILTER (WHERE covered) AS BIGINT)
               AS n_docs_affected,
           CAST(MAX(dl) AS BIGINT) AS max_span_len,
           CAST(COUNT(*) FILTER (WHERE NOT covered) AS BIGINT)
               AS retained_tokens,
           CAST(COUNT(*) FILTER (WHERE covered) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS covered_share
    FROM pm
    """,
    doc="STREAMING ExactSubstr MAINTENANCE: the incremental suffix-"
        "index update (q_incremental_substr_dedup's merge_shard core) "
        "run as the INGESTION LOOP — the corpus staged as four "
        "doc_id-contiguous shards drained one per micro-batch "
        "(maxFilesPerTrigger=1, deterministic staged mtimes), each "
        "batch merging its shard's suffixes into the accumulated "
        "per-position dedup state.  The fold is NOT replay-safe by "
        "algebra (dup_len max-merges against a moving base), so each "
        "batch commits state + (app_id, batch_id) txn marker + the "
        "doc watermark and position offset in ONE VersionedTable "
        "commit (the q_stream_packing discipline): crash replay of a "
        "committed batch is skipped by the marker.  Because shard "
        "order = doc_id order, the drained state is BIT-IDENTICAL to "
        "the batch full-corpus dedup state (the incremental theorem, "
        "applied 4x) — so the final ExactSubstr certificate is fully "
        "VALUE-ORACLED against the from-scratch rebuild SQL.",
)
def q_stream_substr_dedup(spark, sf_dir):
    import glob as _glob
    import os as _os

    from ..operators.indexing import distributed_prefix_max
    from ..operators.text import tokens as _toks
    from ..sources.table import VersionedTable
    from .suffix import merge_shard_dup_lens, window_keys

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    lo, hi = int(lo), int(hi)
    span = hi - lo + 1
    path = scratch_dir("stream_substr_docs")
    staged: set = set()
    for i in range(4):
        a = lo + i * span // 4
        b = lo + (i + 1) * span // 4
        docs.filter(
            (F.col("doc_id") >= a) & (F.col("doc_id") < b)
        ).coalesce(1).write.mode("append").parquet(path)
        for fpath in set(_glob.glob(_os.path.join(path, "part-*"))) - staged:
            _os.utime(fpath, (1_700_000_000 + i, 1_700_000_000 + i))
            staged.add(fpath)

    t_state = VersionedTable(spark, scratch_dir("substr_state"))
    app_id = "q_stream_substr_dedup"

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        prev = t_state.last_txn_commit(app_id)
        if prev is not None and batch_id <= prev["txn"]["version"]:
            return  # replayed batch — already committed atomically
        watermark = int(prev["doc_watermark"]) if prev is not None else lo
        n_base = int(prev["n_base"]) if prev is not None else 0
        hi_b = int(batch_df.agg(F.max("doc_id")).collect()[0][0])
        base_dl = (
            t_state.read().select("g", "doc_id", "dl")
            if prev is not None
            else spark.createDataFrame([], "g long, doc_id long, dl long")
        )
        bk = window_keys(spark, sf_dir, f"doc_id < {watermark}")
        dk = window_keys(
            spark,
            sf_dir,
            f"doc_id >= {watermark} AND doc_id <= {hi_b}",
            g_offset=n_base,
        )
        n_delta = int(
            load_table(spark, sf_dir, "documents")
            .filter(f"doc_id >= {watermark} AND doc_id <= {hi_b}")
            .agg(F.sum(F.size(_toks("text")) + 1))
            .collect()[0][0]
        )
        merged_dl, _cert = merge_shard_dup_lens(spark, bk, base_dl, dk)
        # ONE commit = the full updated state + txn marker + watermark
        # + position offset: crash-atomic, replay-idempotent
        # full-state overwrite on EVERY batch (cold start included):
        # merged_dl is the complete updated dup-len state, not a delta
        # — appending would double-count base positions on the next
        # read, so there is deliberately no append arm here
        t_state.write(
            merged_dl.localCheckpoint(eager=True),
            mode="overwrite",
            extra={
                **VersionedTable.txn_extra(app_id, batch_id),
                "doc_watermark": hi_b + 1,
                "n_base": n_base + n_delta,
            },
        )

    sdf = (
        spark.readStream.schema("doc_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    run_available_now(sdf, scratch_dir("ckpt_substr"), foreach_batch=fold)

    state = t_state.read().select("g", "doc_id", "dl")
    m = state.withColumn(
        "reach",
        F.when(
            F.col("dl") >= _SFX_EXCISE_MIN, F.col("g") + F.col("dl")
        )
        .otherwise(F.lit(-1))
        .cast("long"),
    )
    pm = distributed_prefix_max(m, ["g"], "reach", "cr").withColumn(
        "covered", F.col("cr") > F.col("g")
    )
    return pm.agg(
        F.lit(_SFX_EXCISE_MIN).cast("long").alias("threshold"),
        F.lit(4).cast("long").alias("n_shards"),
        F.count("*").cast("long").alias("n_positions"),
        F.sum(F.when(F.col("dl") >= _SFX_EXCISE_MIN, 1).otherwise(0))
        .cast("long")
        .alias("n_spans"),
        F.sum(F.when(F.col("covered"), 1).otherwise(0))
        .cast("long")
        .alias("n_covered"),
        F.countDistinct(F.when(F.col("covered"), F.col("doc_id")))
        .cast("long")
        .alias("n_docs_affected"),
        F.max("dl").cast("long").alias("max_span_len"),
        F.sum(F.when(~F.col("covered"), 1).otherwise(0))
        .cast("long")
        .alias("retained_tokens"),
        (
            F.sum(F.when(F.col("covered"), 1).otherwise(0)).cast("double")
            / F.count("*").cast("double")
        ).alias("covered_share"),
    )


# ---------------------------------------------------------------------------
# q_stream_ivf_append (round 11): the streaming form of q_ivf_append —
# an ANN index maintained under a live append stream, with the
# drift-triggered re-train LOOP actually executed (q_ivf_append emits
# the tv_drift signal a production index monitors; this query acts on
# it), under the q_stream_packing single-commit txn discipline.
# ---------------------------------------------------------------------------

_SIV_K = 16          # pinned at init time: re-sizing k online is a
#                      different operation (the batch family auto-sizes
#                      via similarity._auto_k; a live index re-sizes at
#                      re-train time in production, k*k >= n_seen)
_SIV_ITERS = 2
_SIV_TAU = 0.125     # dyadic drift threshold: exact in both engines


def _stream_ivf_oracle_sql() -> str:
    from .similarity import _ivf_chain_subsql

    steps_sql = []
    arms = [
        # step 1: the first quarter trains the initial index
        """SELECT 1 AS step,
           CAST((SELECT COUNT(*) FROM embeddings, bb WHERE vec_id < b1)
                AS BIGINT) AS n_batch,
           CAST((SELECT COUNT(*) FROM embeddings, bb WHERE vec_id < b1)
                AS BIGINT) AS n_seen,
           CAST((SELECT COUNT(*) FROM embeddings, bb WHERE vec_id < b1)
                AS BIGINT) AS trained_on,
           CAST(NULL AS DOUBLE) AS tv_drift,
           CAST(0 AS BIGINT) AS growth_trigger,
           CAST(0 AS BIGINT) AS drift_trigger,
           CAST(1 AS BIGINT) AS retrained"""
    ]
    for i in (2, 3, 4):
        prev_st = f"st{i - 1}"
        lo = f"(SELECT t FROM {prev_st})"  # train bound (n_tr window)
        # the BATCH window is the arrival quarter [b_{i-1}, b_i) — NOT
        # the train bound: after a skipped retrain t < b_{i-1}
        blo = f"(SELECT b{i - 1} FROM bb)"
        hi = f"(SELECT b{i} FROM bb)" if i < 4 else "(SELECT span FROM bb)"
        cur_b = f"b{i}" if i < 4 else "span"
        chain = _ivf_chain_subsql(
            f"SELECT vec_id, cid FROM a{_SIV_ITERS}",
            _SIV_K,
            _SIV_ITERS,
            train_where=f"vec_id < (SELECT t FROM {prev_st})",
            materialized=True,
        )
        steps_sql.append(f""",
    a{i}x AS MATERIALIZED (SELECT * FROM {chain} q{i}),
    cnt{i} AS MATERIALIZED (
        SELECT g.range AS cid,
               CAST(COUNT(*) FILTER (WHERE a.vec_id < {lo}) AS BIGINT)
                   AS n_tr,
               CAST(COUNT(*) FILTER (WHERE a.vec_id >= {blo}
                                     AND a.vec_id < {hi}) AS BIGINT)
                   AS n_ba
        FROM range(0, {_SIV_K}) g
        LEFT JOIN a{i}x a ON a.cid = g.range
        GROUP BY g.range
    ),
    n{i} AS MATERIALIZED (SELECT CAST(SUM(n_tr) AS BIGINT) AS nt,
                    CAST(SUM(n_ba) AS BIGINT) AS nb FROM cnt{i}),
    tv{i} AS MATERIALIZED (
        SELECT CAST(SUM(CAST(abs(
                   CAST(n_tr AS DOUBLE) / CAST(nt AS DOUBLE)
                   - CAST(n_ba AS DOUBLE) / CAST(nb AS DOUBLE))
               AS DECIMAL(18,7))) AS DOUBLE) / 2.0 AS tv
        FROM cnt{i}, n{i}
    ),
    sn{i} AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n
              FROM embeddings, bb WHERE vec_id < {hi}),
    tg{i} AS MATERIALIZED (
        SELECT CASE WHEN (SELECT n FROM sn{i}) - (SELECT nt FROM n{i})
                         >= (SELECT nt FROM n{i})
                    THEN 1 ELSE 0 END AS growth,
               CASE WHEN (SELECT tv FROM tv{i}) > {_SIV_TAU}
                    THEN 1 ELSE 0 END AS drift
    ),
    st{i} AS MATERIALIZED (
        SELECT CASE WHEN (SELECT growth FROM tg{i}) = 1
                         OR (SELECT drift FROM tg{i}) = 1
                    THEN (SELECT {cur_b} FROM bb)
                    ELSE (SELECT t FROM {prev_st}) END AS t
    )""")
        arms.append(f"""SELECT {i},
           CAST((SELECT nb FROM n{i}) AS BIGINT),
           (SELECT n FROM sn{i}),
           CAST((SELECT COUNT(*) FROM embeddings
                 WHERE vec_id < (SELECT t FROM st{i})) AS BIGINT),
           (SELECT tv FROM tv{i}),
           CAST((SELECT growth FROM tg{i}) AS BIGINT),
           CAST((SELECT drift FROM tg{i}) AS BIGINT),
           CAST(CASE WHEN (SELECT growth FROM tg{i}) = 1
                          OR (SELECT drift FROM tg{i}) = 1
                     THEN 1 ELSE 0 END AS BIGINT)""")
    return (
        """
    WITH bv AS (SELECT max(vec_id) + 1 AS span FROM embeddings),
    bb AS MATERIALIZED (SELECT span, span // 4 AS b1, (2 * span) // 4 AS b2,
                  (3 * span) // 4 AS b3 FROM bv),
    st1 AS MATERIALIZED (SELECT b1 AS t FROM bb)"""
        + "".join(steps_sql)
        + "\n    "
        + "\n    UNION ALL ".join(arms)
        + "\n    ORDER BY 1"
    )


@register(
    "q_stream_ivf_append",
    _stream_ivf_oracle_sql(),
    doc="STREAMING ANN INDEX MAINTENANCE WITH DRIFT-TRIGGERED RETRAIN "
        "(round 11; the q_ivf_append monitor turned into the loop that "
        "acts on it): embeddings arrive as four vec_id-contiguous "
        "micro-batches (maxFilesPerTrigger=1, availableNow, the "
        "q_stream_packing mtime-pinned staging); batch 1 trains the "
        "initial k=16 exact-decimal Lloyd index, every later batch is "
        "assigned to the CURRENT centroids, and the index re-trains on "
        "all vectors seen when either trigger fires: GROWTH (appended "
        "since last train >= training-set size — the FAISS-style "
        "capacity rule, integer-exact) or DRIFT (tv between the "
        "batch's and the training set's assignment distributions "
        "> 0.125 — q_ivf_append's quantized-decimal TV, bitwise).  "
        "State rides ONE VersionedTable: rows = vectors seen, commit "
        "extra = centroid matrix + per-cell train counts + step log + "
        "(app_id, batch_id) txn marker — data, state and idempotence "
        "guard are ATOMIC (a branchy fold is not replay-safe by "
        "algebra; the marker is what makes checkpoint replay "
        "harmless).  The DuckDB oracle replays the whole loop in "
        "static SQL: each step's chain trains on `vec_id < (SELECT t "
        "FROM st{i})`, so the data-dependent retrain DECISION threads "
        "through scalar subqueries without branch enumeration — "
        "decisions, tv values, and trained_on sizes are all "
        "value-checked bitwise.  At 100 TB: per batch one "
        "assignment scan of the batch (broadcast k x dim centroids), "
        "k-row bounded metadata to the driver, and a re-train only "
        "when a trigger fires — never a standing corpus-sized cost.",
)
def q_stream_ivf_append(spark, sf_dir):
    import glob as _glob
    import os as _os

    from ..operators import similarity as S
    from ..operators.local_frames import literal_frame
    from ..sources.table import VersionedTable

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    span = int(emb.agg(F.max("vec_id")).first()[0]) + 1
    bounds = [0, span // 4, (2 * span) // 4, (3 * span) // 4, span]

    # stage the four vec_id-contiguous shards in arrival order (mtime
    # pinned — see q_stream_packing for the tiebreak rationale)
    path = scratch_dir("stream_emb")
    staged: set = set()
    for i in range(4):
        emb.filter(
            (F.col("vec_id") >= bounds[i]) & (F.col("vec_id") < bounds[i + 1])
        ).coalesce(1).write.mode("append").parquet(path)
        for fpath in set(_glob.glob(_os.path.join(path, "part-*"))) - staged:
            _os.utime(fpath, (1_700_000_000 + i, 1_700_000_000 + i))
            staged.add(fpath)

    t_out = VersionedTable(spark, scratch_dir("ivf_stream_state"))
    app_id = "q_stream_ivf_append"

    def _train_and_count(train_df):
        cents = S.ivf_centroids(
            train_df, n_centroids=_SIV_K, iters=_SIV_ITERS, exact=True
        )
        counts = {
            int(r.cid): int(r.n)
            for r in S.exact_assignments(train_df, cents)
            .groupBy("cid")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        return cents, [counts.get(c, 0) for c in range(_SIV_K)]

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        batch_df = batch_df.localCheckpoint(eager=True)
        n_batch = batch_df.count()
        prev = t_out.last_txn_commit(app_id)
        if prev is not None and batch_id <= prev["txn"]["version"]:
            return  # replayed batch — already committed atomically
        if prev is None:
            cents, tc = _train_and_count(batch_df)
            steps = [[1, n_batch, n_batch, n_batch, None, 0, 0, 1]]
            extra = {"centroids": cents, "train_counts": tc,
                     "n_seen": n_batch, "steps": steps}
        else:
            cents = prev["centroids"]
            tc = prev["train_counts"]
            steps = prev["steps"]
            bc = {
                int(r.cid): int(r.n)
                for r in S.exact_assignments(batch_df, cents)
                .groupBy("cid")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            nt, nb = sum(tc), sum(bc.values())
            # the q_ivf_append TV expression, verbatim, over the k-row
            # count frame (quantized scale-7 decimal sum — tie-proof
            # |v|<1 class; /2.0 exact in FP)
            tvf = literal_frame(
                spark,
                [(c, tc[c], bc.get(c, 0)) for c in range(_SIV_K)],
                "cid long, n_tr long, n_ba long",
            ).select(
                F.abs(
                    F.col("n_tr").cast("double") / F.lit(float(nt))
                    - F.col("n_ba").cast("double") / F.lit(float(nb))
                ).alias("drift_abs")
            )
            tv = float(
                tvf.agg(
                    (
                        F.sum(F.col("drift_abs").cast("decimal(18,7)"))
                        .cast("double")
                        / F.lit(2.0)
                    ).alias("tv")
                ).first()[0]
            )
            n_seen = int(prev["n_seen"]) + n_batch
            growth = 1 if n_seen - nt >= nt else 0
            drift = 1 if tv > _SIV_TAU else 0
            retrained = 1 if (growth or drift) else 0
            if retrained:
                all_seen = t_out.read().select("vec_id", "embedding").unionByName(
                    batch_df.select("vec_id", "embedding")
                )
                cents, tc = _train_and_count(all_seen)
            trained_on = sum(tc)
            steps = steps + [
                [len(steps) + 1, n_batch, n_seen, trained_on, tv,
                 growth, drift, retrained]
            ]
            extra = {"centroids": cents, "train_counts": tc,
                     "n_seen": n_seen, "steps": steps}
        # ONE commit = vectors + centroid state + step log + marker:
        # no crash point can separate data from decision history
        t_out.write(
            batch_df.select("vec_id", "embedding"),
            mode="append",
            extra={**VersionedTable.txn_extra(app_id, batch_id), **extra},
        )

    sdf = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    run_available_now(sdf, scratch_dir("ckpt_sivf"), foreach_batch=fold)
    final = t_out.last_txn_commit(app_id)
    assert final is not None and len(final["steps"]) == 4
    return literal_frame(
        spark,
        [tuple(s) for s in final["steps"]],
        "step int, n_batch long, n_seen long, trained_on long, "
        "tv_drift double, growth_trigger long, drift_trigger long, "
        "retrained long",
    ).orderBy("step")
