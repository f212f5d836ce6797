"""Incremental (batch-CDC) processing.

Reference parity: utils/incremental.py —
- get_watermark (:13-50): max timestamp from the target table (scalar
  collect — metadata-sized, acceptable at any scale)
- filter_incremental_data (:53-86): source rows strictly newer than the
  watermark, or >= initial_load_date on first run
- merge_incremental_data (:89-156): MERGE upsert of the increment
- append path (:159-218)

The idiomatic-Spark upgrade path is Structured Streaming
(streaming/ops.py); this batch high-water-mark pattern is kept for
parity because it is what the reference actually does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.table import VersionedTable


def get_watermark(table: VersionedTable, watermark_col: str):
    """Max of the watermark column at the latest version; None when the
    target doesn't exist yet (first run)."""
    if not table.exists():
        return None
    row = table.read().agg(F.max(watermark_col).alias("wm")).first()
    return row.wm


def filter_incremental(
    source: DataFrame,
    watermark,
    watermark_col: str,
    initial_load_start=None,
) -> DataFrame:
    """Rows strictly newer than the watermark; on first run optionally
    bounded below by initial_load_start.

    Datetime watermarks are passed as ISO strings and cast to the
    column's own type — a Python datetime literal goes through a
    timezone-dependent LTZ conversion that silently shifts the cut line
    against TIMESTAMP_NTZ columns under non-UTC sessions; string→NTZ
    casts are timezone-free."""
    import datetime as _dt

    col_type = source.schema[watermark_col].dataType

    def typed_lit(v):
        if isinstance(v, _dt.datetime):
            return F.lit(v.isoformat(sep=" ")).cast(col_type)
        return F.lit(v).cast(col_type)

    if watermark is not None:
        return source.filter(F.col(watermark_col) > typed_lit(watermark))
    if initial_load_start is not None:
        return source.filter(F.col(watermark_col) >= typed_lit(initial_load_start))
    return source


def incremental_append(
    table: VersionedTable,
    source: DataFrame,
    watermark_col: str,
    initial_load_start=None,
) -> dict:
    """Watermark → filter → append. Returns run metadata."""
    wm = get_watermark(table, watermark_col)
    inc = filter_incremental(source, wm, watermark_col, initial_load_start)
    n = inc.count()
    if n:
        table.write(inc, mode="append")
    return {"watermark": wm, "rows_appended": n}


def incremental_merge(
    table: VersionedTable,
    source: DataFrame,
    watermark_col: str,
    merge_keys: list[str],
    initial_load_start=None,
) -> dict:
    """Watermark → filter → MERGE upsert (handles late updates to
    existing keys, unlike append)."""
    wm = get_watermark(table, watermark_col)
    inc = filter_incremental(source, wm, watermark_col, initial_load_start)
    n = inc.count()
    if n:
        table.merge(inc, keys=merge_keys)
    return {"watermark": wm, "rows_merged": n}


def refresh_aggregate(
    table: VersionedTable,
    delta: DataFrame,
    keys: list[str],
    add_columns: list[str],
    txn: tuple[str, int] | None = None,
) -> dict:
    """Incremental materialized-view maintenance for distributive
    aggregates (SUM/COUNT): fold a PARTIAL aggregate of only the new
    rows into the stored aggregate table — matched groups add
    (``t.c + s.c``), new groups insert. A day's refresh touches a
    day's groups; the full history is never rescanned (and with the
    table partitioned on the group key, the MERGE prunes to the
    touched partitions).

    Exactness contract: additive columns must be decimal or integral.
    Decimal addition is exact, so seed ⊕ increments is bit-equal to
    the from-scratch aggregate under ANY refresh batching — double
    columns would drift (rounding depends on addition order). Cast to
    double only when reading the view out.

    Replay safety: an additive fold applied twice double-counts, and
    ``foreachBatch`` CAN replay a batch after a failure/restart.  Pass
    ``txn=(app_id, batch_id)`` to make the fold idempotent — already-
    applied batches (batch_id ≤ the table's recorded txn version for
    ``app_id``) are skipped, the Delta ``txnAppId``/``txnVersion``
    idempotent-writer pattern.
    """
    if txn is not None:
        last = table.last_txn_version(txn[0])
        if last is not None and txn[1] <= last:
            return {"groups_in_delta": 0, "skipped_replay": True}
    n = delta.count()
    if n:
        table.merge(
            delta,
            keys=keys,
            update_exprs={c: f"t.{c} + s.{c}" for c in add_columns},
            extra=VersionedTable.txn_extra(*txn) if txn is not None else None,
        )
    return {"groups_in_delta": n}


def sync_changes(
    src: VersionedTable,
    dst: VersionedTable,
    keys: list[str],
    from_version: int,
    to_version: int | None = None,
) -> None:
    """Re-apply a change data feed downstream — the consumer half of
    the CDF contract (``changes()`` produces net per-key
    insert/update_postimage/delete rows; this replays them into ``dst``
    with ONE MERGE): upserts apply through whenMatchedUpdate +
    whenNotMatchedInsert, deletes through whenMatchedDelete, and
    feed-only metadata never lands. After the call, ``dst`` equals
    ``src``'s target snapshot without ever re-reading the full source
    table — the point of CDF at 100 TB: downstream cost is
    proportional to the CHANGES, not the table."""
    if not dst.exists():
        # bootstrap: materialize the from-version snapshot, then the
        # feed below brings it to the target snapshot
        dst.write(
            src.read(version=from_version), mode="overwrite", operation="CDF_SYNC"
        )
    feed = src.changes(from_version, to_version, keys=keys)
    data_cols = [c for c in feed.columns if c != "_change_type"]
    dst.merge(
        feed,
        keys=keys,
        update_columns=[c for c in data_cols if c not in keys],
        delete_condition="s._change_type = 'delete'",
        extra={"cdf_from": from_version, "cdf_to": to_version},
    )
