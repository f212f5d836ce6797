"""VersionedTable: the Delta capability surface (write modes, time
travel, history, restore, vacuum, compaction, MERGE incl. partition
pruning). Mirrors reference test shapes (tests/test_bronze.py:39-53
round-trip; dedup/merge invariants)."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import Row, functions as F

from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable


def _mk(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def test_write_read_roundtrip(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    df = _mk(spark, [{"id": i, "v": float(i)} for i in range(10)])
    t.write(df, mode="overwrite")
    assert t.read().count() == 10
    assert t.latest_version() == 0


def test_append_and_time_travel(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1}]), mode="overwrite")
    t.write(_mk(spark, [{"id": 2}, {"id": 3}]), mode="append")
    assert t.read().count() == 3
    assert t.read(version=0).count() == 1
    hist = t.history()
    assert [h["version"] for h in hist] == [1, 0]
    ts0 = hist[-1]["timestamp"]
    assert t.read(timestamp=ts0).count() == 1


def test_restore_and_vacuum(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1}]), mode="overwrite")
    t.write(_mk(spark, [{"id": 9}, {"id": 10}]), mode="overwrite")
    t.restore(0)
    assert t.read().count() == 1
    assert t.history(1)[0]["operation"] == "RESTORE"
    # v1's dir is unreferenced by the last 2 versions (v2 restore + v1? no:
    # last2 = v1,v2; retain 1 → only v2 (== v0 dirs) stays.
    removed = t.vacuum(retain_last=1)
    assert len(removed) == 1
    assert t.read().count() == 1  # current snapshot untouched


def test_restore_brings_back_the_rules_of_its_version(spark, tmp_table_path):
    """Rules are versioned with the rows they govern: restoring a version
    from before a constraint restores its rule set too, so the restored
    rows never sit under a constraint they violate."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": -5.0}]), mode="overwrite")  # v0
    t.write(_mk(spark, [{"id": 1, "v": 3.0}]), mode="overwrite")  # v1
    t.add_constraint("v_pos", "v > 0")
    constrained = t.latest_version()
    t.restore(0)
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, -5.0)}
    assert t.constraints() == {}
    t.write(_mk(spark, [{"id": 2, "v": -1.0}]), mode="append")
    assert t.read().count() == 2
    # and back: the constrained version brings its constraint along
    t.restore(constrained)
    assert t.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="v_pos"):
        t.write(_mk(spark, [{"id": 3, "v": -1.0}]), mode="append")


def test_compact(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    df = _mk(spark, [{"id": i} for i in range(100)]).repartition(8)
    t.write(df, mode="overwrite")
    assert t.detail()["num_files"] >= 8
    t.compact(target_files=1)
    assert t.detail()["num_files"] == 1
    assert t.read().count() == 100
    assert t.history(1)[0]["operation"] == "OPTIMIZE"


def test_merge_upsert_unpartitioned(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 10.0}, {"id": 2, "v": 20.0}]), mode="overwrite")
    t.merge(_mk(spark, [{"id": 2, "v": 99.0}, {"id": 3, "v": 30.0}]), keys=["id"])
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}
    assert t.history(1)[0]["operation"] == "MERGE"


def test_merge_partition_pruned(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    base = _mk(
        spark,
        [{"id": i, "day": f"d{i % 3}", "v": float(i)} for i in range(30)],
    )
    t.write(base, mode="overwrite", partition_by=["day"])
    before = t._resolve()
    # source touches only day=d1
    src = _mk(spark, [{"id": 1, "day": "d1", "v": -1.0}, {"id": 100, "day": "d1", "v": -2.0}])
    t.merge(src, keys=["id"])
    after = t._resolve()
    assert after.extra["pruned"] is True
    # d0/d2 units carried over by reference (identical paths)
    carried = set(before.units) & set(after.units)
    assert {u.split("/", 1)[1] for u in carried} == {"day=d0", "day=d2"}
    got = {r.id: r.v for r in t.read().collect()}
    assert got[1] == -1.0 and got[100] == -2.0 and got[2] == 2.0
    assert t.read().count() == 31


def test_merge_into_empty_table(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.merge(_mk(spark, [{"id": 1, "v": 1.0}]), keys=["id"])
    assert t.read().count() == 1


def test_merge_update_condition(spark, tmp_table_path):
    """Conditional matched-update (Delta whenMatchedUpdate(condition)):
    matched rows update only when the condition holds."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 5.0}, {"id": 2, "v": 1.0}]), mode="overwrite")
    src = _mk(spark, [{"id": 1, "v": 3.0}, {"id": 2, "v": 9.0}, {"id": 3, "v": 7.0}])
    t.merge(src, keys=["id"], update_condition="s.v < t.v")
    got = {r.id: r.v for r in t.read().collect()}
    # id=1 updates (3 < 5), id=2 keeps 1.0 (9 > 1), id=3 inserts
    assert got == {1: 3.0, 2: 1.0, 3: 7.0}


def test_occ_commit_put_if_absent(spark, tmp_path):
    """Two writers committing the same version: exactly one wins; the
    loser gets ConcurrentWriteError, the winner's manifest survives."""
    import time as _time
    from spark_delta_lakehouse_nyctaxi_spark.sources.table import (
        ConcurrentWriteError,
        VersionedTable,
        VersionInfo,
    )

    t = VersionedTable(spark, str(tmp_path / "occ"))
    t.write(spark.range(5), mode="overwrite")
    head = t.latest_version()
    winner = VersionInfo(head + 1, _time.time(), "WRITE", "append", ["u1"], [], {})
    loser = VersionInfo(head + 1, _time.time(), "WRITE", "append", ["u2"], [], {})
    t._commit(winner)
    with pytest.raises(ConcurrentWriteError):
        t._commit(loser)
    assert t._versions()[-1].units == ["u1"]


def test_occ_concurrent_appends_both_land(spark, tmp_path):
    """Two threads appending concurrently: the loser rebases and
    retries, so BOTH commits land and the final snapshot has all rows."""
    import threading

    from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "occ2"))
    t.write(spark.range(0, 10).withColumnRenamed("id", "k"), mode="overwrite")
    errs = []

    def append(lo, hi):
        try:
            VersionedTable(spark, str(tmp_path / "occ2")).write(
                spark.range(lo, hi).withColumnRenamed("id", "k"), mode="append"
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = [threading.Thread(target=append, args=(100, 110)), threading.Thread(target=append, args=(200, 210))]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    assert t.latest_version() == 2
    assert t.read().count() == 30


def test_occ_merge_conflict_detected(spark, tmp_path):
    """A merge whose snapshot went stale (someone appended after its
    read) must raise instead of clobbering the concurrent commit."""
    from spark_delta_lakehouse_nyctaxi_spark.sources.table import (
        ConcurrentWriteError,
        VersionedTable,
    )

    path = str(tmp_path / "occ3")
    t = VersionedTable(spark, path)
    t.write(spark.range(5).withColumnRenamed("id", "k"), mode="overwrite")

    # simulate interleaving: stale handle resolves, another writer lands
    stale = VersionedTable(spark, path)
    src = spark.range(3, 8).withColumnRenamed("id", "k")
    orig_write_units = stale._write_units

    def hijack(df, partition_by):
        # concurrent append commits between stale's read and its commit
        VersionedTable(spark, path).write(
            spark.range(50, 55).withColumnRenamed("id", "k"), mode="append"
        )
        return orig_write_units(df, partition_by)

    stale._write_units = hijack
    with pytest.raises(ConcurrentWriteError):
        stale.merge(src, keys=["k"])
    # the concurrent append survived
    assert VersionedTable(spark, path).read().count() == 10


def test_occ_rule_change_conflicts_with_blind_append(spark, tmp_path):
    """A blind append rebases over a concurrent commit only while the
    table's rules are unchanged. A constraint added, or an identity
    range allocated, between its read and its commit raises
    ConcurrentWriteError (Delta's MetadataChangedException): the rows
    were checked and numbered under rules that no longer hold."""
    from spark_delta_lakehouse_nyctaxi_spark.sources.table import ConcurrentWriteError

    path = str(tmp_path / "rules")
    VersionedTable(spark, path).write(_mk(spark, [{"id": 1, "v": 1.0}]), mode="overwrite")
    stale = VersionedTable(spark, path)
    orig_write_units = stale._write_units

    def constrain_first(df, partition_by):
        VersionedTable(spark, path).add_constraint("v_pos", "v > 0")
        return orig_write_units(df, partition_by)

    stale._write_units = constrain_first
    with pytest.raises(ConcurrentWriteError):
        stale.write(_mk(spark, [{"id": 2, "v": -1.0}]), mode="append")
    fresh = VersionedTable(spark, path)
    assert fresh.constraints() == {"v_pos": "v > 0"}
    assert fresh.read().filter("NOT (v > 0)").count() == 0

    # two interleaved identity-assigning appends: the loser raises, and
    # its retry draws ids after the winner's
    ipath = str(tmp_path / "ident")
    t = VersionedTable(spark, ipath)
    t.add_identity_column("row_id")
    t.write(_mk(spark, [{"k": "a"}, {"k": "b"}]), mode="overwrite")
    loser = VersionedTable(spark, ipath)
    orig_write_units = loser._write_units

    def winner_first(df, partition_by):
        VersionedTable(spark, ipath).write(_mk(spark, [{"k": "c"}, {"k": "d"}]), mode="append")
        return orig_write_units(df, partition_by)

    loser._write_units = winner_first
    with pytest.raises(ConcurrentWriteError):
        loser.write(_mk(spark, [{"k": "e"}, {"k": "f"}]), mode="append")
    loser._write_units = orig_write_units
    loser.write(_mk(spark, [{"k": "e"}, {"k": "f"}]), mode="append")
    ids = [r.row_id for r in t.read().collect()]
    assert len(ids) == len(set(ids)) == 6
    assert {(r.k, r.row_id) for r in t.read().collect()} == {
        ("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 5), ("f", 6)
    }


def test_occ_materialize_rename_conflict_detected(spark, tmp_path):
    """materialize_rename is a read-modify-write: an append that lands
    between its read and its commit makes it raise instead of being
    dropped by a rebase, and a retry on the new snapshot keeps every
    row and clears the mapping."""
    from spark_delta_lakehouse_nyctaxi_spark.sources.table import ConcurrentWriteError

    path = str(tmp_path / "occ_rename")
    t = VersionedTable(spark, path)
    t.write(_mk(spark, [{"id": 1, "v": 1.0}, {"id": 2, "v": 2.0}]), mode="overwrite")
    t.rename_column("v", "value")
    stale = VersionedTable(spark, path)
    orig_write_units = stale._write_units

    def hijack(df, partition_by):
        VersionedTable(spark, path).write(
            _mk(spark, [{"id": 3, "value": 3.0}]), mode="append"
        )
        return orig_write_units(df, partition_by)

    stale._write_units = hijack
    with pytest.raises(ConcurrentWriteError):
        stale.materialize_rename()
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    stale._write_units = orig_write_units
    stale.materialize_rename()
    assert t.detail()["column_mapping"] == {}
    assert sorted((r.id, r.value) for r in t.read().collect()) == [
        (1, 1.0), (2, 2.0), (3, 3.0)
    ]


def test_crash_before_commit_link_keeps_snapshot_and_retry_converges(spark, tmp_path):
    """Every writer commits through one point. A crash there, before the
    manifest link, leaves the latest version and its rows as they were;
    re-running the operation reaches the post-op snapshot; and the
    crashed attempt's commit dir, which no version lists, is what vacuum
    collects."""
    path = str(tmp_path / "crash")
    t = VersionedTable(spark, path)
    t.write(
        _mk(spark, [{"id": i, "v": float(i), "p": i % 2} for i in range(4)]),
        mode="overwrite", partition_by=["p"],
    )

    def rows():
        return sorted(tuple(r) for r in t.read().drop("p").collect())

    def listed_roots():
        return {u.split("/", 1)[0] for v in t._versions() for u in v.units}

    def crash(info):
        raise OSError("crash before the commit link")

    s0 = [(0, 0.0), (1, 1.0), (2, 2.0), (3, 3.0)]
    s_compacted = [(1, 10.0), (2, 3.0), (3, 3.0), (4, 4.0), (5, 5.0)]
    ops = [
        ("append", lambda: t.write(_mk(spark, [{"id": 4, "v": 4.0, "p": 0}]), mode="append"),
         s0 + [(4, 4.0)]),
        ("merge", lambda: t.merge(
            _mk(spark, [{"id": 1, "v": 10.0, "p": 1}, {"id": 5, "v": 5.0, "p": 1}]), keys=["id"]),
         [(0, 0.0), (1, 10.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0)]),
        ("update", lambda: t.update({"v": "v + 1"}, "id = 2"),
         [(0, 0.0), (1, 10.0), (2, 3.0), (3, 3.0), (4, 4.0), (5, 5.0)]),
        ("delete", lambda: t.delete("id = 0"), s_compacted),
        ("compact", lambda: t.compact(), s_compacted),
        ("overwrite", lambda: t.write(
            _mk(spark, [{"id": 7, "v": 7.0, "p": 1}]), mode="overwrite", partition_by=["p"]),
         [(7, 7.0)]),
        ("restore", lambda: t.restore(5), s_compacted),
        ("materialize_rename", lambda: t.materialize_rename(), s_compacted),
    ]
    orphans = set()
    for name, op, expected in ops:
        if name == "materialize_rename":
            t.rename_column("v", "value")
        version, before = t.latest_version(), rows()
        roots = set(os.listdir(t._data))
        t._commit = crash
        try:
            with pytest.raises(OSError, match="crash before the commit link"):
                op()
        finally:
            del t._commit
        assert t.latest_version() == version, name
        assert rows() == before, name
        orphan = set(os.listdir(t._data)) - roots
        assert len(orphan) == (0 if name == "restore" else 1), name
        op()
        assert t.latest_version() == version + 1, name
        assert rows() == expected, name
        assert not orphan & listed_roots(), name
        assert orphan <= set(t.vacuum(retain_last=1, dry_run=True)), name
        orphans |= orphan
    assert t.read().columns == ["id", "value", "p"]
    assert orphans <= set(t.vacuum(retain_last=1))
    assert not orphans & set(os.listdir(t._data))
    assert rows() == s_compacted


def test_changes_tags_net_diff(spark, tmp_table_path):
    """changes(): insert/update_postimage/delete tagging with null-safe
    payload comparison; unchanged rows don't appear; deletes carry the
    old image, updates the new one."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        _mk(spark, [{"id": 1, "v": 1.0}, {"id": 2, "v": 2.0}, {"id": 3, "v": None}]),
        mode="overwrite",
    )
    t.write(
        _mk(spark, [{"id": 1, "v": 1.0}, {"id": 3, "v": 3.0}, {"id": 4, "v": 4.0}]),
        mode="overwrite",
    )
    got = {(r.id, r.v, r._change_type) for r in t.changes(0, keys=["id"]).collect()}
    assert got == {
        (2, 2.0, "delete"),          # old image
        (3, 3.0, "update_postimage"), # NULL -> 3.0 is a change (null-safe)
        (4, 4.0, "insert"),
    }
    # v0 -> v0 feed is empty
    assert t.changes(0, 0, keys=["id"]).count() == 0


def test_append_schema_evolution(spark, tmp_table_path):
    """Delta mergeSchema semantics: mismatched append is rejected by
    default; with merge_schema=True added columns null-fill old rows
    and dropped columns null-fill new rows."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 1.0}]), mode="overwrite")
    with pytest.raises(ValueError, match="merge_schema"):
        t.write(
            _mk(spark, [{"id": 2, "v": 2.0, "extra": "x"}]), mode="append"
        )
    t.write(
        _mk(spark, [{"id": 2, "v": 2.0, "extra": "x"}]),
        mode="append",
        merge_schema=True,
    )
    rows = {r.id: (r.v, r.extra) for r in t.read().collect()}
    assert rows == {1: (1.0, None), 2: (2.0, "x")}
    # dropped column on the new side null-fills too
    t.write(_mk(spark, [{"id": 3}]), mode="append", merge_schema=True)
    assert {r.id for r in t.read().filter("v IS NULL AND extra IS NULL").collect()} == {3}


def test_merge_update_exprs_additive(spark, tmp_table_path):
    """MERGE with expression-based matched updates: additive fold
    (t.c + s.c), inserts for new keys, untouched rows unchanged."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "cnt": 10}, {"id": 2, "cnt": 20}]), mode="overwrite")
    t.merge(
        _mk(spark, [{"id": 2, "cnt": 5}, {"id": 3, "cnt": 7}]),
        keys=["id"],
        update_exprs={"cnt": "t.cnt + s.cnt"},
    )
    assert {(r.id, r.cnt) for r in t.read().collect()} == {(1, 10), (2, 25), (3, 7)}


def test_delete_where(spark, tmp_table_path):
    """DELETE rewrites matching rows out; partitioned tables carry
    untouched partitions by reference (no rewrite)."""
    t = VersionedTable(spark, tmp_table_path)
    df = _mk(spark, [{"id": i, "grp": "a" if i < 5 else "b", "v": float(i)} for i in range(10)])
    t.write(df, mode="overwrite", partition_by=["grp"])
    before_units = set(t._resolve().units)
    t.delete("id = 7")  # only grp=b touched
    after = t._resolve()
    assert t.read().count() == 9
    assert {r.id for r in t.read().filter("grp = 'b'").collect()} == {5, 6, 8, 9}
    # grp=a unit carried over by reference
    a_units_before = {u for u in before_units if "grp=a" in u}
    assert a_units_before <= set(after.units)
    assert after.operation == "DELETE"
    # no-match delete is a no-op version-wise
    v = t.latest_version()
    t.delete("id = 999")
    assert t.latest_version() == v


def test_update_set_where(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 1.0}, {"id": 2, "v": 2.0}]), mode="overwrite")
    t.update({"v": "v * 10"}, condition="id = 2")
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, 1.0), (2, 20.0)}
    # time travel still sees the pre-update state
    assert {(r.id, r.v) for r in t.read(version=0).collect()} == {(1, 1.0), (2, 2.0)}


def test_delete_null_predicate_rows_survive(spark, tmp_table_path):
    """DELETE WHERE removes only rows where the condition is TRUE —
    rows where it evaluates to NULL (e.g. NULL status) must SURVIVE
    (Delta semantics; a bare NOT(cond) would silently drop them)."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        _mk(spark, [{"id": 1, "status": "O"}, {"id": 2, "status": "F"},
                    {"id": 3, "status": None}]),
        mode="overwrite",
    )
    t.delete("status = 'O'")
    assert {(r.id, r.status) for r in t.read().collect()} == {(2, "F"), (3, None)}


def test_delete_partitioned_null_and_special_values(spark, tmp_table_path):
    """Partitioned DELETE must find matching rows in partitions whose
    path encoding diverges from str(value): NULL partitions
    (__HIVE_DEFAULT_PARTITION__) and URL-escaped special characters."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        spark.createDataFrame(
            [(1, None), (2, "a b:c"), (3, "plain"), (4, None)],
            "id long, grp string",
        ),
        mode="overwrite",
        partition_by=["grp"],
    )
    t.delete("id = 1")  # lives in the NULL partition
    assert {r.id for r in t.read().collect()} == {2, 3, 4}
    t.delete("id = 2")  # lives in the escaped-chars partition
    assert {r.id for r in t.read().collect()} == {3, 4}
    # NULL-partition row 4 survived both rewrites
    assert {r.grp for r in t.read().collect()} == {"plain", None}


def test_changes_all_key_columns_and_null_keys(spark, tmp_table_path):
    """changes() with an empty payload (every column a key) must not
    throw, and genuinely NULL-keyed rows present in both snapshots are
    NOT mislabeled as inserts."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1}, {"id": None}]), mode="overwrite")
    t.write(_mk(spark, [{"id": 1}, {"id": None}, {"id": 2}]), mode="overwrite")
    out = {(r.id, r._change_type) for r in t.changes(0, 1, keys=["id"]).collect()}
    # unchanged rows (incl. the NULL-keyed one) emit nothing; only the insert
    assert out == {(2, "insert")}


def test_merge_null_keyed_rows_match(spark, tmp_table_path):
    """MERGE matches NULL keys null-safely: a NULL-keyed source row
    updates the NULL-keyed target row instead of inserting a dup."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": None, "v": 1.0}, {"id": 1, "v": 2.0}]), mode="overwrite")
    t.merge(
        spark.createDataFrame([(None, 9.0)], "id long, v double"), keys=["id"]
    )
    assert sorted(
        [(r.id, r.v) for r in t.read().collect()], key=lambda x: (x[0] is None, x)
    ) == [(1, 2.0), (None, 9.0)]


def test_refresh_aggregate_replayed_batch_skipped(spark, tmp_table_path):
    """The txnAppId/txnVersion idempotent-writer pattern: re-applying
    the same batch_id is a no-op, so a foreachBatch replay after a
    checkpoint restart cannot double-count into the view."""
    from spark_delta_lakehouse_nyctaxi_spark.incremental import refresh_aggregate

    t = VersionedTable(spark, tmp_table_path)
    b0 = _mk(spark, [{"k": "a", "cnt": 2}])
    t.write(b0, mode="overwrite", extra=VersionedTable.txn_extra("app", 0))
    b1 = _mk(spark, [{"k": "a", "cnt": 3}, {"k": "b", "cnt": 1}])
    r1 = refresh_aggregate(t, b1, keys=["k"], add_columns=["cnt"], txn=("app", 1))
    assert r1["groups_in_delta"] == 2
    # replay batch 1 (and a stale batch 0): both skipped
    r2 = refresh_aggregate(t, b1, keys=["k"], add_columns=["cnt"], txn=("app", 1))
    r3 = refresh_aggregate(t, b0, keys=["k"], add_columns=["cnt"], txn=("app", 0))
    assert r2.get("skipped_replay") and r3.get("skipped_replay")
    assert {(r.k, r.cnt) for r in t.read().collect()} == {("a", 5), ("b", 1)}


def test_stats_skipping_prunes_disjoint_units(spark, tmp_table_path):
    """Clustered appends with stats_cols → a range scan skips every
    unit whose [min, max] is disjoint, and values equal the full-scan
    filter."""
    t = VersionedTable(spark, tmp_table_path)
    for i in range(4):
        batch = _mk(spark, [{"id": i * 100 + j, "v": float(j)} for j in range(100)])
        t.write(batch, mode="append" if i else "overwrite", stats_cols=["id"])
    info = t._resolve()
    assert len(info.extra["stats"]) == len(info.units) == 4
    got = t.scan({"id": (120, 180)})
    assert t.last_scan == {"kept": 1, "skipped": 3}
    full = t.read().filter(F.col("id").between(120, 180))
    assert sorted(r.id for r in got.collect()) == sorted(r.id for r in full.collect())
    # open-ended bound
    t.scan({"id": (300, None)})
    assert t.last_scan == {"kept": 1, "skipped": 3}
    # disjoint everywhere → empty frame with the right schema
    empty = t.scan({"id": (1000, 2000)})
    assert t.last_scan["kept"] == 0 and empty.count() == 0
    assert empty.columns == t.read().columns


def test_stats_skipping_partitioned_and_null_handling(spark, tmp_table_path):
    """Partitioned units get per-partition stats; an all-null unit is
    skipped for range predicates (NULL never matches); NULL rows inside
    a mixed unit survive pruning but are dropped by the row filter."""
    t = VersionedTable(spark, tmp_table_path)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", None), (4, "b", None), (5, "c", 99)],
        "id long, part string, v long",
    )
    t.write(df, mode="overwrite", partition_by=["part"], stats_cols=["v"])
    info = t._resolve()
    assert len(info.extra["stats"]) == len(info.units) == 3
    got = t.scan({"v": (5, 50)})
    # part=b is all-null in v → skipped; part=c disjoint → skipped
    assert t.last_scan == {"kept": 1, "skipped": 2}
    assert sorted(r.id for r in got.collect()) == [1, 2]


def test_stats_absent_units_always_scanned(spark, tmp_table_path):
    """Units written without stats_cols must never be skipped — skipping
    is an optimization, not a correctness dependency — and appends carry
    prior units' stats verbatim."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": i} for i in range(10)]), mode="overwrite")  # no stats
    t.write(
        _mk(spark, [{"id": 1000 + i} for i in range(10)]),
        mode="append",
        stats_cols=["id"],
    )
    info = t._resolve()
    assert len(info.units) == 2 and len(info.extra["stats"]) == 1
    got = t.scan({"id": (0, 5)})
    assert t.last_scan == {"kept": 1, "skipped": 1}  # stats-less unit kept
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4, 5]
    # another stats append carries the previous stats forward
    t.write(_mk(spark, [{"id": 2000}]), mode="append", stats_cols=["id"])
    assert len(t._resolve().extra["stats"]) == 2


def test_stats_survive_partition_pruned_delete(spark, tmp_table_path):
    """DELETE carries untouched partitions by reference together with
    their stats, and the rewritten partition gets fresh stats for the
    table's stats columns."""
    t = VersionedTable(spark, tmp_table_path)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "b", 30)], "id long, part string, v long"
    )
    t.write(df, mode="overwrite", partition_by=["part"], stats_cols=["v"])
    t.delete("id = 3")
    info = t._resolve()
    stats = info.extra.get("stats", {})
    assert len(stats) == 2  # carried part=a and rewritten part=b
    got = t.scan({"v": (15, 25)})
    assert t.last_scan["skipped"] == 1  # part=a provably disjoint
    assert [r.id for r in got.collect()] == [2]


def test_stats_date_and_string_columns_roundtrip(spark, tmp_table_path):
    """Date stats serialize as ISO strings in the manifest and still
    prune correctly against date-string bounds."""
    import datetime

    t = VersionedTable(spark, tmp_table_path)
    rows = [
        (1, datetime.date(2023, 1, 5)),
        (2, datetime.date(2023, 6, 5)),
    ]
    t.write(
        spark.createDataFrame(rows, "id long, d date"),
        mode="overwrite",
        stats_cols=["d"],
    )
    t.write(
        spark.createDataFrame(
            [(3, datetime.date(2024, 1, 1))], "id long, d date"
        ),
        mode="append",
        stats_cols=["d"],
    )
    got = t.scan({"d": ("2023-12-01", "2024-12-31")})
    assert t.last_scan == {"kept": 1, "skipped": 1}
    assert [r.id for r in got.collect()] == [3]


def test_stats_survive_compact_and_restore(spark, tmp_table_path):
    """OPTIMIZE re-stats the tracked columns on the compacted units
    (compaction must not degrade a skipping table to always-scan), and
    RESTORE carries the restored snapshot's stats verbatim."""
    t = VersionedTable(spark, tmp_table_path)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 90)], "id long, part string, v long"
    )
    t.write(df, mode="overwrite", partition_by=["part"], stats_cols=["v"])
    v0_stats = t._resolve().extra["stats"]
    t.compact()
    info = t._resolve()
    assert info.operation == "OPTIMIZE" and len(info.extra["stats"]) == len(info.units)
    t.scan({"v": (80, 100)})
    assert t.last_scan["skipped"] == 1  # part=a still provably disjoint
    t.restore(0)
    assert t._resolve().extra["stats"] == v0_stats
    t.scan({"v": (80, 100)})
    assert t.last_scan["skipped"] == 1


def _data_files(path):
    out = []
    for root, _, files in os.walk(os.path.join(path, "data")):
        out += [f for f in files if f.endswith(".parquet")]
    return sorted(out)


def test_mor_delete_metadata_only_stacking_and_compact(spark, tmp_table_path):
    """Merge-on-read DELETE writes NO data files; tombstones stack,
    scope only to pre-delete units (later appends survive a matching
    predicate), time travel sees through them, and OPTIMIZE
    materializes + clears them."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": i, "v": float(i)} for i in range(10)]), mode="overwrite")
    before = _data_files(tmp_table_path)
    t.delete("id < 3", mode="merge-on-read")
    assert _data_files(tmp_table_path) == before  # zero data IO
    assert sorted(r.id for r in t.read().collect()) == list(range(3, 10))
    assert t.read(version=0).count() == 10  # time travel pre-delete
    # append a row MATCHING the old predicate — must survive (scoped)
    t.write(_mk(spark, [{"id": 1, "v": 99.0}]), mode="append")
    assert sorted(r.id for r in t.read().collect()) == [1] + list(range(3, 10))
    # second tombstone applies to everything current, incl. the append
    t.delete("id >= 8", mode="merge-on-read")
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 4, 5, 6, 7]
    # compaction materializes: same rows, tombstones gone
    t.compact()
    info = t._resolve()
    assert "mor_deletes" not in info.extra
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 4, 5, 6, 7]


def test_mor_null_predicate_rows_survive(spark, tmp_table_path):
    """Rows where the tombstone predicate evaluates to NULL must
    survive (Delta DELETE semantics), same as the copy-on-write path."""
    t = VersionedTable(spark, tmp_table_path)
    df = spark.createDataFrame([(1, 5), (2, None), (3, 20)], "id long, v long")
    t.write(df, mode="overwrite")
    t.delete("v > 10", mode="merge-on-read")
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_mor_then_cow_delete_keeps_carried_tombstones(spark, tmp_table_path):
    """A partition-pruned copy-on-write DELETE after a merge-on-read
    one: the rewritten partition materializes the tombstone, the
    carried partition keeps it live — no resurrection either way."""
    t = VersionedTable(spark, tmp_table_path)
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "id long, part string"
    )
    t.write(df, mode="overwrite", partition_by=["part"])
    t.delete("id = 1 OR id = 3", mode="merge-on-read")
    assert sorted(r.id for r in t.read().collect()) == [2, 4]
    t.delete("id = 4")  # CoW, touches only part=b
    info = t._resolve()
    assert info.extra.get("mor_deletes"), "carried partition must keep its tombstone"
    assert sorted(r.id for r in t.read().collect()) == [2]


def test_merge_after_mor_delete_no_resurrection(spark, tmp_table_path):
    """MERGE reads through tombstones on the touched partitions and
    carries them on untouched ones — MoR-deleted rows never come back,
    pruned or not."""
    t = VersionedTable(spark, tmp_table_path)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id long, part string, v long"
    )
    t.write(df, mode="overwrite", partition_by=["part"])
    t.delete("id = 2", mode="merge-on-read")
    src = spark.createDataFrame([(1, "a", 11)], "id long, part string, v long")
    t.merge(src, keys=["id"])  # pruned: touches part=a only
    got = sorted((r.id, r.v) for r in t.read().collect())
    assert got == [(1, 11), (3, 30)]  # id=2 stays deleted
    # unpruned merge (source lacks partition col usable? use full path)
    src2 = spark.createDataFrame([(3, "b", 31)], "id long, part string, v long")
    t.delete("id = 1", mode="merge-on-read")
    t.merge(src2, keys=["id"])
    got2 = sorted((r.id, r.v) for r in t.read().collect())
    assert got2 == [(3, 31)]


def test_mor_composes_with_stats_skipping_and_restore(spark, tmp_table_path):
    """scan() applies tombstones on the kept units; RESTORE to a
    tombstoned version brings the tombstones along."""
    t = VersionedTable(spark, tmp_table_path)
    for i in range(3):
        t.write(
            _mk(spark, [{"id": i * 100 + j, "v": i * 100 + j} for j in range(50)]),
            mode="append" if i else "overwrite",
            stats_cols=["v"],
        )
    t.delete("id = 120", mode="merge-on-read")  # v1
    got = sorted(r.id for r in t.scan({"v": (110, 130)}).collect())
    assert t.last_scan["skipped"] == 2
    assert got == [i for i in range(110, 131) if i != 120]
    mor_version = t.latest_version()
    t.compact()
    t.restore(mor_version)
    assert t._resolve().extra.get("mor_deletes")
    assert t.read().filter("id = 120").count() == 0


def test_mor_update_writes_only_matched_rows(spark, tmp_table_path):
    """Merge-on-read UPDATE: IO proportional to matched rows (one new
    small unit), stale images hidden by the scoped tombstone, updated
    rows survive even when they still match the predicate, NULL
    condition rows untouched, OPTIMIZE materializes."""
    t = VersionedTable(spark, tmp_table_path)
    df = spark.createDataFrame(
        [(i, i if i != 3 else None) for i in range(10)], "id long, v long"
    )
    t.write(df, mode="overwrite")
    before = set(_data_files(tmp_table_path))
    t.update({"v": "v + 100"}, condition="v >= 8", mode="merge-on-read")
    added = set(_data_files(tmp_table_path)) - before
    assert added  # exactly one small new unit's files
    got = {r.id: r.v for r in t.read().collect()}
    # 8,9 updated (still match v >= 8 after +100 — must not be hidden);
    # NULL-v row untouched; others untouched
    assert got == {0: 0, 1: 1, 2: 2, 3: None, 4: 4, 5: 5, 6: 6, 7: 7, 8: 108, 9: 109}
    assert t.read(version=0).filter("v = 8").count() == 1  # time travel
    t.compact()
    assert "mor_deletes" not in t._resolve().extra
    assert {r.id: r.v for r in t.read().collect()} == got


def test_detail_reports_skipping_and_tombstone_state(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": i} for i in range(5)]), mode="overwrite", stats_cols=["id"])
    t.write(_mk(spark, [{"id": 10}]), mode="append")  # inherits stats_cols
    t.delete("id = 0", mode="merge-on-read")
    d = t.detail()
    assert d["num_units"] == 2 and d["units_with_stats"] == 2
    assert d["stats_columns"] == ["id"] and d["pending_mor_deletes"] == 1
    t.compact()
    d2 = t.detail()
    assert d2["pending_mor_deletes"] == 0 and d2["units_with_stats"] == d2["num_units"]


def test_check_constraints_enforced_on_all_write_paths(spark, tmp_table_path):
    """CHECK constraints: adding validates existing data; write/MERGE/
    UPDATE reject violating commits atomically (no new version, no
    orphan data); NULL passes (SQL CHECK semantics); drop re-opens."""
    import pytest as _pytest

    t = VersionedTable(spark, tmp_table_path)
    t.write(
        spark.createDataFrame([(1, 10), (2, None)], "id long, v long"),
        mode="overwrite",
    )
    t.add_constraint("v_positive", "v > 0")  # NULL row passes
    assert t.constraints() == {"v_positive": "v > 0"}
    with _pytest.raises(ValueError, match="v_nonnull"):
        # adding a constraint the EXISTING data violates must fail
        t.add_constraint("v_nonnull", "v IS NOT NULL")
    v_before = t.latest_version()
    with _pytest.raises(ValueError, match="v_positive"):
        t.write(spark.createDataFrame([(3, -5)], "id long, v long"), mode="append")
    assert t.latest_version() == v_before  # rejected commit left nothing
    assert t.read().count() == 2
    with _pytest.raises(ValueError, match="MERGE"):
        t.merge(spark.createDataFrame([(1, -1)], "id long, v long"), keys=["id"])
    with _pytest.raises(ValueError, match="UPDATE"):
        t.update({"v": "v - 100"}, condition="id = 1", mode="merge-on-read")
    assert {r.id: r.v for r in t.read().collect()} == {1: 10, 2: None}
    # passing writes still work, and dropping re-opens the gate
    t.write(spark.createDataFrame([(3, 5)], "id long, v long"), mode="append")
    t.drop_constraint("v_positive")
    t.write(spark.createDataFrame([(4, -5)], "id long, v long"), mode="append")
    assert t.read().count() == 4


def test_rule_apis_commit_metadata_only_versions(spark, tmp_table_path):
    """Every rule API commits one metadata-only version (Delta's ADD
    CONSTRAINT in history): no data file changes, and the log directory
    holds version files only — the rules live in the manifests."""
    t = VersionedTable(spark, tmp_table_path)
    t.add_identity_column("row_id")
    assert t.latest_version() == 0
    assert t.identity_columns() == {"row_id": {"start": 1, "step": 1, "watermark": 1}}
    t.write(_mk(spark, [{"k": "a", "v": 1.0, "w": 2.0}]), mode="overwrite")
    assert t.identity_columns()["row_id"]["watermark"] == 2
    files = _data_files(tmp_table_path)
    t.add_constraint("v_pos", "v > 0")
    t.add_generated_column("w", "v * 2")
    t.add_column_default("v", "1.0")
    assert (t.constraints(), t.generated_columns(), t.column_defaults()) == (
        {"v_pos": "v > 0"}, {"w": "v * 2"}, {"v": "1.0"}
    )
    t.drop_column_default("v")
    t.drop_generated_column("w")
    t.drop_constraint("v_pos")
    t.drop_constraint("v_pos")  # nothing to drop: no commit
    assert [h["operation"] for h in reversed(t.history())] == [
        "ADD IDENTITY COLUMN", "WRITE", "ADD CONSTRAINT", "ADD GENERATED COLUMN",
        "SET DEFAULT", "DROP DEFAULT", "DROP GENERATED COLUMN", "DROP CONSTRAINT",
    ]
    assert (t.constraints(), t.generated_columns(), t.column_defaults()) == ({}, {}, {})
    assert _data_files(tmp_table_path) == files
    assert all(t._is_version_file(f) for f in os.listdir(t._vlog))
    assert {(r.k, r.row_id) for r in t.read().collect()} == {("a", 1)}


def test_partition_layout_evolution_across_appends(spark, tmp_table_path):
    """Layout evolution without rewrite: an append may introduce (or
    change) partitioning — old commits keep their layout on disk, reads
    reconcile by name across per-root basePaths, and later appends
    inherit the newest layout. The 100 TB repartition-without-rewrite
    path."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        spark.createDataFrame(
            [(1, "a", 2020), (2, "b", 2021)], "id long, name string, yr int"
        ),
        mode="overwrite",
    )  # unpartitioned
    t.write(
        spark.createDataFrame([(3, "c", 2022)], "id long, name string, yr int"),
        mode="append",
        partition_by=["yr"],
    )  # evolves the layout
    assert t._resolve().partition_by == ["yr"]
    got = sorted((r.id, r.name, r.yr) for r in t.read().collect())
    assert got == [(1, "a", 2020), (2, "b", 2021), (3, "c", 2022)]
    # later appends inherit the evolved layout and land as subdirs
    t.write(
        spark.createDataFrame([(4, "d", 2022)], "id long, name string, yr int"),
        mode="append",
    )
    info = t._resolve()
    assert any("yr=2022" in u for u in info.units)
    assert t.read().count() == 4
    # DML still correct across the mixed layout
    t.delete("id = 2")
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 4]
    # and OPTIMIZE normalizes everything into the evolved layout
    t.compact()
    assert all("yr=" in u for u in t._resolve().units)
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 4]


def test_merge_when_matched_delete(spark, tmp_table_path):
    """whenMatchedDelete: matched rows satisfying the condition are
    removed, other matched rows update, unmatched delete-marked source
    rows neither insert nor fail."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, v long"),
        mode="overwrite",
    )
    src = spark.createDataFrame(
        [(1, 0, "del"), (2, 21, "up"), (4, 40, "up"), (5, 0, "del")],
        "id long, v long, op string",
    )
    t.merge(src, keys=["id"], update_columns=["v"], delete_condition="s.op = 'del'")
    got = {r.id: r.v for r in t.read().select("id", "v").collect()}
    assert got == {2: 21, 3: 30, 4: 40}  # 1 deleted, 5 never inserted


def test_sync_changes_replays_cdf_downstream(spark, tmp_table_path):
    """A downstream copy synced purely from the change feed equals the
    source snapshot after arbitrary DML (insert + update + delete +
    merge-on-read delete)."""
    from spark_delta_lakehouse_nyctaxi_spark.incremental import sync_changes

    src = VersionedTable(spark, str(tmp_table_path) + "_src")
    dst = VersionedTable(spark, str(tmp_table_path) + "_dst")
    src.write(
        spark.createDataFrame([(i, i * 10) for i in range(8)], "id long, v long"),
        mode="overwrite",
    )
    sync_changes(src, dst, ["id"], from_version=0)  # bootstrap copy
    assert dst.read().count() == 8
    v0 = src.latest_version()
    src.write(spark.createDataFrame([(100, 1)], "id long, v long"), mode="append")
    src.update({"v": "v + 5"}, condition="id = 2")
    src.delete("id = 3")
    src.delete("id = 5", mode="merge-on-read")
    sync_changes(src, dst, ["id"], from_version=v0)
    assert sorted(map(tuple, dst.read().select("id", "v").collect())) == sorted(
        map(tuple, src.read().select("id", "v").collect())
    )
    # idempotent: replaying the same feed changes nothing
    sync_changes(src, dst, ["id"], from_version=v0)
    assert sorted(map(tuple, dst.read().select("id", "v").collect())) == sorted(
        map(tuple, src.read().select("id", "v").collect())
    )


# ---------------------------------------------------------------- rename


def test_rename_column_metadata_only(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": i, "v": float(i)} for i in range(5)]), mode="overwrite")
    files_before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(tmp_table_path) for f in fs if f.endswith(".parquet")
    }
    t.rename_column("v", "value")
    # zero data IO: the parquet file set is byte-identical
    files_after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(tmp_table_path) for f in fs if f.endswith(".parquet")
    }
    assert files_before == files_after
    assert set(t.read().columns) == {"id", "value"}
    assert t.read().agg(F.sum("value")).first()[0] == 10.0
    # time travel BEFORE the rename shows the old name
    assert set(t.read(version=0).columns) == {"id", "v"}
    assert t.detail()["column_mapping"] == {"v": "value"}
    # rename back to the physical name clears the map
    t.rename_column("value", "v")
    assert t.detail()["column_mapping"] == {}


def test_rename_then_append_and_compact_and_restore(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 1.0}]), mode="overwrite")
    t.rename_column("v", "value")
    # appends arrive under the LOGICAL name and survive the rename
    t.write(_mk(spark, [{"id": 2, "value": 2.0}]), mode="append")
    got = {(r.id, r.value) for r in t.read().collect()}
    assert got == {(1, 1.0), (2, 2.0)}
    # OPTIMIZE keeps the mapping valid
    t.compact()
    assert set(t.read().columns) == {"id", "value"}
    assert {(r.id, r.value) for r in t.read().collect()} == got
    # restore of a mapped version carries the map
    mapped_v = t.latest_version()
    t.materialize_rename()
    t.restore(mapped_v)
    assert set(t.read().columns) == {"id", "value"}


def test_rename_guards(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    df = _mk(spark, [{"id": 1, "v": 1.0, "p": "a"}])
    t.write(df, mode="overwrite", partition_by=["p"])
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("p", "part")
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "id")
    t.delete("id = 999", mode="merge-on-read")
    with pytest.raises(ValueError, match="tombstones"):
        t.rename_column("v", "value")
    t.compact()  # materializes the tombstone
    t.rename_column("v", "value")
    # DML refuses while the mapping is pending, with a pointer
    for op in (
        lambda: t.delete("id = 1"),
        lambda: t.update({"value": "value + 1"}),
        lambda: t.merge(_mk(spark, [{"id": 1, "value": 9.0, "p": "a"}]), keys=["id"]),
    ):
        with pytest.raises(ValueError, match="materialize_rename"):
            op()


def test_materialize_rename_reenables_dml(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": i, "v": float(i)} for i in range(4)]), mode="overwrite")
    t.rename_column("v", "value")
    t.materialize_rename()
    assert t.detail()["column_mapping"] == {}
    t.delete("value >= 3")
    t.update({"value": "value * 10"}, "id = 1")
    got = {(r.id, r.value) for r in t.read().collect()}
    assert got == {(0, 0.0), (1, 10.0), (2, 2.0)}


def test_materialize_rename_rejects_stale_constraint(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 1.0}]), mode="overwrite")
    t.add_constraint("v_pos", "v > 0")
    t.rename_column("v", "value")
    with pytest.raises(ValueError, match="v_pos"):
        t.materialize_rename()
    t.drop_constraint("v_pos")
    t.materialize_rename()
    assert set(t.read().columns) == {"id", "value"}


def test_changes_across_rename_use_query_version_names(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 1.0}, {"id": 2, "v": 2.0}]), mode="overwrite")
    t.rename_column("v", "value")
    t.write(_mk(spark, [{"id": 3, "value": 3.0}]), mode="append")
    ch = t.changes(0, keys=["id"])
    assert set(ch.columns) == {"id", "value", "_change_type"}
    got = {(r.id, r._change_type) for r in ch.collect()}
    assert got == {(3, "insert")}


# ----------------------------------------------------------------- clone


def test_shallow_clone_is_independent_and_zero_copy(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": i, "v": float(i)} for i in range(6)]), mode="overwrite")
    t.write(_mk(spark, [{"id": 10, "v": 10.0}]), mode="append")
    c = t.clone(tmp_table_path + "_clone")
    assert c.read().count() == 7
    assert c.latest_version() == 0
    # hard links, not copies: same inode for every cloned parquet file
    import os as _os

    src_inodes = {
        f: _os.stat(_os.path.join(r, f)).st_ino
        for r, _, fs in _os.walk(tmp_table_path) for f in fs if f.endswith(".parquet")
    }
    dst_inodes = {
        f: _os.stat(_os.path.join(r, f)).st_ino
        for r, _, fs in _os.walk(tmp_table_path + "_clone")
        for f in fs if f.endswith(".parquet")
    }
    assert dst_inodes and all(src_inodes[f] == ino for f, ino in dst_inodes.items())
    # divergence: writes to one side never show on the other
    t.delete("id >= 3")
    c.write(_mk(spark, [{"id": 99, "v": 99.0}]), mode="append")
    assert t.read().count() == 3
    assert c.read().count() == 8
    # vacuuming the ORIGINAL cannot break the clone (inodes survive)
    t.compact()
    t.vacuum(retain_last=1)
    assert c.read().count() == 8


def test_clone_carries_constraints_stats_and_mapping(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        _mk(spark, [{"id": i, "v": float(i + 1)} for i in range(4)]),
        mode="overwrite",
        stats_cols=["id"],
    )
    t.add_constraint("v_pos", "v > 0")
    t.rename_column("v", "value")
    c = t.clone(tmp_table_path + "_clone2")
    assert set(c.read().columns) == {"id", "value"}
    assert c.detail()["column_mapping"] == {"v": "value"}
    assert c.detail()["units_with_stats"] == c.detail()["num_units"]
    assert c.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="violat"):
        c.write(_mk(spark, [{"id": 9, "value": -1.0}]), mode="append")
    # cloning onto an existing table refuses
    with pytest.raises(ValueError, match="already has a table"):
        t.clone(tmp_table_path + "_clone2")


# ------------------------------------------------------- generated cols


def test_generated_column_computed_validated_and_unbreakable(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        _mk(spark, [{"id": i, "v": float(i), "v2": float(i) * 2} for i in range(4)]),
        mode="overwrite",
    )
    # register over existing CONSISTENT data
    t.add_generated_column("v2", "v * 2")
    # appender may omit the column — it is computed
    t.write(_mk(spark, [{"id": 10, "v": 5.0}]), mode="append")
    assert {(r.id, r.v2) for r in t.read().collect()} >= {(10, 10.0)}
    # appender carrying a WRONG value is rejected atomically
    n = t.read().count()
    with pytest.raises(ValueError, match="violation"):
        t.write(_mk(spark, [{"id": 11, "v": 1.0, "v2": 99.0}]), mode="append")
    assert t.read().count() == n
    # UPDATE cannot break the invariant either (same fused check)
    with pytest.raises(ValueError, match="violation"):
        t.update({"v": "v + 1"}, condition="id = 10")
    # ...unless it maintains it
    t.update({"v": "v + 1", "v2": "(v + 1) * 2"}, condition="id = 10")
    assert {(r.id, r.v, r.v2) for r in t.read().filter("id = 10").collect()} == {
        (10, 6.0, 12.0)
    }


def test_generated_column_registration_guards(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 2.0, "bad": 0.0}]), mode="overwrite")
    with pytest.raises(ValueError, match="backfill"):
        t.add_generated_column("missing", "v * 2")
    with pytest.raises(ValueError, match="do not match"):
        t.add_generated_column("bad", "v * 2")
    # clone carries the registration
    t.add_generated_column("bad", "0.0")
    c = t.clone(tmp_table_path + "_gc")
    assert c.generated_columns() == {"bad": "0.0"}


def test_rename_append_collision_with_physical_name_refused(spark, tmp_table_path):
    """merge-schema append introducing a column named like a
    renamed-away PHYSICAL name must refuse — storing both would
    collide in the parquet files."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 1.0}]), mode="overwrite")
    t.rename_column("v", "value")
    with pytest.raises(ValueError, match="collide"):
        t.write(
            _mk(spark, [{"id": 2, "value": 2.0, "v": 9.0}]),
            mode="append",
            merge_schema=True,
        )


# ------------------------- round-4 advisor items: rename/clone metadata


def test_constraint_and_generated_registration_refused_while_rename_pending(
    spark, tmp_table_path
):
    """add_constraint/add_generated_column validate against the LOGICAL
    view but append-time enforcement binds PHYSICAL names — registering
    while a metadata-only rename is pending would validate one column
    and enforce another (round-3 advisor medium). Both refuse."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        _mk(spark, [{"id": 1, "v": 2.0, "v2": 4.0}]), mode="overwrite"
    )
    t.rename_column("v", "value")
    with pytest.raises(ValueError, match="materialize_rename"):
        t.add_constraint("pos", "value > 0")
    with pytest.raises(ValueError, match="materialize_rename"):
        t.add_generated_column("v2", "value * 2")
    # materializing clears the mapping and re-enables both
    t.materialize_rename()
    t.add_constraint("pos", "value > 0")
    t.add_generated_column("v2", "value * 2")
    with pytest.raises(ValueError, match="violation"):
        t.write(_mk(spark, [{"id": 2, "value": -1.0}]), mode="append")


def test_rename_guards_generated_columns(spark, tmp_table_path):
    """Renaming a generated column, or an input of its expression,
    breaks the append path (F.expr on the logical frame) — guided
    errors at rename time instead of an opaque AnalysisException."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": 2.0, "v2": 4.0}]), mode="overwrite")
    t.add_generated_column("v2", "v * 2")
    with pytest.raises(ValueError, match="drop_generated_column"):
        t.rename_column("v", "value")  # expression input
    with pytest.raises(ValueError, match="drop_generated_column"):
        t.rename_column("v2", "double_v")  # the generated column itself
    # unrelated renames still work
    t.rename_column("id", "pk")
    assert set(t.read().columns) == {"pk", "v", "v2"}
    # the guided path: drop, rename, re-register under the new name
    t.materialize_rename()
    t.drop_generated_column("v2")
    t.rename_column("v", "value")
    t.materialize_rename()
    t.add_generated_column("v2", "value * 2")
    t.write(_mk(spark, [{"pk": 2, "value": 5.0}]), mode="append")
    assert {(r.pk, r.v2) for r in t.read().collect()} == {(1, 4.0), (2, 10.0)}


def test_version_pinned_clone_validates_copied_metadata(spark, tmp_table_path):
    """Constraint/generated metadata is versioned with the snapshot; a
    version-pinned clone carries exactly the definitions logged at its
    version, so never one its snapshot violates or cannot analyze
    (round-3 advisor item)."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1, "v": -5.0}]), mode="overwrite")  # v0
    # evolve: overwrite with positive values + a new column, then
    # constrain against the NEW state only
    t.write(
        _mk(spark, [{"id": 1, "v": 3.0, "w": 6.0}]), mode="overwrite"
    )  # v1
    t.add_constraint("v_pos", "v > 0")
    t.add_constraint("w_known", "w IS NOT NULL")
    t.add_generated_column("w", "v * 2")
    # latest clone carries everything
    c_latest = t.clone(tmp_table_path + "_latest")
    assert set(c_latest.constraints()) == {"v_pos", "w_known"}
    assert c_latest.generated_columns() == {"w": "v * 2"}
    # version-0 clone: v_pos is VIOLATED by the old data; w-based
    # definitions don't even analyze (column absent at v0)
    c_v0 = t.clone(tmp_table_path + "_v0", version=0)
    assert c_v0.constraints() == {}
    assert c_v0.generated_columns() == {}
    # pinned between the two add_constraint commits: v_pos, not w_known
    c_mid = t.clone(tmp_table_path + "_mid", version=2)
    assert c_mid.constraints() == {"v_pos": "v > 0"}
    assert c_mid.generated_columns() == {}
    # the clone's data is usable and append is unconstrained
    c_v0.write(_mk(spark, [{"id": 2, "v": -1.0}]), mode="append")
    assert c_v0.read().count() == 2


def test_version_pinned_clone_takes_its_rules_without_a_spark_job(spark, tmp_table_path):
    """A version-pinned clone takes the rules logged at that version, so
    it re-validates nothing: no Spark job runs, whatever rules the
    source added since."""
    t = VersionedTable(spark, tmp_table_path)
    rows = spark.range(1000).selectExpr("id", "CAST(id + 1 AS DOUBLE) AS v")
    t.write(rows, mode="overwrite")  # v0
    t.write(rows, mode="append")
    t.add_constraint("v_pos", "v > 0")
    constrained = t.latest_version()
    t.write(rows, mode="append")
    sc = spark.sparkContext
    for version, rules in ((0, {}), (constrained, {"v_pos": "v > 0"})):
        group = f"pinned-clone-{version}-{os.getpid()}"
        sc.setJobGroup(group, f"clone pinned at version {version}")
        try:
            c = t.clone(f"{tmp_table_path}_v{version}", version=version)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
        assert c.constraints() == rules
        assert c.read().count() == t.read(version=version).count()


# ---------------------------------------------- identity columns (r4)


def test_identity_column_assignment_and_guards(spark, tmp_table_path):
    """GENERATED ALWAYS AS IDENTITY: values auto-assigned on write and
    append (continuing the watermark), explicit supply / update /
    rename refused, definition only before first write."""
    t = VersionedTable(spark, tmp_table_path)
    t.add_identity_column("row_id", start=100, step=10)
    t.write(_mk(spark, [{"k": "b"}, {"k": "a"}, {"k": "c"}]), mode="overwrite")
    got = {(r.k, r.row_id) for r in t.read().collect()}
    # lexicographic assignment order over the other columns
    assert got == {("a", 100), ("b", 110), ("c", 120)}
    t.write(_mk(spark, [{"k": "z"}, {"k": "y"}]), mode="append")
    got = {(r.k, r.row_id) for r in t.read().collect()}
    assert got == {("a", 100), ("b", 110), ("c", 120), ("y", 130), ("z", 140)}
    # ALWAYS semantics: explicit values rejected
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
        t.write(_mk(spark, [{"k": "q", "row_id": 999}]), mode="append")
    with pytest.raises(ValueError, match="cannot be updated"):
        t.update({"row_id": "0"}, condition="k = 'a'")
    with pytest.raises(ValueError, match="IDENTITY"):
        t.rename_column("row_id", "id2")
    # cannot define on a table with data
    with pytest.raises(ValueError, match="before the first write"):
        t.add_identity_column("other")


def test_identity_column_merge_and_clone(spark, tmp_table_path):
    t = VersionedTable(spark, tmp_table_path)
    t.add_identity_column("row_id")
    t.write(
        _mk(spark, [{"k": "a", "v": 1.0}, {"k": "b", "v": 2.0}]),
        mode="overwrite",
    )
    # merge on the natural key: matched row updates v and KEEPS its id,
    # inserted row gets the next id
    t.merge(
        _mk(spark, [{"k": "b", "v": 20.0}, {"k": "c", "v": 3.0}]),
        keys=["k"],
    )
    got = {(r.k, r.v, r.row_id) for r in t.read().collect()}
    assert got == {("a", 1.0, 1), ("b", 20.0, 2), ("c", 3.0, 3)}
    # source carrying the identity column refuses
    with pytest.raises(ValueError, match="natural key"):
        t.merge(_mk(spark, [{"k": "d", "v": 4.0, "row_id": 9}]), keys=["k"])
    with pytest.raises(ValueError, match="update targets"):
        t.merge(
            _mk(spark, [{"k": "a", "v": 5.0}]),
            keys=["k"],
            update_exprs={"row_id": "0"},
        )
    # clone carries the allocation watermark: appends to the clone
    # continue, never collide
    c = t.clone(tmp_table_path + "_idc")
    c.write(_mk(spark, [{"k": "d", "v": 4.0}]), mode="append")
    assert {(r.k, r.row_id) for r in c.read().collect()} == {
        ("a", 1), ("b", 2), ("c", 3), ("d", 4)
    }


def test_bloom_filter_equality_skipping(spark, tmp_table_path):
    """write(bloom_cols=...) builds per-unit bloom bitsets; scan(eq=...)
    provably skips value-free units, appends inherit the bloom columns,
    and OPTIMIZE rebuilds the bitsets."""
    t = VersionedTable(spark, tmp_table_path)
    # three appends with DISJOINT key ranges → three units, each with
    # its own bloom; an equality probe should read exactly one
    t.write(
        _mk(spark, [{"k": i, "v": float(i)} for i in range(0, 10)]).coalesce(1),
        mode="overwrite",
        bloom_cols=["k"],
    )
    t.write(
        _mk(spark, [{"k": i, "v": float(i)} for i in range(100, 110)]).coalesce(1),
        mode="append",  # bloom_cols inherited
    )
    t.write(
        _mk(spark, [{"k": i, "v": float(i)} for i in range(200, 210)]).coalesce(1),
        mode="append",
    )
    d = t.detail()
    assert d["units_with_blooms"] == d["num_units"] == 3
    assert d["bloom_columns"] == ["k"]
    out = t.scan(eq={"k": 105}).collect()
    assert [(r.k, r.v) for r in out] == [(105, 105.0)]
    assert t.last_scan == {"kept": 1, "skipped": 2}
    # absent value: every unit provably value-free (modulo the ~1% fp
    # rate — with 3 units a false positive is vanishingly unlikely and
    # deterministic per build; this value probes clean)
    assert t.scan(eq={"k": 12345}).count() == 0
    assert t.last_scan["kept"] <= 1
    # combined with range stats when both are present
    t2 = VersionedTable(spark, tmp_table_path + "_b2")
    t2.write(
        _mk(spark, [{"k": i, "v": float(i)} for i in range(50)]).repartition(4),
        mode="overwrite",
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    rows = t2.scan(pred={"v": (10.0, 20.0)}, eq={"k": 15}).collect()
    assert [(r.k, r.v) for r in rows] == [(15, 15.0)]
    # OPTIMIZE rebuilds blooms over the compacted units
    t.compact()
    d2 = t.detail()
    assert d2["units_with_blooms"] == d2["num_units"]
    assert t.scan(eq={"k": 105}).count() == 1


def test_bloom_probe_type_mismatch(spark, tmp_table_path):
    """ADVICE r4 (medium): a probe literal whose Python type stringifies
    differently from the stored column type (int 15 vs double column →
    '15' vs '15.0') must still match — the probe now casts to the
    stored type before hashing. Same for decimal-typed columns."""
    t = VersionedTable(spark, tmp_table_path)
    df = spark.createDataFrame(
        [(float(i), i) for i in range(30)], "v double, k bigint"
    ).coalesce(1)
    t.write(df, mode="overwrite", bloom_cols=["v"])
    # int probe against a double column: build hashed '15.0'
    out = t.scan(eq={"v": 15}).collect()
    assert [(r.v, r.k) for r in out] == [(15.0, 15)]
    assert t.last_scan["kept"] == 1
    # decimal(10,2) column probed with an int
    t2 = VersionedTable(spark, tmp_table_path + "_dec")
    ddf = spark.createDataFrame(
        [(i, i) for i in range(30)], "k bigint, raw bigint"
    ).selectExpr("k", "CAST(raw AS DECIMAL(10,2)) AS d").coalesce(1)
    t2.write(ddf, mode="overwrite", bloom_cols=["d"])
    out2 = t2.scan(eq={"d": 7}).collect()
    assert [(r.k, str(r.d)) for r in out2] == [(7, "7.00")]
    assert t2.last_scan["kept"] == 1


def test_vacuum_retain_hours(spark, tmp_table_path):
    """Time-based retention (Delta VACUUM ... RETAIN n HOURS analog):
    versions inside the window stay time-travelable; retain_last=0 +
    retain_hours=0 keeps only the head's units."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(_mk(spark, [{"id": 1}]), mode="overwrite")  # v0
    t.write(_mk(spark, [{"id": 2}]), mode="overwrite")  # v1 (fresh units)
    t.write(_mk(spark, [{"id": 3}]), mode="overwrite")  # v2
    # everything is seconds old → a 1h window retains all commit dirs
    assert t.vacuum(retain_last=0, retain_hours=1.0, dry_run=True) == []
    assert t.read(version=0).count() == 1  # time travel intact
    # zero-hour window with no count-based floor: only the head survives
    removed = t.vacuum(retain_last=0, retain_hours=0.0)
    assert len(removed) == 2
    assert t.read().count() == 1 and t.read().first().id == 3


def test_column_defaults(spark, tmp_table_path):
    """Column DEFAULTs (Delta SET DEFAULT analog): writes that omit the
    column get the expression, explicit values pass through, guards
    refuse unknown columns / broken expressions / pending renames."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        _mk(spark, [{"id": 1, "status": "new", "score": 5.0}]),
        mode="overwrite",
    )
    t.add_column_default("status", "'pending'")
    t.add_column_default("score", "CAST(id AS DOUBLE) * 10.0")  # row-dependent
    t.write(_mk(spark, [{"id": 2}]), mode="append")  # both defaulted
    t.write(
        _mk(spark, [{"id": 3, "status": "done", "score": 1.0}]), mode="append"
    )  # explicit wins
    got = {(r.id, r.status, r.score) for r in t.read().collect()}
    assert got == {
        (1, "new", 5.0), (2, "pending", 20.0), (3, "done", 1.0)
    }
    with pytest.raises(ValueError, match="does not exist"):
        t.add_column_default("nope", "1")
    with pytest.raises(ValueError, match="analyze"):
        t.add_column_default("status", "missing_col + 1")
    t.rename_column("score", "points")
    with pytest.raises(ValueError, match="materialize_rename"):
        t.add_column_default("status", "'x'")
    # drop + clone carry
    t2 = VersionedTable(spark, tmp_table_path + "_src2")
    t2.write(_mk(spark, [{"id": 1, "v": 1.0}]), mode="overwrite")  # v0
    t2.write(_mk(spark, [{"id": 1, "v": 1.0, "w": 2.0}]), mode="overwrite")  # v1
    t2.add_column_default("w", "v + 1.0")
    c_latest = t2.clone(tmp_table_path + "_dfl")
    assert c_latest.column_defaults() == {"w": "v + 1.0"}
    c_latest.write(_mk(spark, [{"id": 2, "v": 3.0}]), mode="append")
    assert {(r.id, r.w) for r in c_latest.read().collect()} == {(1, 2.0), (2, 4.0)}
    # version-pinned clone: the defaults logged at that version, none
    # at v0 (w absent), the registered one at v2
    c_v0 = t2.clone(tmp_table_path + "_dflv0", version=0)
    assert c_v0.column_defaults() == {}
    assert t2.clone(tmp_table_path + "_dflv2", version=2).column_defaults() == {
        "w": "v + 1.0"
    }
    t2.drop_column_default("w")
    assert t2.column_defaults() == {}


def test_replace_where(spark, tmp_table_path):
    """replaceWhere: atomic selective overwrite — matching rows
    replaced, non-matching untouched (NULL-predicate rows survive),
    untouched units carried by reference with their stats, incoming
    rows outside the predicate reject the whole commit."""
    t = VersionedTable(spark, tmp_table_path)
    t.write(
        _mk(
            spark,
            [{"day": d, "id": 10 * d + i, "v": float(d)} for d in (1, 2, 3) for i in range(3)]
            + [{"day": None, "id": 99, "v": 0.0}],
        ).repartition(3, "day"),
        mode="overwrite",
        partition_by=["day"],
        stats_cols=["id"],
    )
    n_units_before = t.detail()["num_units"]
    # idempotent backfill of day 2 with fresh values
    t.replace_where(
        _mk(spark, [{"day": 2, "id": 20 + i, "v": 99.0} for i in range(2)]),
        "day = 2",
    )
    got = {(r.day, r.id, r.v) for r in t.read().collect()}
    assert {(2, 20, 99.0), (2, 21, 99.0)} <= got
    assert (1, 10, 1.0) in got and (3, 31, 3.0) in got
    assert (None, 99, 0.0) in got  # NULL-predicate row survives
    assert len([g for g in got if g[0] == 2]) == 2
    # out-of-predicate incoming rows reject atomically
    before = t.latest_version()
    with pytest.raises(ValueError, match="do not satisfy"):
        t.replace_where(_mk(spark, [{"day": 5, "id": 1, "v": 1.0}]), "day = 2")
    assert t.latest_version() == before
    # untouched partitions carried by reference with stats
    d = t.detail()
    assert d["units_with_stats"] >= n_units_before - 1
    # time travel to the pre-replace snapshot still works
    assert len([r for r in t.read(version=0).collect() if r.day == 2]) == 3
    # schema mismatch refused
    with pytest.raises(ValueError, match="schema mismatch"):
        t.replace_where(_mk(spark, [{"day": 2, "id": 1}]), "day = 2")


def test_log_checkpoint_auto_and_time_travel(spark, tmp_path):
    """Every checkpoint_interval commits a parquet checkpoint is written;
    snapshots and time travel resolve identically through it. The log
    holds only version manifests and checkpoints: no pointer file."""
    t = VersionedTable(spark, str(tmp_path / "ckpt"))
    df = lambda i: spark.createDataFrame([Row(id=i, v=float(i))])
    t.write(df(0), mode="overwrite")
    for i in range(1, 13):
        t.write(df(i), mode="append")
    assert [f for f in os.listdir(t._vlog) if not t._is_version_file(f)] == [
        "00000010.checkpoint.parquet"
    ]
    ck_v, infos = t._read_checkpoint()
    assert ck_v == 10 and len(infos) == 11
    assert os.path.exists(os.path.join(t._vlog, "00000010.checkpoint.parquet"))
    # resolution through the merged (checkpoint + tail-JSON) view
    assert t.latest_version() == 12
    assert t.read().count() == 13
    assert sorted(r.id for r in t.read(version=7).collect()) == list(range(8))


def test_log_cleanup_preserves_history(spark, tmp_path):
    """cleanup_log deletes JSON manifests covered by the checkpoint;
    reads, time travel, history, and further appends keep working."""
    t = VersionedTable(spark, str(tmp_path / "clean"))
    df = lambda i: spark.createDataFrame([Row(id=i, v=float(i))])
    t.write(df(0), mode="overwrite")
    for i in range(1, 12):
        t.write(df(i), mode="append")
    removed = t.cleanup_log()
    assert removed == 11  # versions 0..10 covered; 11 stays as JSON
    jsons = [f for f in os.listdir(t._vlog) if t._is_version_file(f)]
    assert jsons == ["00000011.json"]
    # full history and any time-travel target still resolve
    assert t.latest_version() == 11
    assert len(t._versions()) == 12
    assert sorted(r.id for r in t.read(version=3).collect()) == [0, 1, 2, 3]
    # the log keeps appending cleanly past the cleanup
    t.write(df(99), mode="append")
    assert t.latest_version() == 12
    assert t.read().count() == 13


def test_log_checkpoint_explicit_idempotent(spark, tmp_path):
    """checkpoint() is callable at any version, is idempotent, and the
    pointer never moves backward."""
    t = VersionedTable(spark, str(tmp_path / "idem"))
    t.write(spark.createDataFrame([Row(id=1)]), mode="overwrite")
    assert t.checkpoint() == 0
    assert t.checkpoint() == 0  # no error, same pointer
    ck_v, _ = t._read_checkpoint()
    assert ck_v == 0
    t.write(spark.createDataFrame([Row(id=2)]), mode="append")
    assert t.checkpoint() == 1
    ck_v, infos = t._read_checkpoint()
    assert ck_v == 1 and [v.version for v in infos] == [0, 1]


def test_log_checkpoint_skips_covered_json_opens(spark, tmp_path, monkeypatch):
    """After a checkpoint, _versions() must not reopen covered JSON
    manifests (the whole point at 100k commits)."""
    import builtins

    t = VersionedTable(spark, str(tmp_path / "fast"))
    df = lambda i: spark.createDataFrame([Row(id=i)])
    t.write(df(0), mode="overwrite")
    for i in range(1, 11):
        t.write(df(i), mode="append")  # auto-checkpoint at v10
    opened = []
    real_open = builtins.open

    def counting_open(fp, *a, **k):
        if str(fp).endswith(".json") and "_vlog" in str(fp):
            opened.append(str(fp))
        return real_open(fp, *a, **k)

    monkeypatch.setattr(builtins, "open", counting_open)
    assert len(t._versions()) == 11
    assert opened == []  # all 11 manifests came from the checkpoint


def test_detail_num_rows_from_log_after_every_writer(spark, tmp_path, monkeypatch):
    """Each commit records the row count of every unit it adds (parquet
    footers, no Spark job), carried forward with the unit: the summed
    ``detail()["num_rows"]`` equals a full count after every writer and
    is unknown (None) while a merge-on-read delete is pending. Every
    writer also stats and blooms the units it adds for the table's
    logged skipping columns, so no unit ever lacks them, and every
    snapshot reads back through the schema logged at version 0
    (partition column included, with its written type). Restore and
    clone carry the bloom filters with the counts."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import DoubleType, LongType, StructType

    t = VersionedTable(spark, str(tmp_path / "t"))

    def check(tbl=t):
        d = tbl.detail()
        assert d["num_rows"] == tbl.read().count()
        assert d["units_with_stats"] == d["units_with_blooms"] == d["num_units"]
        assert tbl.read().schema == schema0

    rows = [{"id": i, "p": i % 4, "v": float(i)} for i in range(40)]
    t.write(
        _mk(spark, rows), mode="overwrite", partition_by=["p"],
        stats_cols=["id"], bloom_cols=["id"],
    )
    schema0 = StructType.fromJson(json.loads(t._versions()[0].extra["schema"]))
    assert [(f.name, f.dataType) for f in schema0] == [
        ("id", LongType()), ("v", DoubleType()), ("p", LongType())
    ]
    check()
    more = [{"id": 100 + i, "p": i % 5, "v": 1.0} for i in range(10)]
    t.write(_mk(spark, more), mode="append")
    check()
    blooms_v1 = t.detail()["units_with_blooms"]
    assert blooms_v1 == t.detail()["num_units"] > 0
    t.merge(_mk(spark, [{"id": 1, "p": 1, "v": -1.0}, {"id": 200, "p": 2, "v": 2.0}]), keys=["id"])
    check()
    t.update({"v": "v * 2"}, condition="p = 3")
    check()
    t.delete("id < 5")
    check()
    t.replace_where(_mk(spark, [{"id": 300, "p": 0, "v": 0.0}]), "p = 0")
    check()
    t.compact()
    check()
    t.restore(1)
    check()
    assert t.detail()["units_with_blooms"] == blooms_v1
    c = t.clone(str(tmp_path / "c"))
    check(c)
    assert c.detail()["units_with_blooms"] == blooms_v1
    t.delete("id > 30", mode="merge-on-read")
    d = t.detail()
    assert d["num_rows"] is None
    assert d["units_with_stats"] == d["units_with_blooms"] == d["num_units"]
    t.compact()
    check()

    u = VersionedTable(spark, str(tmp_path / "u"))
    u.write(_mk(spark, rows).repartition(3), mode="overwrite")
    u.write(_mk(spark, more), mode="append")

    def no_footers(*a, **kw):
        raise AssertionError("detail() must not read footers")

    monkeypatch.setattr(pq, "read_metadata", no_footers)
    assert u.detail()["num_rows"] == 50


def test_append_and_read_cost_independent_of_history_depth(spark, tmp_path, monkeypatch):
    """The schema comes from the version log, not from the data: a
    one-row append runs the same number of Spark jobs and parquet reads
    at history depth 2 and 30, and reading an unpartitioned snapshot
    is a single parquet call however many units it holds."""
    from pyspark.sql import DataFrameReader

    def build(depth):
        t = VersionedTable(spark, str(tmp_path / f"depth{depth}"))
        for i in range(depth):
            t.write(
                spark.createDataFrame([(i, "a")], "id long, v string"),
                mode="append" if i else "overwrite",
            )
        return t

    tables = {depth: build(depth) for depth in (2, 30)}
    calls = []
    real_parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **kw):
        calls.append(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    sc = spark.sparkContext
    cost = {}
    for depth, t in tables.items():
        row = spark.createDataFrame([(100, "b")], "id long, v string")
        group = f"history-depth-{depth}-{os.getpid()}"
        calls.clear()
        sc.setJobGroup(group, f"one-row append at depth {depth}")
        try:
            t.write(row, mode="append")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        append_reads = len(calls)
        calls.clear()
        snapshot = t.read()
        read_calls = len(calls)
        assert snapshot.count() == depth + 1
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        cost[depth] = {"jobs": jobs, "append_reads": append_reads, "read_calls": read_calls}
    assert cost[2] == cost[30]
    assert cost[30]["read_calls"] == 1


def test_manifest_without_schema_raises(spark, tmp_path):
    """A head manifest that records no schema (written before the log
    carried one) is refused with a ValueError naming the table and the
    fix; an overwrite, which needs no prior schema, rewrites it."""
    import json

    t = VersionedTable(spark, str(tmp_path / "legacy"))
    t.write(spark.createDataFrame([(1, "a")], "id long, v string"), mode="overwrite")
    fp = os.path.join(t._vlog, "00000000.json")
    with open(fp) as f:
        manifest = json.load(f)
    del manifest["extra"]["schema"]
    with open(fp, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="rewrite the table") as err:
        t.read()
    assert t.path in str(err.value)
    with pytest.raises(ValueError, match="rewrite the table"):
        t.write(spark.createDataFrame([(2, "b")], "id long, v string"), mode="append")
    t.write(spark.createDataFrame([(3, "c")], "id long, v string"), mode="overwrite")
    assert [tuple(r) for r in t.read().collect()] == [(3, "c")]


def test_merge_key_changing_partition_moves_the_row(spark, tmp_path):
    """A merge finds the units holding the target rows of the source's
    keys, not the partitions the source names: a key whose partition
    value changed is read from its old unit and written to its new
    partition once, with one unit or many in the snapshot."""
    t = VersionedTable(spark, str(tmp_path / "moved"))
    t.write(
        spark.createDataFrame([(1, 10.0, 1), (2, 20.0, 1)], "id long, v double, p long"),
        mode="overwrite", partition_by=["p"],
    )
    t.merge(spark.createDataFrame([(1, 11.0, 2)], "id long, v double, p long"), keys=["id"])
    assert sorted(tuple(r) for r in t.read().select("id", "v", "p").collect()) == [
        (1, 11.0, 2), (2, 20.0, 1)
    ]
    # two units now; the moved key's old unit is the only one rewritten
    t.merge(spark.createDataFrame([(2, 21.0, 2)], "id long, v double, p long"), keys=["id"])
    assert sorted(tuple(r) for r in t.read().select("id", "v", "p").collect()) == [
        (1, 11.0, 2), (2, 21.0, 2)
    ]


def test_unpartitioned_dml_rewrites_only_touched_units(spark, tmp_path):
    """On an unpartitioned table each append is one unit. A delete, a
    copy-on-write update and a merge that match rows of one unit
    rewrite that unit alone and carry the other two by path."""
    t = VersionedTable(spark, str(tmp_path / "carry"))
    for i, base in enumerate((1, 11, 21)):
        t.write(
            spark.createDataFrame(
                [(base + j, float(base + j)) for j in range(3)], "id long, v double"
            ),
            mode="append" if i else "overwrite",
        )
    rows = {(i, float(i)) for i in (1, 2, 3, 11, 12, 13, 21, 22, 23)}

    def step(op, touched_id, expected):
        before = t._resolve()
        op()
        after = t._resolve()
        holder = [
            u for u in before.units
            if t._read_units(before, [u]).filter(f"id = {touched_id}").count()
        ]
        assert len(holder) == 1
        assert set(before.units) - set(holder) <= set(after.units)
        assert len(after.units) == 3
        assert {tuple(r) for r in t.read().collect()} == expected

    rows -= {(3, 3.0)}
    step(lambda: t.delete("id = 3"), 3, rows)
    rows = rows - {(13, 13.0)} | {(13, 130.0)}
    step(lambda: t.update({"v": "v * 10"}, "id = 13"), 13, rows)
    rows = rows - {(22, 22.0)} | {(22, -1.0), (30, 30.0)}
    step(
        lambda: t.merge(
            spark.createDataFrame([(22, -1.0), (30, 30.0)], "id long, v double"), keys=["id"]
        ),
        22, rows,
    )
    assert t._resolve().extra["pruned"] is True
    # an update or delete that matches nothing commits nothing
    v = t.latest_version()
    t.update({"v": "0.0"}, "id = 999")
    t.delete("id = 999")
    assert t.latest_version() == v


def test_partitioned_merge_makes_one_parquet_write(spark, tmp_path, monkeypatch):
    """A partitioned merge writes parquet once, for the units it
    rewrites; finding its touched units writes nothing."""
    from pyspark.sql import DataFrameWriter

    t = VersionedTable(spark, str(tmp_path / "onewrite"))
    t.write(
        _mk(spark, [{"id": i, "day": f"d{i % 3}", "v": float(i)} for i in range(9)]),
        mode="overwrite", partition_by=["day"],
    )
    calls = []
    real_parquet = DataFrameWriter.parquet

    def counting_parquet(self, path, *a, **kw):
        calls.append(path)
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    t.merge(_mk(spark, [{"id": 1, "day": "d1", "v": -1.0}]), keys=["id"])
    assert len(calls) == 1
    assert {r.id: r.v for r in t.read().collect()}[1] == -1.0


def test_merge_into_missing_table_keeps_concurrent_first_writer(spark, tmp_path):
    """A merge into a table that logs no column yet is an append: a
    concurrent first writer that commits between its read and its
    commit keeps its rows."""
    path = str(tmp_path / "first")
    t = VersionedTable(spark, path)
    orig_write_units = t._write_units

    def other_first(df, partition_by):
        VersionedTable(spark, path).merge(_mk(spark, [{"id": 10}]), keys=["id"])
        return orig_write_units(df, partition_by)

    t._write_units = other_first
    t.merge(_mk(spark, [{"id": 20}]), keys=["id"])
    assert sorted(r.id for r in t.read().collect()) == [10, 20]
    assert [h["operation"] for h in t.history()] == ["MERGE", "MERGE"]


def test_append_lists_the_log_once(spark, tmp_path):
    """An append resolves the head once; naming its commit dir needs
    no second listing of the log."""
    t = VersionedTable(spark, str(tmp_path / "listing"))
    t.write(_mk(spark, [{"id": 1}]), mode="overwrite")
    listings = []
    real_versions = t._versions

    def counting_versions():
        listings.append(1)
        return real_versions()

    t._versions = counting_versions
    t.write(_mk(spark, [{"id": 2}]), mode="append")
    assert len(listings) == 1
    del t._versions
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_crash_in_post_commit_checkpoint_keeps_the_commit(spark, tmp_path):
    """A crash after the commit link, in the post-commit checkpoint,
    leaves the commit durable and visible; the next checkpoint catches
    up over every version."""
    t = VersionedTable(spark, str(tmp_path / "postckpt"))
    t.write(_mk(spark, [{"id": 0}]), mode="overwrite")
    for i in range(1, 10):
        t.write(_mk(spark, [{"id": i}]), mode="append")

    def crash():
        raise OSError("crash in the post-commit checkpoint")

    t.checkpoint = crash
    t.write(_mk(spark, [{"id": 10}]), mode="append")  # commits version 10
    del t.checkpoint
    assert t.latest_version() == 10
    assert sorted(r.id for r in t.read().collect()) == list(range(11))
    assert t._read_checkpoint() == (-1, [])
    assert t.checkpoint() == 10
    ck_v, infos = t._read_checkpoint()
    assert ck_v == 10 and [v.version for v in infos] == list(range(11))
    assert sorted(r.id for r in t.read(version=4).collect()) == list(range(5))


def test_torn_checkpoint_pointer_left_by_older_code_is_ignored(spark, tmp_path):
    """Checkpoints are found by listing the log. A ``_last_checkpoint``
    pointer file, as older code kept beside the log, is ignored even when
    torn: after ``cleanup_log()`` every cleaned version still resolves
    from the checkpoint on disk."""
    t = VersionedTable(spark, str(tmp_path / "torn"))
    t.write(_mk(spark, [{"id": 0}]), mode="overwrite")
    for i in range(1, 12):
        t.write(_mk(spark, [{"id": i}]), mode="append")
    assert t.cleanup_log() == 11
    with open(os.path.join(t._vlog, "_last_checkpoint"), "w") as f:
        f.write('{"version": 10, "fi')
    assert [v.version for v in t._versions()] == list(range(12))
    assert sorted(r.id for r in t.read(version=3).collect()) == [0, 1, 2, 3]
    assert t.cleanup_log() == 0
    t.write(_mk(spark, [{"id": 12}]), mode="append")
    assert t.checkpoint() == 12 and t._read_checkpoint()[0] == 12
    assert sorted(r.id for r in t.read().collect()) == list(range(13))


def test_unreadable_newest_checkpoint_falls_back_to_older_one(spark, tmp_path):
    """A newest checkpoint that does not read is passed over for the next
    older one: every version still resolves, and ``cleanup_log`` deletes
    only the manifests the readable checkpoint covers."""
    t = VersionedTable(spark, str(tmp_path / "garbage"))
    t.write(_mk(spark, [{"id": 0}]), mode="overwrite")
    for i in range(1, 5):
        t.write(_mk(spark, [{"id": i}]), mode="append")
    assert t.checkpoint() == 4
    for i in range(5, 8):
        t.write(_mk(spark, [{"id": i}]), mode="append")
    with open(os.path.join(t._vlog, "00000006.checkpoint.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    assert [v.version for v in t._versions()] == list(range(8))
    assert t._read_checkpoint()[0] == 4
    assert t.cleanup_log() == 5
    assert sorted(f for f in os.listdir(t._vlog) if t._is_version_file(f)) == [
        f"{v:08d}.json" for v in range(5, 8)
    ]
    assert [v.version for v in t._versions()] == list(range(8))
    assert sorted(r.id for r in t.read(version=2).collect()) == [0, 1, 2]
    assert sorted(r.id for r in t.read().collect()) == list(range(8))


def test_crash_in_cleanup_log_keeps_every_version(spark, tmp_path, monkeypatch):
    """A crash part-way through ``cleanup_log`` leaves every version
    resolvable with its rows (each deleted manifest is covered by the
    checkpoint), and a second ``cleanup_log`` removes the rest."""
    from spark_delta_lakehouse_nyctaxi_spark.sources import table as table_mod

    t = VersionedTable(spark, str(tmp_path / "cleanup"))
    t.write(_mk(spark, [{"id": 0}]), mode="overwrite")
    for i in range(1, 12):
        t.write(_mk(spark, [{"id": i}]), mode="append")  # checkpoint at 10
    real_unlink, deleted = table_mod.os.unlink, []

    def unlink(path, *a, **k):
        if len(deleted) == 3:
            raise OSError("crash in cleanup_log")
        real_unlink(path, *a, **k)
        deleted.append(path)

    monkeypatch.setattr(table_mod.os, "unlink", unlink)
    with pytest.raises(OSError, match="crash in cleanup_log"):
        t.cleanup_log()
    monkeypatch.undo()
    assert len(deleted) == 3
    assert [v.version for v in t._versions()] == list(range(12))
    for v in range(12):
        assert sorted(r.id for r in t.read(version=v).collect()) == list(range(v + 1))
    assert t.cleanup_log() == 8
    assert [f for f in os.listdir(t._vlog) if t._is_version_file(f)] == ["00000011.json"]
    assert [v.version for v in t._versions()] == list(range(12))


def test_crash_in_vacuum_keeps_retained_versions(spark, tmp_path, monkeypatch):
    """A crash after ``vacuum`` removed its first commit dir leaves every
    retained version readable, and a second ``vacuum`` removes the
    remaining unreferenced dirs."""
    from spark_delta_lakehouse_nyctaxi_spark.sources import table as table_mod

    t = VersionedTable(spark, str(tmp_path / "vacuum"))
    t.write(_mk(spark, [{"id": 0}]), mode="overwrite")
    t.write(_mk(spark, [{"id": 1}]), mode="append")
    t.write(_mk(spark, [{"id": 2}]), mode="append")
    t.write(_mk(spark, [{"id": 10}]), mode="overwrite")
    t.write(_mk(spark, [{"id": 11}]), mode="append")
    stale = t.vacuum(retain_last=1, dry_run=True)
    assert len(stale) == 3
    real_rmtree, removed = table_mod.shutil.rmtree, []

    def rmtree(path, *a, **k):
        if removed:
            raise OSError("crash in vacuum")
        real_rmtree(path, *a, **k)
        removed.append(path)

    monkeypatch.setattr(table_mod.shutil, "rmtree", rmtree)
    with pytest.raises(OSError, match="crash in vacuum"):
        t.vacuum(retain_last=1)
    monkeypatch.undo()
    assert len(removed) == 1
    assert t.latest_version() == 4
    assert sorted(r.id for r in t.read().collect()) == [10, 11]
    assert t.vacuum(retain_last=1) == stale[1:]
    assert sorted(os.listdir(t._data)) == sorted(
        {u.split("/", 1)[0] for u in t._versions()[-1].units}
    )
    assert sorted(r.id for r in t.read().collect()) == [10, 11]


def _spark_jobs(spark, label, fn):
    """The number of Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"{label}-{os.getpid()}-{id(fn)}"
    sc.setJobGroup(group, label)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, ids, p=None):
    return _mk(spark, [
        {"id": i, "v": float(i + 1), "v2": float(i + 1) * 2, "p": i % 4 if p is None else p}
        for i in ids
    ])


def test_checked_writes_run_no_extra_spark_jobs(spark, tmp_path):
    """CHECK constraints, generated-column equations and the replaceWhere
    predicate are counted by the job that writes the rows: append, CoW
    update, merge and replace_where run as many Spark jobs on a table
    with a constraint and a generated column as on the same table
    without rules."""
    def build(name, rules):
        t = VersionedTable(spark, str(tmp_path / name))
        t.write(_rows(spark, range(200)), mode="overwrite", partition_by=["p"])
        if rules:
            t.add_constraint("v_pos", "v > 0")
            t.add_generated_column("v2", "v * 2")
        return t

    ops = {
        "append": lambda t: t.write(_rows(spark, range(200, 210)), mode="append"),
        "update": lambda t: t.update({"v": "v + 1", "v2": "(v + 1) * 2"}, "id = 3"),
        "merge": lambda t: t.merge(_rows(spark, [5, 300]), keys=["id"]),
        "replace_where": lambda t: t.replace_where(_rows(spark, [401, 405], p=1), "p = 1"),
    }
    jobs = {}
    for name, rules in (("plain", False), ("ruled", True)):
        t = build(name, rules)
        jobs[name] = {op: _spark_jobs(spark, f"{name}-{op}", lambda: fn(t)) for op, fn in ops.items()}
        assert t.read().filter("p = 1").count() == 2
    assert jobs["ruled"] == jobs["plain"]


def test_rejected_checked_writes_leave_no_dir_and_no_version(spark, tmp_path):
    """A write whose rows break a rule is rejected after its job ran: the
    commit dir it wrote is removed and no version commits — for append,
    merge, both update modes and replace_where (whose predicate and
    constraint rejections come before it writes its second dir)."""
    t = VersionedTable(spark, str(tmp_path / "rejected"))
    t.write(_rows(spark, range(8)), mode="overwrite", partition_by=["p"])
    t.add_constraint("v_pos", "v > 0")
    t.add_generated_column("v2", "v * 2")
    bad = _mk(spark, [{"id": 20, "v": -1.0, "v2": -2.0, "p": 0}])
    rejected = [
        ("v_pos", lambda: t.write(bad, mode="append")),
        ("v_pos", lambda: t.merge(bad.withColumn("id", F.lit(1)), keys=["id"])),
        ("__generated_v2", lambda: t.update({"v": "v + 1"}, "id = 2")),
        ("v_pos", lambda: t.update({"v": "-v", "v2": "-v * 2"}, "id = 2", mode="merge-on-read")),
        ("do not satisfy the replaceWhere", lambda: t.replace_where(
            _rows(spark, [21], p=2), "p = 0")),
        ("v_pos", lambda: t.replace_where(bad, "p = 0")),
    ]
    before = sorted(tuple(r) for r in t.read().collect())
    for match, op in rejected:
        version, dirs = t.latest_version(), sorted(os.listdir(t._data))
        with pytest.raises(ValueError, match=match):
            op()
        assert t.latest_version() == version, match
        assert sorted(os.listdir(t._data)) == dirs, match
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_checked_writes_of_no_rows_commit(spark, tmp_path):
    """An observed count over no rows is NULL and counts as no
    violation: an empty append, a merge whose source matches nothing and
    inserts nothing, and an empty replace_where all commit on a table
    with a constraint and a generated column."""
    t = VersionedTable(spark, str(tmp_path / "empty"))
    t.write(_rows(spark, range(8)), mode="overwrite", partition_by=["p"])
    t.add_constraint("v_pos", "v > 0")
    t.add_generated_column("v2", "v * 2")
    empty = _rows(spark, [0]).limit(0)
    for op in (
        lambda: t.write(empty, mode="append"),
        lambda: t.merge(_rows(spark, [100]), keys=["id"], insert_unmatched=False),
        lambda: t.merge(empty, keys=["id"]),
        lambda: t.replace_where(empty, "p = 3"),
    ):
        version = t.latest_version()
        op()
        assert t.latest_version() == version + 1
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 4, 5, 6]


def test_crash_after_data_write_keeps_snapshot_and_retry_converges(
    spark, tmp_path, monkeypatch
):
    """A crash between a checked writer's data write and its commit (the
    read of the write's check counts raising) leaves the latest version,
    its rows and the data dir as they were: the written commit dir is
    removed. Re-running the operation reaches the post-op rows."""
    from pyspark.sql import Observation

    t = VersionedTable(spark, str(tmp_path / "crash_after_write"))
    t.write(
        _mk(spark, [{"id": i, "v": float(i + 1), "p": i % 2} for i in range(4)]),
        mode="overwrite", partition_by=["p"],
    )
    t.add_constraint("v_pos", "v > 0")

    def rows():
        return sorted((r.id, r.v) for r in t.read().collect())

    def crash(self):
        raise OSError("crash after the data write")

    ops = [
        ("append", lambda: t.write(_mk(spark, [{"id": 4, "v": 5.0, "p": 0}]), mode="append"),
         [(0, 1.0), (1, 2.0), (2, 3.0), (3, 4.0), (4, 5.0)]),
        ("merge", lambda: t.merge(
            _mk(spark, [{"id": 1, "v": 10.0, "p": 1}, {"id": 5, "v": 6.0, "p": 1}]), keys=["id"]),
         [(0, 1.0), (1, 10.0), (2, 3.0), (3, 4.0), (4, 5.0), (5, 6.0)]),
        ("update", lambda: t.update({"v": "v + 1"}, "id = 2"),
         [(0, 1.0), (1, 10.0), (2, 4.0), (3, 4.0), (4, 5.0), (5, 6.0)]),
        ("update(merge-on-read)", lambda: t.update({"v": "v * 2"}, "id = 3", mode="merge-on-read"),
         [(0, 1.0), (1, 10.0), (2, 4.0), (3, 8.0), (4, 5.0), (5, 6.0)]),
        ("replace_where", lambda: t.replace_where(
            _mk(spark, [{"id": 6, "v": 7.0, "p": 0}]), "p = 0"),
         [(1, 10.0), (3, 8.0), (5, 6.0), (6, 7.0)]),
    ]
    for name, op, expected in ops:
        version, before, dirs = t.latest_version(), rows(), sorted(os.listdir(t._data))
        monkeypatch.setattr(Observation, "get", property(crash))
        with pytest.raises(OSError, match="crash after the data write"):
            op()
        monkeypatch.undo()
        assert t.latest_version() == version, name
        assert rows() == before, name
        assert sorted(os.listdir(t._data)) == dirs, name
        op()
        assert t.latest_version() == version + 1, name
        assert rows() == expected, name
