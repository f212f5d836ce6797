"""Maintenance-CLI smoke tests (round-2 VERDICT item 5: reference
`scripts/optimize_tables.py` / `vacuum_tables.py` / `time_travel.py`
parity).  The CLI mains run in-process against the shared session
(monkeypatched open_session/stop_spark) so the suite pays for one
SparkSession, not four."""

from __future__ import annotations

import importlib
import os
import sys

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def cli(monkeypatch, spark):
    """Import a scripts/ module with its session plumbing bound to the
    test session."""
    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    )

    def load(name):
        mod = importlib.import_module(name)
        common = importlib.import_module("_cli_common")
        monkeypatch.setattr(common, "get_spark", lambda *_a, **_k: spark, raising=False)
        monkeypatch.setattr(mod, "open_session", lambda *_a, **_k: spark)
        monkeypatch.setattr(mod, "stop_spark", lambda _s: None)
        return mod

    return load


@pytest.fixture()
def table_path(spark, tmp_path):
    from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

    path = str(tmp_path / "tbl")
    t = VersionedTable(spark, path)
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") * 1.5).alias("v")
    )
    t.write(df, mode="overwrite")
    t.write(df.filter(F.col("id") < 10), mode="append")
    return path


def _run(mod, monkeypatch, argv) -> int:
    monkeypatch.setattr(sys, "argv", argv)
    return mod.main()


def test_optimize_cli_compacts_and_zorders(cli, monkeypatch, spark, table_path):
    from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

    mod = cli("optimize_tables")
    assert _run(mod, monkeypatch, ["optimize_tables.py", "--path", table_path]) == 0
    t = VersionedTable(spark, table_path)
    hist = t.history()
    assert hist[0]["operation"] == "OPTIMIZE"
    assert t.read().count() == 110  # content unchanged

    assert _run(
        mod,
        monkeypatch,
        ["optimize_tables.py", "--path", table_path, "--zorder-cols", "grp,id",
         "--target-files", "2"],
    ) == 0
    assert t.read().count() == 110
    # Z-ORDER rewrote the snapshot as a new version; time travel still
    # reaches the pre-optimize layout
    assert t.read(version=1).count() == 110


def test_vacuum_cli_dry_run_then_real(cli, monkeypatch, spark, table_path, capsys):
    from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

    mod = cli("vacuum_tables")
    t = VersionedTable(spark, table_path)
    t.compact()  # makes version-0/1 commit dirs unreferenced by head
    assert _run(
        mod,
        monkeypatch,
        ["vacuum_tables.py", "--path", table_path, "--retain-last", "1", "--dry-run"],
    ) == 0
    out = capsys.readouterr().out
    assert "would remove" in out
    assert t.read(version=0).count() == 100  # dry run touched nothing

    assert _run(
        mod,
        monkeypatch,
        ["vacuum_tables.py", "--path", table_path, "--retain-last", "1"],
    ) == 0
    # head still reads; vacuumed version's files are gone
    assert t.read().count() == 110
    with pytest.raises(Exception):
        t.read(version=0).count()


def test_time_travel_cli_history_read_restore(cli, monkeypatch, spark, table_path, capsys, tmp_path):
    from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

    mod = cli("time_travel")
    assert _run(
        mod, monkeypatch, ["time_travel.py", "history", "--path", table_path]
    ) == 0
    out = capsys.readouterr().out
    assert "'operation'" in out and "'version'" in out

    snap = str(tmp_path / "snap")
    assert _run(
        mod,
        monkeypatch,
        ["time_travel.py", "read", "--path", table_path, "--version", "0",
         "--output", snap],
    ) == 0
    assert spark.read.parquet(snap).count() == 100

    assert _run(
        mod,
        monkeypatch,
        ["time_travel.py", "restore", "--path", table_path, "--version", "0"],
    ) == 0
    t = VersionedTable(spark, table_path)
    assert t.read().count() == 100
    assert t.history()[0]["operation"] == "RESTORE"


def test_clone_cli(cli, monkeypatch, spark, table_path, capsys, tmp_path):
    mod = cli("clone_table")
    dest = str(tmp_path / "cloned")
    monkeypatch.setattr(
        sys, "argv", ["clone_table.py", "--path", table_path, "--dest", dest]
    )
    assert mod.main() == 0
    out = capsys.readouterr().out
    assert "hard-linked" in out
    from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

    src_n = VersionedTable(spark, table_path).read().count()
    assert VersionedTable(spark, dest).read().count() == src_n
    # refuses an occupied destination
    monkeypatch.setattr(
        sys, "argv", ["clone_table.py", "--path", table_path, "--dest", dest]
    )
    with pytest.raises(ValueError, match="already has a table"):
        mod.main()
