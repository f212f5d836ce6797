"""Shared plumbing for the maintenance CLIs (reference parity:
`scripts/optimize_tables.py` / `vacuum_tables.py` / `time_travel.py`,
each a thin argparse wrapper over table-maintenance operations).

The reference resolves logical table names (bronze/silver/...) to paths
through config/config.yaml; these CLIs do the same through the
pipeline's YAML/default config, and additionally accept `--path` for an
arbitrary VersionedTable location (the testdata star schema isn't a
fixed 4-table lakehouse).
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from spark_delta_lakehouse_nyctaxi_spark.pipeline import default_config, load_config
from spark_delta_lakehouse_nyctaxi_spark.session import get_spark, stop_spark
from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

TABLE_CHOICES = [
    "bronze",
    "silver",
    "gold_daily_kpis",
    "gold_segment_demand",
    "all",
]


def add_common_args(ap: argparse.ArgumentParser, with_all: bool = True) -> None:
    ap.add_argument("--config", help="YAML config path (default: built-in)")
    ap.add_argument(
        "--base-path",
        default=os.path.join(ROOT, ".scratch", "lake"),
        help="lake root for the built-in config",
    )
    choices = TABLE_CHOICES if with_all else TABLE_CHOICES[:-1]
    ap.add_argument(
        "--table",
        choices=choices,
        default="all" if with_all else None,
        help="logical table name resolved through config paths",
    )
    ap.add_argument("--path", help="explicit table path (overrides --table)")


def resolve_tables(args) -> list[tuple[str, str]]:
    """(name, path) pairs the operation should touch."""
    if args.path:
        return [(args.path, args.path)]
    if args.config:
        cfg = load_config(args.config)
    else:
        cfg = default_config(args.base_path, source_path="")
    paths = cfg["paths"]
    data_tables = [t for t in TABLE_CHOICES[:-1] if t in paths]
    if getattr(args, "table", None) in (None, "all"):
        return [(t, paths[t]) for t in data_tables]
    if args.table not in paths:
        raise SystemExit(f"table {args.table!r} not in config paths {sorted(paths)}")
    return [(args.table, paths[args.table])]


def open_session(app_name: str):
    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


__all__ = [
    "VersionedTable",
    "add_common_args",
    "argparse",
    "open_session",
    "resolve_tables",
    "stop_spark",
]
