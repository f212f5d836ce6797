"""Round-11 optimization: reader-layer tests.

Covers the load_table plan memo and the input-skew widening guard
(OPTIMIZATION_r11.md batch 4) — the two reader changes whose contract
is subtle enough to deserve explicit gates:

- the memo must return the SAME lazy plan per (session, path) and
  DIFFERENT plans per sf_dir (never cross-wire scale factors);
- memoization must not cache rows: a fresh action must re-scan parquet
  (checked via the scan's numOutputRows after clearCache);
- widening must trigger only when the layout's row-group ceiling is
  below the session's cores, and must not change values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_delta_lakehouse_nyctaxi_spark.sources.readers import (
    load_table,
    load_table_widened,
    scan_width,
)

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

    return get_spark("test-readers-opt")


def test_load_table_memo_identity_and_isolation(spark):
    """Same (session, path) → same DataFrame handle; different sf_dir →
    different handle reading different data."""
    a1 = load_table(spark, SF_SMALL, "orders")
    a2 = load_table(spark, SF_SMALL, "orders")
    b = load_table(spark, SF_MID, "orders")
    assert a1 is a2
    assert a1 is not b
    assert a1.count() != b.count()


def test_load_table_memo_does_not_cache_rows(spark):
    """The memo holds a lazy plan only — every action re-computes from
    parquet (count twice, clearCache between; identical results and no
    InMemoryRelation in the plan)."""
    df = load_table(spark, SF_SMALL, "lineitem")
    n1 = df.count()
    spark.catalog.clearCache()
    n2 = df.count()
    assert n1 == n2 > 0
    assert "InMemoryRelation" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_width_matches_layout(spark):
    """The testdata layout is one file / one row group per table — the
    ceiling the widening guard keys on."""
    assert scan_width(SF_SMALL, "lineitem") >= 1
    if spark.sparkContext.defaultParallelism > 1:
        # on a single-core runner scan_width >= 1 == defaultParallelism
        # even though the layout is correct — the contract below only
        # exists when the session has parallelism to widen into
        # (round-11 ADVICE: don't encode the machine in the test)
        assert (
            scan_width(SF_SMALL, "lineitem")
            < spark.sparkContext.defaultParallelism
        )


def test_widened_values_identical(spark):
    """Widening is purely physical: identical rows, and the widened
    plan carries the repartition exchange."""
    plain = load_table(spark, SF_SMALL, "lineitem")
    wide = load_table_widened(spark, SF_SMALL, "lineitem", "l_orderkey")
    a = sorted(
        tuple(r) for r in plain.groupBy("l_returnflag").count().collect()
    )
    b = sorted(tuple(r) for r in wide.groupBy("l_returnflag").count().collect())
    assert a == b
    assert (
        "RepartitionByExpression"
        in wide._jdf.queryExecution().optimizedPlan().toString()
    )


def test_scan_width_tracks_rewrites_and_retries_failures(tmp_path):
    """The width memo is keyed by the path's mtime like the table memo,
    so a rewritten table reports its new width, and a failed footer
    read is not memoized: the next call reads the footers again."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    path.write_bytes(b"not parquet yet")
    os.utime(path, (1_000_000, 1_000_000))
    assert scan_width(str(tmp_path), "t") == 1 << 30

    tbl = pa.table({"x": list(range(30))})
    pq.write_table(tbl, path, row_group_size=30)
    os.utime(path, (1_000_000, 1_000_000))  # same mtime as the failed read
    assert scan_width(str(tmp_path), "t") == 1

    pq.write_table(tbl, path, row_group_size=10)
    os.utime(path, (2_000_000, 2_000_000))
    assert scan_width(str(tmp_path), "t") == 3
