"""Test fixtures mirroring the reference's conftest
(tests/conftest.py:19-52): one session-scoped local session, tmp dirs.
AQE stays ON (unlike the reference) — we test the plans we ship.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_table_path(tmp_path):
    return str(tmp_path / "tbl")
