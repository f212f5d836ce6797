"""Self-tests of the benchmark: generator determinism, span arithmetic,
job/stage attribution, metric names against BENCHMARK.json, and a one-sample
sf0.001 smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, attribute, covered, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ generator


def test_star_tables_byte_identical_per_seed(tmp_path):
    a = gen.star_tables(str(tmp_path / "a"), 3, 0.001)
    b = gen.star_tables(str(tmp_path / "b"), 3, 0.001)
    c = gen.star_tables(str(tmp_path / "c"), 4, 0.001)
    assert a["hash"] == b["hash"] != c["hash"]
    for t in a["counts"]:
        with open(tmp_path / "a" / f"{t}.parquet", "rb") as fa, open(tmp_path / "b" / f"{t}.parquet", "rb") as fb:
            assert fa.read() == fb.read(), t


def test_medallion_source_deterministic_with_resent_keys(tmp_path):
    import pyarrow.parquet as pq

    a = gen.medallion_source(str(tmp_path / "a.parquet"), 9, 2000)
    b = gen.medallion_source(str(tmp_path / "b.parquet"), 9, 2000)
    assert a["hash"] == b["hash"]
    keys = pq.read_table(tmp_path / "a.parquet").column("o_orderkey").to_pylist()
    assert len(keys) - len(set(keys)) == a["dups"] == int(2000 * gen.DUP_FRAC)


def test_cdc_stream_deterministic_and_well_formed(tmp_path):
    import duckdb

    a = gen.cdc_stream(str(tmp_path / "a"), 5, 3000, 3)
    b = gen.cdc_stream(str(tmp_path / "b"), 5, 3000, 3)
    assert a["hash"] == b["hash"] and a["batches"] == b["batches"]
    d = tmp_path / "a"
    con = duckdb.connect()
    seed_max = con.sql(f"SELECT max(o_orderdate) FROM '{d}/seed.parquet'").fetchone()[0]
    # batch 0 re-sends rows at the watermark and adds rows past it
    n_old, n_new = con.sql(
        f"SELECT count(*) FILTER (WHERE o_orderdate <= TIMESTAMP '{seed_max}'), "
        f"count(*) FILTER (WHERE o_orderdate > TIMESTAMP '{seed_max}') FROM '{d}/append_0.parquet'"
    ).fetchone()
    assert n_old > 0 and n_new == gen.CDC_APPENDS
    n_upd, n_keys = con.sql(
        f"SELECT count(*), count(DISTINCT o_orderkey) FROM '{d}/update_1.parquet'"
    ).fetchone()
    assert n_upd == n_keys == gen.CDC_UPDATES


# ----------------------------------------------------------- arithmetic


def _span(i, parent, t0, t1, layer="l", name="n", op=1):
    return Span(i, name, layer, parent, op, t0, t1)


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert covered([]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: union is 1..6
        _span(3, 1, 2.0, 3.0),
        _span(4, 0, 9.0, 12.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(1)
    assert all(v >= 0 for v in st.values())


def test_outer_time_counts_nested_same_layer_once():
    spans = [
        _span(0, None, 0.0, 10.0, "bench", "bench.op"),
        _span(1, 0, 1.0, 5.0, "sources.table", "table.write"),
        _span(2, 1, 2.0, 3.0, "sources.table", "table.read"),
        _span(3, 0, 6.0, 8.0, "incremental", "incremental.incremental_append"),
        _span(4, 3, 6.5, 7.0, "sources.table", "table.read"),
        _span(5, 3, 6.1, 6.4, "incremental", "incremental.get_watermark"),
    ]
    by_id = {s.id: s for s in spans}
    assert layers._outer_time(spans, by_id, "table.read", "layer") == pytest.approx(0.5)
    assert layers._outer_time(spans, by_id, "incremental.get_watermark", "name") == pytest.approx(0.3)


def test_tail_needs_ten_samples_beyond():
    assert workloads.tail([1.0, 3.0, 2.0]) == (3.0, None)
    xs = list(range(1, 21))
    value, pct = workloads.tail([float(x) for x in xs])
    assert value == 10.0 and pct == 50.0 and sum(x > value for x in xs) == 10


def test_attribute_tags_jobs_and_stages_with_spans():
    job_rows = [
        {"job": 0, "description": "pbspan:7", "t0": 1.0, "t1": 2.5},
        {"job": 1, "description": None, "t0": 3.0, "t1": 3.5},
        {"job": 2, "description": "pbspan:8", "t0": 4.0, "t1": None},  # still running
    ]
    stage_rows = [
        {"stage": (3, 0), "description": "pbspan:7", "tasks": 4, "run_ms": 1500,
         "cpu_ns": 2_000_000_000, "gc_ms": 10, "shuffle_write_bytes": 64, "input_bytes": 5},
    ]
    jobs, stages = attribute(job_rows, stage_rows)
    assert jobs == {0: (7, 1.0, 2.5), 1: (None, 3.0, 3.5)}
    s = stages[(3, 0)]
    assert (s.span, s.tasks, s.run_s, s.cpu_s, s.gc_s, s.shuffle_write_bytes) == (7, 4, 1.5, 2.0, 0.01, 64)


# --------------------------------------------------------------- names


def test_metric_names_agree_with_benchmark_json():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert per == {k: u for k, (u, _, _) in layers.MOVES.items()}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for name in list(e2e) + list(per) + list(workloads.WORKLOADS):
        assert NAME.fullmatch(name) and len(name) <= 64, name
    for k, (_, moves, wls) in layers.MOVES.items():
        assert moves in set(e2e) | {"peak_rss_mb", "space_amp"}, k
        assert set(wls) <= set(workloads.WORKLOADS), k
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25


# --------------------------------------------------------------- smoke


def _bench(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_one_sample(workload):
    p = _bench(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0",
                "--sf", "0.001", "--star-sf", "0.001"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.E2E_UNITS
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced_reports_every_per_layer_metric():
    p = _bench(["--workload", "lakehouse_cycle", "--seed", "2", "--seconds", "1", "--trace", "1",
                "--sf", "0.001"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in _spec()["per_layer"]
    }
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for k in ("pipeline.bronze_s", "audit.log_run_s", "audit.share", "table.merge_s", "table.compact_s",
              "incremental.append_s", "exec.jobs"):
        assert m[k] > 0, k
    assert m["queries.build_s"] == 0  # the write path runs no registry query
    spans = os.path.join(BENCH, ".work", "lakehouse_cycle", "spans.jsonl")
    assert os.path.getsize(spans) > 0


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _bench(["--workload", "star_query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
