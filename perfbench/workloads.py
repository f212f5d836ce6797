"""The workloads. Each one drives the program only through its public
functions and checks its outputs against DuckDB.

Two workloads run: ``lakehouse_cycle`` (the write path: a CDC batch and a
medallion refresh per op, in one process so that they share one JVM
warm-up) and ``star_query_mix`` (the read path). A workload has
``setup`` (inputs, lake seeding, warmup — timed as set-up),
``prepare(i)`` (untimed state reset before op ``i``), ``run(i)`` (the
timed op, returning named durations), ``check(i)`` (untimed output
checks for op ``i``), ``finish`` (end-of-run checks) and ``summary``
(the workload's own metrics).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil
import statistics
import time

import duckdb

import gen

HEADLINE = {
    "q_agg_daily": "relational",
    "q_agg_2key": "relational",
    "q_join_inner": "relational",
    "q_join_multi": "relational",
    "q_join_range": "relational",
    "q_window_rank": "relational",
    "q_window_frame": "relational",
    "q_topk": "relational",
    "q_tpch_q5": "relational",
    "q_tpch_q19": "relational",
    "q_dedup_exact": "curation",
    "q_minhash_lsh": "curation",
    "q_text_quality": "curation",
    "q_ann_bruteforce": "curation",
    "q_token_count_bpe": "curation",
    "q_training_pipeline": "curation",
    "q_curation_pipeline_v2": "curation",
}

HISTORY_DEPTH = 1  # warmup refreshes, which leave this much audit/DQ history
CDC_BATCHES = 16  # batches generated (batch 0 is the warmup); a run stops early when time is up


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; ``(max, None)`` when there are fewer than 11."""
    n = len(xs)
    if n < 11:
        return (max(xs) if xs else 0.0), None
    k = n - 11  # index of the sample with exactly ten above it
    return sorted(xs)[k], round(100.0 * (k + 1) / n, 1)


def tree_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files created or grown between two ``tree_bytes`` walks."""
    return sum(max(0, n - before.get(p, 0)) for p, n in after.items())


def _rows_equal(a, b) -> bool:
    norm = lambda rows: sorted(tuple(str(v) for v in r) for r in rows)  # noqa: E731
    return norm(a) == norm(b)


class Workload:
    name = ""
    max_ops = 1 << 30

    def __init__(self, ctx, work: str | None = None):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = work or ctx.work
        self.inputs: dict = {}

    def prepare(self, i: int) -> None:
        pass

    def finish(self) -> list[tuple[bool, str]]:
        return []


# ----------------------------------------------------------- medallion


class MedallionRefresh(Workload):
    """One op is a full ``run_pipeline(use_dag=True)`` bronze → silver → gold over a
    seeded ``orders`` file with re-sent keys. The lake is restored to the
    post-warmup snapshot before every timed refresh."""

    def setup(self) -> None:
        from spark_delta_lakehouse_nyctaxi_spark.pipeline import default_config

        src = os.path.join(self.work, "input", "orders.parquet")
        self.inputs = gen.medallion_source(src, self.ctx.seed, int(1_500_000 * self.ctx.sf))
        self.lake = os.path.join(self.work, "lake")
        self.snap = os.path.join(self.work, "lake_snapshot")
        self.cfg = default_config(self.lake, src)
        self._expect(src)
        for _ in range(HISTORY_DEPTH):
            self._refresh()
        shutil.copytree(self.lake, self.snap)
        self.bytes_per_refresh = []

    def _expect(self, src: str) -> None:
        con = duckdb.connect()
        con.execute(
            f"""CREATE VIEW silver AS SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY o_orderdate) rn
                FROM read_parquet('{src}')
                WHERE o_orderkey IS NOT NULL AND o_orderdate IS NOT NULL AND o_totalprice >= 0
            ) WHERE rn = 1"""
        )
        rev = "CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE)"
        self.want_silver = con.sql("SELECT count(*) FROM silver").fetchone()[0]
        self.want_daily = con.sql(
            f"SELECT CAST(o_orderdate AS DATE), count(*), {rev} FROM silver GROUP BY 1"
        ).fetchall()
        self.want_segment = con.sql(
            f"SELECT CAST(o_orderdate AS DATE), o_orderpriority, count(*), {rev} "
            "FROM silver GROUP BY 1, 2"
        ).fetchall()
        con.close()

    def _refresh(self) -> dict:
        from spark_delta_lakehouse_nyctaxi_spark import pipeline

        out = pipeline.run_pipeline(self.spark, self.cfg, use_dag=True)
        if not out.get("success"):
            raise RuntimeError(f"pipeline failed: {out.get('tasks')}")
        return out

    def prepare(self, i: int) -> None:
        shutil.rmtree(self.lake)
        shutil.copytree(self.snap, self.lake)
        self._before = tree_bytes(self.lake)

    def run(self, i: int) -> dict:
        t0 = time.perf_counter()
        self._refresh()
        return {"op": time.perf_counter() - t0}

    def check(self, i: int) -> list[tuple[bool, str]]:
        from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

        self.bytes_per_refresh.append(bytes_written(self._before, tree_bytes(self.lake)))
        p = self.cfg["paths"]
        n = VersionedTable(self.spark, p["silver"]).read().count()
        daily = (
            VersionedTable(self.spark, p["gold_daily_kpis"]).read()
            .select("order_date", "daily_order_count", "daily_total_revenue").collect()
        )
        seg = (
            VersionedTable(self.spark, p["gold_segment_demand"]).read()
            .select("order_date", "o_orderpriority", "order_count", "total_revenue").collect()
        )
        return [
            (n == self.want_silver, f"silver rows {n} want {self.want_silver}"),
            (_rows_equal(daily, self.want_daily), "gold daily kpis vs duckdb"),
            (_rows_equal(seg, self.want_segment), "gold segment demand vs duckdb"),
        ]

    def summary(self, samples: list[dict]) -> dict:
        ops = [s["op"] for s in samples]
        t, pct = tail(ops)
        from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

        details = [VersionedTable(self.spark, p).detail() for p in self.cfg["paths"].values()]
        live = sum(d["size_bytes"] for d in details)
        return {
            "refresh_s": median(ops),
            "refresh_tail_s": t,
            "refresh_tail_pct": pct,
            "bytes_written_per_op": median(self.bytes_per_refresh),
            "write_amp": median(self.bytes_per_refresh) / os.path.getsize(self.inputs["path"]),
            "space_amp": sum(tree_bytes(self.lake).values()) / max(1, live),
            "units_live": sum(d["num_units"] for d in details),
        }


# ----------------------------------------------------------------- CDC


class LakeCDC(Workload):
    """A seeded change stream against a month-partitioned orders table.
    One op is one batch: watermark append, skewed MERGE of updates and
    additive aggregate refresh; then a snapshot aggregate and a one-day
    stats scan, which see the units the MERGE left; then ``compact()``
    of the orders table (auto-compaction after every batch, so every op
    carries the same work)."""

    max_ops = CDC_BATCHES - 1

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from spark_delta_lakehouse_nyctaxi_spark.sources.table import VersionedTable

        self.F = F
        d = os.path.join(self.work, "input")
        self.inputs = gen.cdc_stream(d, self.ctx.seed, int(1_500_000 * self.ctx.sf), CDC_BATCHES)
        self.inp = lambda f: os.path.join(d, f)  # noqa: E731
        lake = os.path.join(self.work, "lake")
        self.orders = VersionedTable(self.spark, os.path.join(lake, "orders"))
        self.agg = VersionedTable(self.spark, os.path.join(lake, "daily_revenue"))
        seed = self.spark.read.parquet(self.inp("seed.parquet"))
        self.orders.write(seed, mode="overwrite", partition_by=["o_month"], stats_cols=["o_orderdate"])
        self.agg.write(self.spark.read.parquet(self.inp("seed_agg.parquet")), mode="overwrite")
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{self.inp('seed.parquet')}')")
        self.batch_input_bytes = 0
        self.written = 0
        self.kept: list[float] = []
        self.units: list[tuple[int, int]] = []
        # batch 0 is the warmup; timed ops are batches 1, 2, ...
        self._batch(0)
        self._read(0)
        self.orders.compact()
        self._replay(0)

    def _batch(self, b: int) -> None:
        from spark_delta_lakehouse_nyctaxi_spark import incremental

        read = self.spark.read.parquet
        incremental.incremental_append(self.orders, read(self.inp(f"append_{b}.parquet")), "o_orderdate")
        self.orders.merge(read(self.inp(f"update_{b}.parquet")), keys=["o_orderkey"])
        incremental.refresh_aggregate(
            self.agg, read(self.inp(f"delta_{b}.parquet")), keys=["order_date"],
            add_columns=["n_orders", "revenue"],
        )

    def _read(self, b: int):
        F = self.F
        day = dt.datetime.fromisoformat(self.inputs["batches"][b]["scan_day"])
        snap = self.orders.read().agg(
            F.count("*"), F.sum(F.col("o_totalprice").cast("decimal(22,2)"))
        ).first()
        n_day = self.orders.scan(pred={"o_orderdate": (day, day)}).count()
        last = self.orders.last_scan
        self.kept.append(last["kept"] / max(1, last["kept"] + last["skipped"]))
        return snap[0], snap[1], n_day

    def _replay(self, b: int) -> None:
        c = self.con
        c.execute(
            f"INSERT INTO orders SELECT * FROM read_parquet('{self.inp(f'append_{b}.parquet')}') "
            "WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders)"
        )
        c.execute(
            "UPDATE orders SET o_custkey = u.o_custkey, o_orderstatus = u.o_orderstatus, "
            "o_totalprice = u.o_totalprice, o_orderdate = u.o_orderdate, "
            "o_orderpriority = u.o_orderpriority, o_month = u.o_month "
            f"FROM read_parquet('{self.inp(f'update_{b}.parquet')}') u "
            "WHERE orders.o_orderkey = u.o_orderkey"
        )

    def prepare(self, i: int) -> None:
        self._before = tree_bytes(os.path.dirname(self.orders.path))
        self.batch_input_bytes += sum(
            os.path.getsize(self.inp(f"{k}_{i}.parquet")) for k in ("append", "update", "delta")
        )

    def run(self, i: int) -> dict:
        t0 = time.perf_counter()
        self._batch(i)
        t1 = time.perf_counter()
        self._got = self._read(i)
        t2 = time.perf_counter()
        d = self.orders.detail()
        self.units.append((d["num_units"], d["units_with_stats"]))
        t3 = time.perf_counter()
        self.orders.compact()
        t4 = time.perf_counter()
        self.written += bytes_written(self._before, tree_bytes(os.path.dirname(self.orders.path)))
        return {"op": t2 - t0 + t4 - t3, "batch": t1 - t0, "read": t2 - t1, "compact": t4 - t3}

    def check(self, i: int) -> list[tuple[bool, str]]:
        self._replay(i)
        day = self.inputs["batches"][i]["scan_day"]
        want = self.con.sql(
            "SELECT count(*), SUM(CAST(o_totalprice AS DECIMAL(22,2))), "
            f"count(*) FILTER (WHERE CAST(o_orderdate AS DATE) = DATE '{day}') FROM orders"
        ).fetchone()
        return [(tuple(self._got) == tuple(want), f"batch {i} read {self._got} want {want}")]

    def finish(self) -> list[tuple[bool, str]]:
        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, o_month"
        got = self.orders.read().selectExpr(*[f"CAST({c} AS STRING) {c}" for c in cols.split(", ")])
        self.con.register("spark_orders", got.toPandas())
        c = self.con
        snap_diff = c.sql(
            f"SELECT count(*) FROM ((SELECT {', '.join(f'CAST({x} AS VARCHAR)' for x in cols.split(', '))} "
            f"FROM orders) EXCEPT ALL (SELECT {cols} FROM spark_orders))"
        ).fetchone()[0]
        n_spark = len(c.sql("SELECT 1 FROM spark_orders").fetchall())
        n_want = c.sql("SELECT count(*) FROM orders").fetchone()[0]
        agg = self.agg.read().selectExpr(
            "CAST(order_date AS STRING) d", "n_orders", "CAST(revenue AS STRING) r"
        )
        self.con.register("spark_agg", agg.toPandas())
        agg_diff = c.sql(
            """SELECT count(*) FROM (
                (SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) d, count(*) n,
                        CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS VARCHAR) r
                 FROM orders GROUP BY 1)
                EXCEPT ALL (SELECT d, n_orders, r FROM spark_agg))"""
        ).fetchone()[0]
        n_agg = c.sql("SELECT count(*) FROM spark_agg").fetchone()[0]
        n_agg_want = c.sql("SELECT count(DISTINCT CAST(o_orderdate AS DATE)) FROM orders").fetchone()[0]
        return [
            (snap_diff == 0 and n_spark == n_want, f"final snapshot: {snap_diff} rows differ"),
            (agg_diff == 0 and n_agg == n_agg_want, f"aggregate vs from-scratch: {agg_diff} rows differ"),
        ]

    def summary(self, samples: list[dict]) -> dict:
        t, pct = tail([s["batch"] for s in samples])
        d = self.orders.detail()
        disk = sum(tree_bytes(self.orders.path).values())
        return {
            "cdc_batch_s": median([s["batch"] for s in samples]),
            "cdc_batch_tail_s": t,
            "cdc_batch_tail_pct": pct,
            "cdc_compact_s": median([s["compact"] for s in samples]),
            "cdc_read_s": median([s["read"] for s in samples]),
            "bytes_written_per_op": self.written / max(1, len(samples)),
            "write_amp": self.written / max(1, self.batch_input_bytes),
            "space_amp": disk / max(1, d["size_bytes"]),
            # units as the reads saw them, before compaction
            "units_live": median([n for n, _ in self.units]),
            "units_with_stats_frac": median([k / max(1, n) for n, k in self.units]),
            "scan_units_kept_frac": median(self.kept[1:]),
        }


# ----------------------------------------------------------- lakehouse


class LakehouseCycle(Workload):
    """One op is one CDC batch (``LakeCDC``) and then one medallion refresh
    (``MedallionRefresh``), each on its own lake. The op time is the sum of
    the two timed parts; the record keeps each part's own figures."""

    name = "lakehouse_cycle"
    max_ops = LakeCDC.max_ops

    def __init__(self, ctx):
        super().__init__(ctx)
        self.cdc = LakeCDC(ctx, os.path.join(ctx.work, "cdc"))
        self.med = MedallionRefresh(ctx, os.path.join(ctx.work, "medallion"))

    def setup(self) -> None:
        self.med.setup()
        self.cdc.setup()
        self.inputs = {
            "hash": hashlib.sha256((self.cdc.inputs["hash"] + self.med.inputs["hash"]).encode()).hexdigest()
        }

    def prepare(self, i: int) -> None:
        self.cdc.prepare(i)
        self.med.prepare(i)

    def run(self, i: int) -> dict:
        c = self.cdc.run(i)
        m = self.med.run(i)
        return {"op": c["op"] + m["op"], "cdc": c, "medallion": m}

    def check(self, i: int) -> list[tuple[bool, str]]:
        return self.cdc.check(i) + self.med.check(i)

    def finish(self) -> list[tuple[bool, str]]:
        return self.cdc.finish()

    def summary(self, samples: list[dict]) -> dict:
        c = self.cdc.summary([s["cdc"] for s in samples])
        m = self.med.summary([s["medallion"] for s in samples])
        out = {**{f"medallion_{k}": v for k, v in m.items() if k != "refresh_s"}, **c}
        out["refresh_s"] = m["refresh_s"]
        out["bytes_written_per_op"] = c["bytes_written_per_op"] + m["bytes_written_per_op"]
        return out


# ------------------------------------------------------------ star mix


class StarQueryMix(Workload):
    """The 17 headline queries in a seed-shuffled order, each forced
    through the noop sink. One op is one full pass."""

    name = "star_query_mix"

    def setup(self) -> None:
        import random
        import sys

        from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY

        path = list(sys.path)
        try:
            from tools.check_oracle import compare
        finally:
            sys.path[:] = path
        self.registry = REGISTRY
        self.dir = os.path.join(self.work, "input")
        self.inputs = gen.star_tables(self.dir, self.ctx.seed, self.ctx.star_sf)
        self.order = list(HEADLINE)
        random.Random(self.ctx.seed).shuffle(self.order)
        con = duckdb.connect()
        for t in gen.star_counts(self.ctx.star_sf):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        # the oracle pass doubles as the warmup: every query runs once
        for q in self.order:
            spec = REGISTRY[q]
            try:
                ok, msg = compare(q, spec.fn(self.spark, self.dir).toPandas(), con.sql(spec.sql).df(),
                                  strict_dtypes=True)
            except Exception as e:  # a failing query is a failed op, not a crash
                ok, msg = False, f"{type(e).__name__}: {e}"
            self.ctx.record_check(ok, f"{q}: {msg}")
            self.spark.catalog.clearCache()
        con.close()

    def run(self, i: int) -> dict:
        tr = self.ctx.tracer
        out = {}
        for q in self.order:
            t0 = time.perf_counter()
            with tr.span("queries.build", "queries"):
                df = self.registry[q].fn(self.spark, self.dir)
            with tr.span("queries.sink", "queries"):
                df.write.format("noop").mode("overwrite").save()
            out[q] = time.perf_counter() - t0
            self.spark.catalog.clearCache()
        out["op"] = sum(out.values())
        return out

    def check(self, i: int) -> list[tuple[bool, str]]:
        return []

    def summary(self, samples: list[dict]) -> dict:
        med = {q: median([s[q] for s in samples]) for q in self.order}
        return {
            "mix_pass_s": median([s["op"] for s in samples]),
            "query_relational_s": geomean([v for q, v in med.items() if HEADLINE[q] == "relational"]),
            "query_curation_s": geomean([v for q, v in med.items() if HEADLINE[q] == "curation"]),
            "queries_s": med,
        }


WORKLOADS = {w.name: w for w in (LakehouseCycle, StarQueryMix)}


def dump(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)
