"""Per-layer metrics of the traced run.

``install`` wraps the program's public functions layer by layer (the
layers are the program's modules); ``per_layer`` turns the recorded
spans, the replayed Spark jobs/stages and the workload summary into the
``per_layer`` metrics of BENCHMARK.json, each normalised per traced op.

``MOVES`` records, for every per-layer metric, the end-to-end metric it
should move and on which workload (BENCHMARK.json has no field for it).
``peak_rss_mb`` and ``space_amp`` are end-to-end figures kept in the run
record only: they vary too much between runs to carry a bound.
"""

from __future__ import annotations

import math

from spans import Span, covered, self_times

LAKE = ("lakehouse_cycle",)
STAR = ("star_query_mix",)
ALL = LAKE + STAR

# metric -> (unit, end-to-end metric it should move, workloads)
MOVES: dict[str, tuple[str, str, tuple[str, ...]]] = {
    "table.write_s": ("s", "op_s", LAKE),
    "table.merge_s": ("s", "op_s", LAKE),
    "table.read_s": ("s", "op_s", LAKE),
    "table.scan_s": ("s", "op_s", LAKE),
    "table.compact_s": ("s", "op_s", LAKE),
    "table.bytes_written": ("B", "op_s", LAKE),
    "table.units_live": ("count", "op_s", LAKE),
    "table.units_with_stats_frac": ("ratio", "op_s", LAKE),
    "table.scan_units_kept_frac": ("ratio", "op_s", LAKE),
    "table.spark_jobs": ("count", "op_s", LAKE),
    "table.write_amp": ("ratio", "op_s", LAKE),
    "table.space_amp": ("ratio", "space_amp", LAKE),
    "readers.load_table_s": ("s", "op_s", STAR),
    "readers.load_table_calls": ("count", "op_s", STAR),
    "pipeline.bronze_s": ("s", "op_s", LAKE),
    "pipeline.silver_s": ("s", "op_s", LAKE),
    "pipeline.gold_s": ("s", "op_s", LAKE),
    "pipeline.spark_jobs": ("count", "op_s", LAKE),
    "quality.checks_s": ("s", "op_s", LAKE),
    "quality.spark_jobs": ("count", "op_s", LAKE),
    "audit.dq_record_s": ("s", "op_s", LAKE),
    "audit.log_run_s": ("s", "op_s", LAKE),
    "audit.save_metrics_s": ("s", "op_s", LAKE),
    "audit.share": ("ratio", "op_s", LAKE),
    "dag.overhead_s": ("s", "op_s", LAKE),
    "dag.retries": ("count", "op_s", LAKE),
    "incremental.watermark_s": ("s", "op_s", LAKE),
    "incremental.append_s": ("s", "op_s", LAKE),
    "incremental.refresh_aggregate_s": ("s", "op_s", LAKE),
    "queries.build_s": ("s", "op_s", STAR),
    "queries.sink_s": ("s", "op_s", STAR),
    "queries.eager_jobs": ("count", "op_s", STAR),
    "queries.relational_s": ("s", "op_s", STAR),
    "queries.curation_s": ("s", "op_s", STAR),
    "exec.cpu_s": ("s", "op_cpu_s", ALL),
    "exec.run_s": ("s", "op_s", ALL),
    "exec.gc_s": ("s", "peak_rss_mb", ALL),
    "exec.jobs": ("count", "op_s", ALL),
    "exec.stages": ("count", "op_s", ALL),
    "exec.tasks": ("count", "op_s", ALL),
    "exec.shuffle_write_bytes": ("B", "op_s", ALL),
    "exec.input_bytes": ("B", "op_s", ALL),
    "exec.slot_busy_frac": ("ratio", "op_s", ALL),
    "exec.driver_s": ("s", "op_s", ALL),
    "trace.overhead_s": ("s", "op_s", ALL),
}


def install(tracer) -> None:
    """Wrap the public entry points of every layer."""
    from spark_delta_lakehouse_nyctaxi_spark import audit, incremental, quality
    from spark_delta_lakehouse_nyctaxi_spark.orchestration import dag
    from spark_delta_lakehouse_nyctaxi_spark.pipeline import jobs
    from spark_delta_lakehouse_nyctaxi_spark.sources import readers, table

    for m in ("write", "merge", "read", "scan", "compact"):
        tracer.install(table.VersionedTable, m, f"table.{m}", "sources.table")
    tracer.install(readers, "load_table", "readers.load_table", "sources.readers")
    for f in ("run_pipeline", "run_bronze_job", "run_silver_job", "run_gold_job"):
        tracer.install(jobs, f, f"pipeline.{f}", "pipeline.jobs")
    for m in ("run_all_checks", "results_from_observation"):
        tracer.install(quality.DataQualityFramework, m, f"quality.{m}", "quality")
    tracer.install(audit.DQMetricsStore, "record", "audit.dq_record", "audit")
    tracer.install(audit.AuditLog, "log_run", "audit.log_run", "audit")
    tracer.install(audit.PipelineMetrics, "save_metrics", "audit.save_metrics", "audit")
    tracer.install(dag.DAG, "execute", "dag.execute", "orchestration.dag")
    tracer.install(
        dag.Task, "execute", "dag.task", "orchestration.dag",
        count=lambda task: {"dag.retries": max(0, task.attempts - 1)},
    )
    for f in ("get_watermark", "incremental_append", "refresh_aggregate"):
        tracer.install(incremental, f, f"incremental.{f}", "incremental")


def _outer_time(spans: list[Span], by_id: dict[int, Span], name: str, scope: str) -> float:
    """Total duration of spans called ``name`` that have no ancestor in
    the same layer (``scope="layer"``) or of the same name (``"name"``)."""
    total = 0.0
    for s in spans:
        if s.name != name:
            continue
        p, inner = s.parent, False
        while p is not None:
            a = by_id[p]
            if (a.layer == s.layer) if scope == "layer" else (a.name == s.name):
                inner = True
                break
            p = a.parent
        if not inner:
            total += s.dur
    return total


def _under(by_id: dict[int, Span], sid: int | None, name: str) -> bool:
    while sid is not None:
        if by_id[sid].name == name:
            return True
        sid = by_id[sid].parent
    return False


def per_layer(spans, counters, jobs, stages, summary, cores):
    """Return ``({metric: (value, unit)}, {layer: self seconds per op})``."""
    by_id = {s.id: s for s in spans}
    ops = [s for s in spans if s.name == "bench.op"]
    n = max(1, len(ops))
    wall = sum(o.dur for o in ops) or 1.0
    v: dict[str, float] = {k: 0.0 for k in MOVES}

    def t(name, scope="layer"):
        return _outer_time(spans, by_id, name, scope) / n

    for m in ("write", "merge", "read", "scan", "compact"):
        v[f"table.{m}_s"] = t(f"table.{m}")
    v["readers.load_table_s"] = t("readers.load_table")
    v["readers.load_table_calls"] = sum(s.name == "readers.load_table" for s in spans) / n
    for job in ("bronze", "silver", "gold"):
        v[f"pipeline.{job}_s"] = t(f"pipeline.run_{job}_job", "name")
    v["quality.checks_s"] = t("quality.run_all_checks") + t("quality.results_from_observation")
    v["audit.dq_record_s"] = t("audit.dq_record")
    v["audit.log_run_s"] = t("audit.log_run")
    v["audit.save_metrics_s"] = t("audit.save_metrics")
    refresh = t("pipeline.run_pipeline", "name")
    audit = v["audit.dq_record_s"] + v["audit.log_run_s"] + v["audit.save_metrics_s"]
    v["audit.share"] = audit / refresh if refresh else 0.0
    v["incremental.watermark_s"] = t("incremental.get_watermark", "name")
    v["incremental.append_s"] = t("incremental.incremental_append", "name")
    v["incremental.refresh_aggregate_s"] = t("incremental.refresh_aggregate", "name")
    v["queries.build_s"] = t("queries.build")
    v["queries.sink_s"] = t("queries.sink")

    selfs = self_times(spans)
    by_layer: dict[str, float] = {}
    for s in spans:
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + selfs[s.id] / n
    v["dag.overhead_s"] = by_layer.get("orchestration.dag", 0.0)
    v["dag.retries"] = counters.get("dag.retries", 0) / n

    layer_of = lambda sid: by_id[sid].layer if sid in by_id else None  # noqa: E731
    mine = {j: (s, a, b) for j, (s, a, b) in jobs.items() if s in by_id}
    for key, layer in (("table", "sources.table"), ("pipeline", "pipeline.jobs"), ("quality", "quality")):
        v[f"{key}.spark_jobs"] = sum(layer_of(s) == layer for s, _, _ in mine.values()) / n
    v["queries.eager_jobs"] = sum(_under(by_id, s, "queries.build") for s, _, _ in mine.values()) / n

    st = [x for x in stages.values() if x.span in by_id]
    v["exec.cpu_s"] = sum(x.cpu_s for x in st) / n
    v["exec.run_s"] = sum(x.run_s for x in st) / n
    v["exec.gc_s"] = sum(x.gc_s for x in st) / n
    v["exec.jobs"] = len(mine) / n
    v["exec.stages"] = len(st) / n
    v["exec.tasks"] = sum(x.tasks for x in st) / n
    v["exec.shuffle_write_bytes"] = sum(x.shuffle_write_bytes for x in st) / n
    v["exec.input_bytes"] = sum(x.input_bytes for x in st) / n
    v["exec.slot_busy_frac"] = sum(x.run_s for x in st) / (wall * cores)
    busy = 0.0
    for o in ops:
        ivs = [(max(a, o.t0), min(b, o.t1)) for s, a, b in mine.values() if by_id[s].op == o.op]
        busy += covered(ivs)
    v["exec.driver_s"] = (wall - busy) / n

    for key in ("write_amp", "space_amp", "units_live", "units_with_stats_frac", "scan_units_kept_frac"):
        v[f"table.{key}"] = float(summary.get(key) or 0.0)
    v["table.bytes_written"] = float(summary.get("bytes_written_per_op") or 0.0)
    v["queries.relational_s"] = float(summary.get("query_relational_s") or 0.0)
    v["queries.curation_s"] = float(summary.get("query_curation_s") or 0.0)
    for k, x in v.items():
        if not math.isfinite(x):
            raise ValueError(f"metric {k} is not finite: {x}")
    return {k: (v[k], MOVES[k][0]) for k in MOVES if k != "trace.overhead_s"}, by_layer
