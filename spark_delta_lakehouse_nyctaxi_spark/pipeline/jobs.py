"""Medallion (bronze → silver → gold) ETL jobs over the star schema.

Reference parity — same step contracts and metadata-dict returns:
- bronze (etl/bronze_job.py:113-265): scan → add ingestion metadata →
  optional partition-column derivation → schema validation (extra
  columns allowed) → DQ gate → versioned write → read-back verification
- silver (etl/silver_job.py:249-381): casts → filters → dedup →
  strict schema → DQ gate → write
- gold (etl/gold_job.py:191-330): one silver scan fans out to two
  aggregate tables (daily KPIs + segment demand); the silver frame is
  persisted so it is scanned ONCE (fixes the reference's double scan,
  SURVEY.md §4)

Scale notes: no layer re-counts what it just wrote. Bronze's input count
is the DQ aggregate's row total (the gate pass, or the observation that
rides the write); every other count is the snapshot row count the
version log records from parquet footers at commit (``detail()``), which
verifies the write exactly as the reference's read-back ``count()`` did,
without its job. Gold's one ``count()`` fills the cache both gold writes
read. Audit rows are staged and committed once per table per run
(``audit.run_scope``). Writes partition by the configured column so
downstream date filters prune.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..audit import AuditLog, DQMetricsStore, PipelineMetrics, generate_run_id, run_scope
from ..quality import DataQualityFramework, default_framework_from_config
from ..schemas import enforce_schema, orders_silver_schema, validate_schema
from ..sources.table import VersionedTable


def add_metadata_columns(df: DataFrame, source_file: str | None = None) -> DataFrame:
    """P1 (etl/bronze_job.py:41-57): ingestion_ts + source_file."""
    src = F.input_file_name() if source_file is None else F.lit(source_file)
    return df.withColumn("ingestion_ts", F.current_timestamp()).withColumn("source_file", src)


def _dq_gate(
    fw: DataQualityFramework,
    df: DataFrame,
    run_id: str,
    layer: str,
    dq_store: DQMetricsStore | None,
    fail_on_errors: bool,
) -> None:
    results = fw.run_all_checks(df)
    if dq_store is not None:
        dq_store.stage(run_id, layer, results)
    if fail_on_errors and DataQualityFramework.has_blocking_failures(results):
        failed = [r.check_name for r in results if not r.passed]
        raise RuntimeError(f"{layer}: blocking DQ failures: {failed}")


def _dq_gate_or_observe(fw, df, run_id, layer, dq_store, fail_on_errors):
    """DQ with the minimum number of passes for the chosen semantics.

    - Blocking gate (fail_on_dq_errors=True): checks MUST run before
      the write (bad data may not land) → dedicated aggregate pass,
      exactly as the reference gates (etl/silver_job.py:340-349).
    - Metrics-only (False): the same check expressions ride the write
      action itself via ``df.observe`` — zero extra scans, where the
      reference burned a full count()-per-check pass even when it
      wasn't going to fail the job.

    Returns ``(df_to_write, finalize)``; call ``finalize()`` after the
    write action to stage the metrics (already staged on the blocking
    path). It returns the row count the checks saw.
    """
    import uuid as _uuid

    if fail_on_errors:
        _dq_gate(fw, df, run_id, layer, dq_store, True)
        return df, lambda: fw.rows_checked

    obs_df, obs = fw.attach_observation(df, f"dq_{layer}_{_uuid.uuid4().hex[:8]}")

    def finalize():
        results = fw.results_from_observation(obs) + fw._run_frame_checks(df)
        if dq_store is not None:
            dq_store.stage(run_id, layer, results)
        return fw.rows_checked

    return obs_df, finalize


def _num_rows(table: VersionedTable) -> int:
    """Snapshot row count from the table's version log; a count job only
    when the log cannot tell (merge-on-read deletes pending, or units
    older than recorded counts)."""
    n = table.detail()["num_rows"]
    return n if n is not None else table.read().count()


@contextmanager
def _layer_run(run_id: str, layer: str, dq_store, audit):
    """Audit scope of one layer job. Stages the layer's run row:
    ``completed`` with the counts the body puts in the yielded dict, or
    ``failed`` with the error when the body raises. The layer's rows are
    committed on exit unless an enclosing run (``run_pipeline``) owns
    the commit."""
    start = time.time()
    counts: dict = {}
    with run_scope(dq_store, audit):
        try:
            yield counts
        except Exception as e:
            if audit is not None:
                audit.stage(
                    run_id, f"{layer}_job", layer, "failed", start, time.time(),
                    error_message=f"{type(e).__name__}: {e}",
                )
            raise
        if audit is not None:
            audit.stage(run_id, f"{layer}_job", layer, "completed", start, time.time(), **counts)


def run_bronze_job(
    spark: SparkSession,
    config: dict,
    run_id: str | None = None,
    dq_store: DQMetricsStore | None = None,
    audit: AuditLog | None = None,
) -> dict:
    run_id = run_id or generate_run_id()
    with _layer_run(run_id, "bronze", dq_store, audit) as counts:
        src = config["source"]
        df = (
            spark.read.parquet(src["path"])
            if src.get("format", "parquet") == "parquet"
            else spark.read.option("header", "true").option("inferSchema", "true").csv(src["path"])
        )
        df = add_metadata_columns(df, source_file=src["path"])

        part = config.get("partitioning", {})
        partition_by = None
        if part.get("enabled"):
            col = part.get("column", "order_date")
            if col not in df.columns:
                df = df.withColumn(col, F.to_date("o_orderdate"))
            partition_by = [col]

        fw = default_framework_from_config(config.get("data_quality", {}).get("bronze", {}))
        df, dq_finalize = _dq_gate_or_observe(
            fw, df, run_id, "bronze", dq_store, config.get("fail_on_dq_errors", True)
        )

        table = VersionedTable(spark, config["paths"]["bronze"])
        table.write(df, mode="overwrite", partition_by=partition_by, operation="BRONZE_WRITE")
        # the input count is the DQ aggregate's row total (observed during
        # the write on the metrics-only path: no extra pass)
        initial = dq_finalize()
        # read-back verification (etl/bronze_job.py:247-250) from the
        # footer row counts the commit recorded
        final = _num_rows(table)
        counts.update(initial_row_count=initial, final_row_count=final)

    return {
        "job": "bronze",
        "run_id": run_id,
        "status": "completed",
        "initial_row_count": initial,
        "final_row_count": final,
    }


def silver_transform(bronze: DataFrame, config: dict) -> DataFrame:
    """The pure silver transform: casts + canonical lowercase names +
    derived date (silver_job.py:38-110), conjunctive filters
    (silver_job.py:113-168), deterministic dedup (silver_job.py:171-212
    per SURVEY.md §7.4), schema enforcement. Shared by the silver job
    and the q_silver_pipeline oracle query."""
    df = bronze.withColumn("order_date", F.to_date("o_orderdate"))
    df = df.withColumn("o_orderstatus", F.lower(F.trim("o_orderstatus")))

    flt = config.get("filters", {})
    cond = (
        F.col("o_orderkey").isNotNull()
        & F.col("o_orderdate").isNotNull()
        & (F.col("o_totalprice") >= flt.get("min_total_price", 0.0))
    )
    df = df.filter(cond)

    dd = config.get("deduplication", {})
    if dd.get("enabled", True):
        keys = dd.get("columns", ["o_orderkey"])
        tie = dd.get("tiebreaker", "o_orderdate")
        w = Window.partitionBy(*keys).orderBy(tie)
        df = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

    out, _warnings = enforce_schema(df, orders_silver_schema())
    return out


def run_silver_job(
    spark: SparkSession,
    config: dict,
    run_id: str | None = None,
    dq_store: DQMetricsStore | None = None,
    audit: AuditLog | None = None,
) -> dict:
    run_id = run_id or generate_run_id()
    with _layer_run(run_id, "silver", dq_store, audit) as counts:
        t_bronze = VersionedTable(spark, config["paths"]["bronze"])
        bronze = t_bronze.read()
        initial = _num_rows(t_bronze)

        df = silver_transform(bronze, config)
        warnings: list[str] = []
        ok, errors = validate_schema(df.schema, orders_silver_schema(), allow_extra_columns=False)
        if not ok:
            raise RuntimeError(f"silver schema invalid: {errors}")

        fw = default_framework_from_config(config.get("data_quality", {}).get("silver", {}))
        df, dq_finalize = _dq_gate_or_observe(
            fw, df, run_id, "silver", dq_store, config.get("fail_on_dq_errors", True)
        )

        table = VersionedTable(spark, config["paths"]["silver"])
        part = config.get("partitioning", {})
        partition_by = [part.get("column", "order_date")] if part.get("enabled") else None
        table.write(df, mode="overwrite", partition_by=partition_by, operation="SILVER_WRITE")
        dq_finalize()  # metrics observed during the write action (no extra pass)
        final = _num_rows(table)
        counts.update(
            initial_row_count=initial, final_row_count=final, rows_filtered=initial - final
        )

    return {
        "job": "silver",
        "run_id": run_id,
        "status": "completed",
        "initial_row_count": initial,
        "final_row_count": final,
        "rows_removed": initial - final,
        "schema_warnings": warnings,
    }


def run_gold_job(
    spark: SparkSession,
    config: dict,
    run_id: str | None = None,
    dq_store: DQMetricsStore | None = None,
    audit: AuditLog | None = None,
) -> dict:
    run_id = run_id or generate_run_id()
    with _layer_run(run_id, "gold", dq_store, audit) as counts:
        silver = VersionedTable(spark, config["paths"]["silver"]).read().persist()
        try:
            n_silver = silver.count()  # fills the cache both gold writes read

            dsum = lambda c: F.sum(F.col(c).cast("decimal(22,2)")).cast("double")  # noqa: E731
            daily = (
                silver.groupBy("order_date")
                .agg(
                    F.count("*").alias("daily_order_count"),
                    F.round(dsum("o_totalprice"), 2).alias("daily_total_revenue"),
                    F.round(dsum("o_totalprice") / F.count("*"), 2).alias("avg_order_value"),
                )
                .orderBy("order_date")
            )
            segment = (
                silver.groupBy("order_date", "o_orderpriority")
                .agg(
                    F.count("*").alias("order_count"),
                    F.round(dsum("o_totalprice"), 2).alias("total_revenue"),
                )
                .orderBy("order_date", "o_orderpriority")
            )

            t_daily = VersionedTable(spark, config["paths"]["gold_daily_kpis"])
            t_daily.write(daily, mode="overwrite", operation="GOLD_WRITE")
            t_seg = VersionedTable(spark, config["paths"]["gold_segment_demand"])
            t_seg.write(segment, mode="overwrite", operation="GOLD_WRITE")

            if config.get("optimize_after_write"):
                t_daily.compact()
                t_seg.compact()

            n_daily = _num_rows(t_daily)
            n_seg = _num_rows(t_seg)
        finally:
            silver.unpersist()
        counts.update(initial_row_count=n_silver, final_row_count=n_daily + n_seg)

    return {
        "job": "gold",
        "run_id": run_id,
        "status": "completed",
        "silver_row_count": n_silver,
        "daily_kpis_rows": n_daily,
        "segment_demand_rows": n_seg,
    }


def run_pipeline(
    spark: SparkSession, config: dict, use_dag: bool = False, run_id: str | None = None
) -> dict:
    """bronze → silver → gold, sequential (main.py:113-132) or via the
    DAG runner with retries (main.py:104-110). The run owns the audit
    commit: one append each to dq_metrics, pipeline_runs and
    pipeline_metrics when it ends, also when a layer raised."""
    run_id = run_id or generate_run_id()
    dq_store = DQMetricsStore(spark, config["paths"]["dq_metrics"])
    audit = AuditLog(spark, config["paths"]["pipeline_runs"])
    metrics = PipelineMetrics(spark, config["paths"].get("pipeline_metrics"))
    metrics.start_run(run_id)

    def bronze():
        m = run_bronze_job(spark, config, run_id, dq_store, audit)
        metrics.record_layer_metrics("bronze", **{k: v for k, v in m.items() if k != "job"})
        return m

    def silver():
        m = run_silver_job(spark, config, run_id, dq_store, audit)
        metrics.record_layer_metrics(
            "silver", **{k: v for k, v in m.items() if k not in ("job", "schema_warnings")}
        )
        return m

    def gold():
        m = run_gold_job(spark, config, run_id, dq_store, audit)
        metrics.record_layer_metrics("gold", **{k: v for k, v in m.items() if k != "job"})
        return m

    with run_scope(dq_store, audit, metrics):
        if use_dag:
            from ..orchestration import DAG, Task

            dag = DAG("star_pipeline")
            dag.add_task(Task("bronze", bronze, retries=1))
            dag.add_task(Task("silver", silver, depends_on=["bronze"], retries=1))
            dag.add_task(Task("gold", gold, depends_on=["silver"], retries=1))
            summary = dag.execute()
        else:
            bronze()
            silver()
            gold()
            summary = {"success": True, "tasks": {"bronze": "success", "silver": "success", "gold": "success"}}

    summary["run_id"] = run_id
    summary["metrics"] = metrics.get_summary()
    return summary
