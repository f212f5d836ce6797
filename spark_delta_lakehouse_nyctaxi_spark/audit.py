"""Audit & metrics persistence.

Reference parity:
- dq_metrics table: create-if-absent + one row per check per run
  (etl/dq_metrics.py:12-107)
- pipeline_runs audit log + lineage reconstruction
  (utils/audit.py:31-138, :177-226)
- PipelineMetrics run summary (utils/metrics.py:12-153)
- run-id generation run_YYYYmmdd_HHMMSS (etl/dq_metrics.py:146-153)

Tables are VersionedTable appends — tiny metadata rows, Spark-written
so the audit trail lives next to the data at any scale. Where the
reference commits one row at a time, a run here stages its rows in
memory and appends them with ONE commit per table per run
(:func:`run_scope`). The commit runs when the run ends, also when a
layer raised, so a failed run still records its ``failed`` row and
error next to every row staged before it.
"""

from __future__ import annotations

import json
import time
from contextlib import ExitStack, contextmanager
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .quality import CheckResult
from .sources.table import VersionedTable


def generate_run_id(now: float | None = None) -> str:
    dt = datetime.fromtimestamp(now or time.time(), tz=timezone.utc)
    return dt.strftime("run_%Y%m%d_%H%M%S")


class _Staged:
    """Audit sink whose rows a run stages and commits once.

    ``depth`` counts the :func:`run_scope` scopes open over the sink;
    the outermost one commits on exit."""

    depth = 0

    def commit(self) -> None:
        raise NotImplementedError

    def leave(self) -> None:
        self.depth -= 1
        if self.depth == 0:
            self.commit()


@contextmanager
def run_scope(*sinks: _Staged | None):
    """Stage the audit rows of the enclosed work and commit each sink
    once, when the outermost scope over it exits — whether the body
    returned or raised. A scope nested in another (a layer job inside
    ``run_pipeline``) only stages; a layer job called on its own is the
    outermost scope and commits its own rows. Every sink is committed
    even if another sink's commit raises."""
    live = [s for s in sinks if s is not None]
    for s in live:
        s.depth += 1
    with ExitStack() as stack:
        for s in reversed(live):
            stack.callback(s.leave)
        yield


class _StagedTable(_Staged):
    """An audit table: rows staged in memory, appended in one write."""

    SCHEMA = ""

    def __init__(self, spark: SparkSession, path: str):
        self.table = VersionedTable(spark, path)
        self.spark = spark
        self.pending: list[Row] = []

    def _append(self) -> None:
        if self.pending:
            df = self.spark.createDataFrame(self.pending, schema=self.SCHEMA)
            self.table.write(df, mode="append")
            self.pending = []  # only once durable: a failed append keeps them


class DQMetricsStore(_StagedTable):
    """Persist CheckResults, one row per check per run."""

    SCHEMA = (
        "run_id string, layer string, check_name string, description string, "
        "violation_count long, severity string, passed boolean, error string, "
        "check_ts double"
    )

    def stage(self, run_id: str, layer: str, results: list[CheckResult]) -> None:
        self.pending += [Row(**r.as_row(run_id, layer)) for r in results]

    def record(self) -> None:
        """Append the staged rows in one commit."""
        self._append()

    def commit(self) -> None:
        self.record()

    def latest_run(self) -> str | None:
        """Latest run_id by check timestamp (etl/dq_metrics.py:128-140)."""
        if not self.table.exists():
            return None
        row = (
            self.table.read()
            .orderBy(F.col("check_ts").desc())
            .limit(1)
            .select("run_id")
            .first()
        )
        return row.run_id if row else None

    def for_run(self, run_id: str) -> DataFrame:
        return self.table.read().filter(F.col("run_id") == run_id)


class AuditLog(_StagedTable):
    """pipeline_runs table (utils/audit.py:31-47 schema)."""

    SCHEMA = (
        "run_id string, job_name string, layer string, status string, "
        "start_time double, end_time double, duration_seconds double, "
        "initial_row_count long, final_row_count long, rows_filtered long, "
        "rows_deduplicated long, error_message string, metadata_json string, "
        "created_at double"
    )

    def stage(
        self,
        run_id: str,
        job_name: str,
        layer: str,
        status: str,
        start_time: float,
        end_time: float,
        initial_row_count: int | None = None,
        final_row_count: int | None = None,
        rows_filtered: int | None = None,
        rows_deduplicated: int | None = None,
        error_message: str | None = None,
        metadata: dict | None = None,
    ) -> None:
        self.pending.append(
            Row(
                run_id=run_id,
                job_name=job_name,
                layer=layer,
                status=status,
                start_time=float(start_time),
                end_time=float(end_time),
                duration_seconds=float(end_time - start_time),
                initial_row_count=initial_row_count,
                final_row_count=final_row_count,
                rows_filtered=rows_filtered,
                rows_deduplicated=rows_deduplicated,
                error_message=error_message,
                metadata_json=json.dumps(metadata or {}),
                created_at=time.time(),
            )
        )

    def log_run(self) -> None:
        """Append the staged run rows in one commit."""
        self._append()

    def commit(self) -> None:
        self.log_run()

    def recent_runs(self, limit: int = 10) -> DataFrame:
        return self.table.read().orderBy(F.col("start_time").desc()).limit(limit)

    def lineage(self, run_id: str) -> list[dict]:
        """Per-layer lineage for one run (utils/audit.py:177-226)."""
        rows = (
            self.table.read()
            .filter(F.col("run_id") == run_id)
            .orderBy("start_time")
            .collect()
        )
        return [
            {
                "layer": r.layer,
                "job_name": r.job_name,
                "status": r.status,
                "initial_row_count": r.initial_row_count,
                "final_row_count": r.final_row_count,
                "rows_filtered": r.rows_filtered,
                "rows_deduplicated": r.rows_deduplicated,
            }
            for r in rows
        ]


class PipelineMetrics(_Staged):
    """In-memory run metrics with JSON persistence
    (utils/metrics.py:12-153): one row per run, written by
    :meth:`save_metrics`."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        self.run_id: str | None = None
        self.start: float | None = None
        self.layers: dict[str, dict] = {}

    def start_run(self, run_id: str) -> None:
        self.run_id = run_id
        self.start = time.time()
        self.layers = {}

    def record_layer_metrics(self, layer: str, **metrics) -> None:
        self.layers[layer] = dict(metrics)

    def get_summary(self) -> dict:
        return {
            "run_id": self.run_id,
            "start_time": self.start,
            "duration_seconds": (time.time() - self.start) if self.start else None,
            "layers_processed": list(self.layers),
            "layers": self.layers,
        }

    def save_metrics(self) -> None:
        if not self.path:
            return
        summary = self.get_summary()
        row = Row(
            run_id=self.run_id,
            start_time=self.start,
            duration_seconds=summary["duration_seconds"],
            layers_processed=",".join(summary["layers_processed"]),
            metrics_json=json.dumps(self.layers),
            created_at=time.time(),
        )
        VersionedTable(self.spark, self.path).write(
            self.spark.createDataFrame([row]), mode="append"
        )

    def commit(self) -> None:
        self.save_metrics()
