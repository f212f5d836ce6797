"""Data-quality framework.

Reference parity: utils/data_quality.py —
DataQualityCheck (:12-83), DataQualityFramework registry/runner
(:86-267), default suite from config (:299-341) with range checks and
null checks; severity gating (etl/bronze_job.py:201-210).

Scale improvement over the reference (SURVEY.md §4 "inefficiencies"):
predicate-style checks are evaluated in ONE aggregate pass over the
data (sum of violation indicators), instead of one Spark job per check.
At 100 TB that is 1 scan instead of N. DataFrame-valued custom checks
(the reference's closure style) are still supported and run
individually.

The reference's `isnan` on non-float columns throws
(utils/data_quality.py:164) — guarded here by dtype (documented fix).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEVERITY_ERROR = "ERROR"
SEVERITY_WARNING = "WARNING"


@dataclass
class CheckResult:
    check_name: str
    description: str
    violation_count: int
    passed: bool
    severity: str
    error: Optional[str] = None
    timestamp: float = field(default_factory=time.time)

    def as_row(self, run_id: str, layer: str) -> dict:
        return {
            "run_id": run_id,
            "layer": layer,
            "check_name": self.check_name,
            "description": self.description,
            "violation_count": self.violation_count,
            "severity": self.severity,
            "passed": self.passed,
            "error": self.error,
            "check_ts": self.timestamp,
        }


@dataclass
class PredicateCheck:
    """A check whose violations are rows matching a Column predicate —
    fused into the single-pass aggregate."""

    name: str
    description: str
    violation: Column
    severity: str = SEVERITY_ERROR


@dataclass
class FrameCheck:
    """Reference-style check: a closure returning a violations DataFrame
    (utils/data_quality.py:19,39-83). Runs as its own job."""

    name: str
    description: str
    fn: Callable[[DataFrame], DataFrame]
    severity: str = SEVERITY_ERROR


def _is_float_type(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes).get(col) in ("float", "double")


class DataQualityFramework:
    def __init__(self) -> None:
        self.predicate_checks: list[PredicateCheck] = []
        self.frame_checks: list[FrameCheck] = []
        # (col, max_null_fraction, severity, check_nan) per null check
        self._null_checks: list[tuple[str, float, str, bool]] = []
        # (min_rows, severity) once a row-count check is added
        self._min_rows: tuple[int, str] | None = None
        # row count of the frame the last evaluation saw: a by-product of
        # the check aggregate, so callers need no count() job of their own
        self.rows_checked: int | None = None

    # ------------------------------------------------- registration

    def add_check(self, check: PredicateCheck | FrameCheck) -> None:
        if isinstance(check, PredicateCheck):
            self.predicate_checks.append(check)
        else:
            self.frame_checks.append(check)

    def add_range_check(
        self, col: str, min_value: float | None, max_value: float | None,
        severity: str = SEVERITY_ERROR,
    ) -> None:
        """Rows outside [min, max] are violations
        (utils/data_quality.py:194-223)."""
        cond = F.lit(False)
        if min_value is not None:
            cond = cond | (F.col(col) < min_value)
        if max_value is not None:
            cond = cond | (F.col(col) > max_value)
        self.add_check(
            PredicateCheck(
                name=f"range_{col}",
                description=f"{col} in [{min_value}, {max_value}]",
                violation=cond,
                severity=severity,
            )
        )

    def add_null_check(
        self, col: str, max_null_fraction: float = 0.0, severity: str = SEVERITY_ERROR,
        check_nan: bool = False,
    ) -> None:
        """Null (and optionally NaN, floats only — dtype-guarded unlike
        the reference) fraction must not exceed the threshold."""
        self._null_checks.append((col, max_null_fraction, severity, check_nan))

    def add_row_count_check(self, min_rows: int, severity: str = SEVERITY_ERROR) -> None:
        self._min_rows = (min_rows, severity)

    # --------------------------------------------------------- run

    def _agg_columns(self, df: DataFrame) -> list:
        """The one-pass metric expressions shared by run_all_checks
        (its own aggregate job) and attach_observation (riding an
        existing action)."""
        aggs = [F.count(F.lit(1)).alias("__total")]
        for c in self.predicate_checks:
            aggs.append(
                F.sum(F.when(c.violation, 1).otherwise(0)).cast("long").alias(f"pc_{c.name}")
            )
        for col, _, _, check_nan in self._null_checks:
            cond = F.col(col).isNull()
            if check_nan and _is_float_type(df, col):
                cond = cond | F.isnan(F.col(col))
            aggs.append(F.sum(cond.cast("long")).alias(f"nc_{col}"))
        return aggs

    def attach_observation(self, df: DataFrame, name: str):
        """Zero-extra-pass DQ: pin the check metrics to the plan with
        ``df.observe`` so they are computed DURING whatever action runs
        next (typically the table write) — no separate aggregate job,
        no second scan. Returns ``(observed_df, observation)``; after
        the action, feed the observation to
        :meth:`results_from_observation`.

        Use when DQ is metrics-only (fail_on_dq_errors=False). A
        blocking gate must still run BEFORE the write — you can't both
        skip the pre-pass and refuse to write bad data.

        (Frame checks join other tables and can't ride an observation;
        run_all_checks handles them.)"""
        from pyspark.sql import Observation

        obs = Observation(name)
        return df.observe(obs, *self._agg_columns(df)), obs

    def results_from_observation(self, obs) -> list[CheckResult]:
        """CheckResults from an Observation populated by the write
        action (blocks until that action has run)."""
        return self._results_from_row(dict(obs.get))

    def run_all_checks(self, df: DataFrame) -> list[CheckResult]:
        """Single-pass evaluation of all predicate/null/count checks,
        plus per-check jobs for frame checks."""
        row = df.agg(*self._agg_columns(df)).collect()[0].asDict()
        return self._results_from_row(row) + self._run_frame_checks(df)

    def _results_from_row(self, row: dict) -> list[CheckResult]:
        total = self.rows_checked = row["__total"]

        results: list[CheckResult] = []
        for c in self.predicate_checks:
            v = int(row[f"pc_{c.name}"] or 0)
            results.append(
                CheckResult(c.name, c.description, v, v == 0, c.severity)
            )
        for col, max_frac, severity, _ in self._null_checks:
            v = int(row[f"nc_{col}"] or 0)
            frac = (v / total) if total else 0.0
            results.append(
                CheckResult(
                    f"null_{col}",
                    f"null fraction of {col} <= {max_frac}",
                    v,
                    frac <= max_frac,
                    severity,
                )
            )
        if self._min_rows is not None:
            min_rows, severity = self._min_rows
            results.append(
                CheckResult(
                    "row_count",
                    f"row count >= {min_rows}",
                    max(0, min_rows - total),
                    total >= min_rows,
                    severity,
                )
            )
        return results

    def _run_frame_checks(self, df: DataFrame) -> list[CheckResult]:
        """All frame-check violation counts in ONE action: each check's
        frame collapses to a partial-aggregated count, unioned and
        collected together (vs one job per check in the reference,
        utils/data_quality.py:50-51). Falls back to per-check jobs only
        if the fused action fails, to attribute the error."""
        from functools import reduce

        results: list[CheckResult] = []
        buildable: list[tuple[int, FrameCheck, DataFrame]] = []
        for i, fc in enumerate(self.frame_checks):
            try:
                buildable.append((i, fc, fc.fn(df)))
            except Exception as e:  # reference records errors, not raises
                results.append(CheckResult(fc.name, fc.description, -1, False, fc.severity, str(e)))
        if not buildable:
            return results
        try:
            counts = reduce(
                DataFrame.unionAll,
                [
                    vdf.agg(F.count(F.lit(1)).cast("long").alias("v")).select(
                        F.lit(str(i)).alias("k"), "v"
                    )
                    for i, _, vdf in buildable
                ],
            )
            got = {r["k"]: int(r["v"]) for r in counts.collect()}
            for i, fc, _ in buildable:
                v = got[str(i)]
                results.append(CheckResult(fc.name, fc.description, v, v == 0, fc.severity))
        except Exception:
            for _, fc, vdf in buildable:
                try:
                    v = vdf.count()
                    results.append(CheckResult(fc.name, fc.description, v, v == 0, fc.severity))
                except Exception as e:
                    results.append(CheckResult(fc.name, fc.description, -1, False, fc.severity, str(e)))
        return results

    @staticmethod
    def has_blocking_failures(results: list[CheckResult]) -> bool:
        """Severity gate (etl/bronze_job.py:201-210)."""
        return any(not r.passed and r.severity == SEVERITY_ERROR for r in results)


def default_framework_from_config(dq_config: dict) -> DataQualityFramework:
    """Build the default suite from config
    (utils/data_quality.py:299-341, config/config.yaml:29-49)."""
    fw = DataQualityFramework()
    for rc in dq_config.get("range_checks", []):
        fw.add_range_check(
            rc["column"], rc.get("min"), rc.get("max"), rc.get("severity", SEVERITY_ERROR)
        )
    for nc in dq_config.get("null_checks", []):
        fw.add_null_check(
            nc["column"],
            nc.get("max_null_fraction", 0.0),
            nc.get("severity", SEVERITY_ERROR),
            nc.get("check_nan", False),
        )
    if "min_rows" in dq_config:
        fw.add_row_count_check(dq_config["min_rows"])
    return fw
