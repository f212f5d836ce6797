"""Span recorder and Spark event-log attribution for the traced run.

Spans are opened around calls into the program's public functions by
wrappers installed from this file (nothing in the program changes).
Each span records name, layer, start, end, parent and the op it belongs
to; spans are kept in memory and written out once at exit.

While a span is open, Spark jobs submitted from the driver thread carry
the span's id as their job description, so the driver's status store
can be read afterwards and every job and stage attributed to the
innermost span that was open when it started (the attribution
``tools/profile_query.py`` makes from an event log).
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass

TAG = "pbspan:"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op: int | None
    t0: float
    t1: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Keeps spans in memory; ``span`` is a context manager and
    ``install`` wraps program functions so each call opens one."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.counters: dict[str, float] = {}
        self.op: int | None = None
        self.enabled = True

    def _tag(self, span: Span | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(f"{TAG}{span.id}" if span else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.id if parent else None, self.op, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def wrap(self, fn, name: str, layer: str, count=None):
        """``fn`` inside a span; ``count(first_arg)`` (optional) returns
        counter increments read off the call's receiver afterwards."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                out = fn(*args, **kwargs)
            if count is not None and self.enabled:
                for k, x in count(args[0]).items():
                    self.counters[k] = self.counters.get(k, 0) + x
            return out

        return traced

    def install(self, owner, attr: str, name: str, layer: str, count=None) -> None:
        """Wrap ``owner.attr``. For a module-level function every module of
        the program that imported it by name is patched too, since those
        call sites look the name up in their own globals."""
        orig = getattr(owner, attr)
        traced = self.wrap(orig, name, layer, count)
        targets = [owner]
        if not isinstance(owner, type):
            pkg = owner.__name__.split(".")[0]
            targets += [
                m
                for n, m in list(sys.modules.items())
                if m is not None and n.split(".")[0] == pkg and m is not owner
                and m.__dict__.get(attr) is orig
            ]
        for t in targets:
            self._patches.append((t, attr, orig))
            setattr(t, attr, traced)

    def uninstall(self) -> None:
        for t, attr, orig in reversed(self._patches):
            setattr(t, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------------------ arithmetic


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    that its child spans cover (children are clipped to the parent and
    overlapping children are merged, so the result is never negative)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(s.id, []))
        out[s.id] = s.dur - covered(ivs)
    return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ------------------------------------------------- job/stage attribution


@dataclass
class StageStats:
    span: int | None
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0


def span_of(description: str | None) -> int | None:
    desc = description or ""
    return int(desc[len(TAG):]) if desc.startswith(TAG) else None


def _opt(o):
    return o.get() if o.isDefined() else None


def status_store_rows(spark) -> tuple[list[dict], list[dict]]:
    """Jobs and completed stages from the driver's status store — the
    store behind the Spark UI, kept even with the UI off — as plain
    dicts. Reading it at the end of a run costs nothing while the run is
    measured, unlike an event log, which renders every adaptive plan
    update and measured 50-100% slower query passes."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs, stages = [], []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        t0, t1 = _opt(j.submissionTime()), _opt(j.completionTime())
        jobs.append(
            {
                "job": j.jobId(),
                "description": _opt(j.description()),
                "t0": t0.getTime() / 1e3 if t0 else None,
                "t1": t1.getTime() / 1e3 if t1 else None,
            }
        )
    seq = store.stageList(
        None, False, False, getattr(store, "stageList$default$4")(), None
    )
    for i in range(seq.size()):
        st = seq.apply(i)
        if st.status().toString() != "COMPLETE":
            continue
        stages.append(
            {
                "stage": (st.stageId(), st.attemptId()),
                "description": _opt(st.description()),
                "tasks": st.numTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ns": st.executorCpuTime(),
                "gc_ms": st.jvmGcTime(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "input_bytes": st.inputBytes(),
            }
        )
    return jobs, stages


def attribute(job_rows: list[dict], stage_rows: list[dict]):
    """Return ``(jobs, stages)``: finished jobs as ``{job_id: (span, t0,
    t1)}`` in epoch seconds and completed stages as ``StageStats``, each
    tagged with the span that was innermost when it was submitted."""
    jobs = {
        r["job"]: (span_of(r["description"]), r["t0"], r["t1"])
        for r in job_rows
        if r["t0"] is not None and r["t1"] is not None
    }
    stages = {
        r["stage"]: StageStats(
            span=span_of(r["description"]),
            tasks=r["tasks"],
            run_s=r["run_ms"] / 1e3,
            cpu_s=r["cpu_ns"] / 1e9,
            gc_s=r["gc_ms"] / 1e3,
            shuffle_write_bytes=r["shuffle_write_bytes"],
            input_bytes=r["input_bytes"],
        )
        for r in stage_rows
    }
    return jobs, stages
