"""Per-stage wall-clock profiler for registry queries (optimization round).

Runs one or more queries exactly the way bench.py does (warmup noop over
every input table + one untimed run per query, clearCache between timed
runs), with the Spark event log enabled, then replays the log and prints
per-job / per-stage wall time, task counts and shuffle bytes — the
"which stage is the time going to" answer the Spark UI would give
(guide §1.1/§7.1), without a UI.

Usage: python tools/profile_query.py q_training_pipeline [more names...]
         [--sf /root/testdata/sf0.1] [--runs 1]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_delta_lakehouse_nyctaxi_spark.queries import REGISTRY
from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

EVDIR = "/tmp/spark-graft-eventlog"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from spark_delta_lakehouse_nyctaxi_spark.sources.readers import TABLES, load_table

    for t in TABLES:
        load_table(spark, args.sf, t).write.format("noop").mode("overwrite").save()
    for name in args.names:
        REGISTRY[name].fn(spark, args.sf).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    for name in args.names:
        for r in range(args.runs):
            spark.sparkContext.setJobDescription(f"TIMED::{name}::run{r}")
            t0 = time.time()
            REGISTRY[name].fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            print(f"== {name} run{r}: {time.time() - t0:.3f}s wall")
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- replay the event log ------------------------------------------
    path = None
    for p in glob.glob(os.path.join(EVDIR, "*")):
        if app_id in p:
            path = p
    assert path, f"no event log for {app_id}"
    if os.path.isdir(path):
        # rolling event log (eventlog_v2 dir): concatenate its parts
        parts = sorted(
            p for p in glob.glob(os.path.join(path, "*")) if "appstatus" not in p
        )
        lines = [ln for p in parts for ln in open(p)]
    else:
        lines = list(open(path))
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except Exception:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            desc = ev.get("Properties", {}).get("spark.job.description", "")
            jobs[jid] = {
                "desc": desc,
                "t0": ev["Submission Time"],
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
            }
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["t1"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
            stages[sid] = {
                # the event-log key is "Stage Name" (not "Name")
                "name": si.get("Stage Name", si.get("Name", "")),
                "tasks": si.get("Number of Tasks"),
                "ms": (si.get("Completion Time", 0) - si.get("Submission Time", 0))
                if si.get("Submission Time")
                else None,
                "shuffle_write": acc.get("internal.metrics.shuffleWriteMetrics.bytesWritten"),
                "shuffle_read": acc.get("internal.metrics.shuffleReadMetrics.remoteBytesRead"),
                "input": acc.get("internal.metrics.input.bytesRead"),
                "exec_run_ms": acc.get("internal.metrics.executorRunTime"),
                "exec_cpu_ns": acc.get("internal.metrics.executorCpuTime"),
                "gc_ms": acc.get("internal.metrics.jvmGCTime"),
            }

    for jid in sorted(jobs):
        j = jobs[jid]
        if not j["desc"].startswith("TIMED::"):
            continue
        dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
        print(f"\nJOB {jid}  {dur:7.3f}s  {j['desc']}")
        for sid in sorted(j["stages"]):
            s = stages.get(sid)
            if not s:
                continue  # skipped stage (reused exchange)
            ms = s["ms"] or 0
            cpu = (s["exec_cpu_ns"] or 0) / 1e9
            run = (s["exec_run_ms"] or 0) / 1e3
            gc = (s["gc_ms"] or 0) / 1e3
            print(
                f"  stage {sid:4d} {ms/1000.0:7.3f}s wall  tasks={s['tasks']:<4d}"
                f" run={run:7.2f}s cpu={cpu:7.2f}s gc={gc:5.2f}s"
                f" in={(s['input'] or 0)>>20}MB sw={(s['shuffle_write'] or 0)>>10}KB"
                f"  {s['name'][:70]}"
            )


if __name__ == "__main__":
    main()
