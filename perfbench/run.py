"""Lakehouse benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout: one Spark session on ``local[nproc]``,
one closed-loop client (the next op starts when the previous returns).
Inputs are generated from ``--seed``; outputs are checked against
DuckDB. ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones from spans and Spark's status store.
The last stdout line is the result; the line before it, and
``perfbench/.work/<workload>/result-<seed>-<trace>.json``, hold the full
record (host, seed, input hashes, workload metrics, check messages).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

PKG = "spark_delta_lakehouse_nyctaxi_spark"
E2E_UNITS = {"setup_s": "s", "op_s": "s", "op_cpu_s": "s"}


def program_available() -> bool:
    return os.path.isfile(os.path.join(ROOT, PKG, "__init__.py"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


# ------------------------------------------------------------ processes


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root_pid: int) -> float:
    """User+system CPU of this Python process plus ``root_pid`` (the
    driver JVM) and its live descendants (Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            st = _proc_stat(int(d))
        except OSError:
            continue
        parent[int(d)] = int(st[1])
        cpu[int(d)] = (int(st[11]) + int(st[12])) / tick
    total = 0.0
    for pid in cpu:
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += cpu[pid]
    t = os.times()
    return total + t.user + t.system


def peak_rss_mb(jvm_pid: int) -> float:
    """Driver JVM high-water RSS plus this process's, in MiB."""
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


# -------------------------------------------------------------- context


class Context:
    def __init__(self, args, spark, work, tracer):
        self.seed = args.seed
        self.sf = args.sf
        self.star_sf = args.star_sf
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def record_check(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        self.failed += not ok
        if not ok:
            self.messages.append(msg)


def start_spark(work: str, cores: int):
    from spark_delta_lakehouse_nyctaxi_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        f" -Dderby.system.home={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def host_record(spark, ambient, ticks0) -> dict:
    import duckdb
    import pyspark

    spark_cores = spark.sparkContext.defaultParallelism
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_cores": spark_cores,
        "oversubscribed": spark_cores > nproc(),
        "loadavg_ambient": ambient,
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_frac": steal / max(1, total),
        "commit": git_commit(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "note": "BENCH_r*.json files were measured on 32 cpus with bench.py; not comparable",
    }


# ----------------------------------------------------------------- main


def measure(ctx, wl, seconds: float, trace: bool, jvm_pid: int):
    """Closed loop: ops back to back for ``seconds`` (at least one op; no
    op starts when half of the last op's duration would overrun). A
    traced run makes at least two ops and traces only the even ones, so
    the tracing overhead can be read off within one process (a third op
    would put a traced lakehouse run near the 180 s limit per run)."""
    samples, traced, untraced = [], [], []
    t_end = time.perf_counter() + seconds
    last = 0.0
    i = 1
    while i <= wl.max_ops and (
        i == 1 or (trace and i == 2) or time.perf_counter() + last / 2 < t_end
    ):
        t_op = time.perf_counter()
        wl.prepare(i)
        on = trace and i % 2 == 0
        ctx.tracer.enabled = on
        ctx.tracer.op = i
        cpu0 = tree_cpu_s(jvm_pid)
        try:
            with ctx.tracer.span("bench.op", "bench"):
                s = wl.run(i)
        except Exception as e:  # a failed op is counted, the loop goes on
            ctx.tracer.enabled = False
            ctx.record_check(False, f"op {i}: {type(e).__name__}: {e}")
            i += 1
            continue
        s["cpu"] = tree_cpu_s(jvm_pid) - cpu0
        ctx.tracer.enabled = False
        try:
            checks = wl.check(i)
        except Exception as e:  # a check that cannot run fails the op
            checks = [(False, f"op {i} check: {type(e).__name__}: {e}")]
        ok = all(c for c, _ in checks)
        ctx.record_check(ok, "; ".join(m for c, m in checks if not c))
        samples.append(s)
        (traced if on else untraced).append(s["op"])
        last = time.perf_counter() - t_op
        i += 1
    return samples, traced, untraced


def main(argv=None) -> int:
    import workloads as W

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="orders scale factor (medallion, CDC)")
    ap.add_argument("--star-sf", type=float, default=0.01, help="star tables scale factor")
    args = ap.parse_args(argv)

    if not program_available():
        print(f"program package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import spans as T

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the variable would override spark.local.dir and put shuffle files outside the checkout
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM

    ambient = loadavg()
    ticks0 = cpu_ticks()
    cores = nproc()
    trace = bool(args.trace)
    spark = start_spark(work, cores)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    start_s = time.perf_counter() - T_START
    try:
        tracer = T.Tracer(spark)
        tracer.enabled = False
        ctx = Context(args, spark, work, tracer)
        wl = W.WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        if trace:
            import layers

            layers.install(tracer)
        samples, traced, untraced = measure(ctx, wl, args.seconds, trace, jvm_pid)
        tracer.uninstall()
        for ok, msg in wl.finish():
            ctx.record_check(ok, msg)
        summary = wl.summary(samples)
        rss = peak_rss_mb(jvm_pid)
        host = host_record(spark, ambient, ticks0)
        if trace:
            job_rows, stage_rows = T.status_store_rows(spark)
    finally:
        stop_spark(spark)

    ops = [s["op"] for s in samples]
    values = {
        "setup_s": setup_s,
        "op_s": W.median(ops),
        "op_cpu_s": W.median([s["cpu"] for s in samples]),
        "peak_rss_mb": rss,
    }
    metrics = {k: (values[k], u) for k, u in E2E_UNITS.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input_hash": wl.inputs.get("hash"),
        "host": host,
        "setup_phases": {"start_s": start_s, "workload_s": setup_s - start_s},
        "ops": len(samples),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "ops_failed_frac": ctx.failed / max(1, ctx.attempted),
        "workload_metrics": summary,
        "end_to_end": values,
        "failures": ctx.messages[:20],
    }
    if trace:
        import layers

        tracer.dump(os.path.join(work, "spans.jsonl"))
        jobs, stages = T.attribute(job_rows, stage_rows)
        per_layer, self_s = layers.per_layer(tracer.spans, tracer.counters, jobs, stages, summary, cores)
        over = W.median(traced) - W.median(untraced) if traced and untraced else 0.0
        per_layer["trace.overhead_s"] = (over, "s")
        record["layer_self_s"] = self_s
        record["traced_op_s"] = W.median(traced)
        record["untraced_op_s"] = W.median(untraced)
        metrics = per_layer
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    W.dump(record, os.path.join(work, f"result-{args.seed}-{args.trace}.json"))
    correct = ctx.failed == 0 and bool(samples)
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, ctx.attempted),
                "failed": ctx.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
