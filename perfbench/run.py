"""Benchmark of the cdc_2025_spark engine: one command, two workloads.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload star_dashboard --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run records
spans and Spark execution counters and reports the per-layer ones.
A human-readable report (including every failed operation and why) goes
to standard error. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import numpy as np  # noqa: E402

WORKLOAD_NAMES = ("star_dashboard", "cdc_ingest")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

QUERY_MODULES = ("relational", "tpch", "windows", "analytics", "resilience_star",
                 "dedup", "text", "multimodal")
EXEC_MEANS = ("jobs", "stages", "skipped_stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "engine.call_s": "s",
    "engine.call_jobs": "count",
    "engine.action_s": "s",
    **{f"exec.{k}": ("s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count")
       for k in EXEC_MEANS},
    "exec.gc_ratio": "ratio",
    "exec.core_busy_ratio": "ratio",
    "exec.cpu_ratio": "ratio",
    "cache.stage_skip_ratio": "ratio",
    "cache.persisted_mb": "MB",
    **{f"queries.{m}.{k}": u for m in QUERY_MODULES
       for k, u in (("ops_per_s", "1/s"), ("plan_share", "ratio"), ("plan_jobs", "count"))},
    "streaming.cdc.changes_per_s": "1/s",
    "streaming.cdc.ingest_changes_per_s": "1/s",
    "streaming.cdc.write_amp": "ratio",
    "streaming.cdc.snapshot_mb": "MB",
    "versioned.sink_changes_per_s": "1/s",
    "versioned.reads_per_s": "1/s",
    "versioned.dirs_scanned_ratio": "ratio",
    "versioned.optimize_mb_per_s": "MB/s",
    "versioned.vacuum_dirs_removed": "count",
    "versioned.table_mb": "MB",
    "versioned.space_amp": "ratio",
    "io.snapshot_reads_per_s": "1/s",
    **{f"multimodal.decode_{c}_mb_per_s": "MB/s" for c in ("bmp", "png")},
    "trace.overhead_s": "s",
}


class Context:
    """Run-wide state handed to the workload."""

    def __init__(self, seed: int, work: str, trace: bool):
        self.seed = seed
        self.work = work
        self.trace = trace
        self.spark = None
        self.tracer = None
        self.excluded_s = 0.0

    @contextmanager
    def untimed(self):
        """Benchmark-side work (input generation, oracle checks) that
        set-up time must not include."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, but never below p90 — a run of fewer than 100
    operations reports p90. It is estimated median-unbiased (Hyndman and
    Fan's type 8), interpolating between neighbouring samples: over ten
    seeds of the dashboard's 24 ops on a 4-vCPU VM, the nearest-rank p90
    (the single third-slowest op) spread 0.20-0.22 of its median, this
    0.13-0.14."""
    pct = max(90.0, 100.0 * (len(values) - 10) / len(values))
    return float(np.percentile(values, pct, method="median_unbiased")), pct


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far: steal is time the
    hypervisor gave the machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every process the
    run started (JVM, Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    procs = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def per_layer(records, tracer, layers: dict, **session) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never called reads 0."""
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    traced = [r for r in records if r.exec]
    n = max(1, len(traced))
    tot = {k: sum(r.exec[k] for r in traced) for k in
           ("stages", "skipped_stages", "task_run_s", "task_cpu_s", "gc_s")}
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    metrics.update({
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        "engine.call_s": statistics.median(r.call_s for r in records),
        "engine.call_jobs": sum(r.call_exec["jobs"] for r in traced) / n,
        "engine.action_s": statistics.median(
            [r.action_s for r in records if r.action_s is not None] or [0.0]),
        **{f"exec.{k}": sum(r.exec[k] for r in traced) / n for k in EXEC_MEANS},
        "exec.gc_ratio": tot["gc_s"] / max(tot["task_run_s"], 1e-9),
        "exec.core_busy_ratio": tot["task_run_s"] / max(sum(r.latency_s for r in traced) * cores,
                                                        1e-9),
        "exec.cpu_ratio": tot["task_cpu_s"] / max(tot["task_run_s"], 1e-9),
        "cache.stage_skip_ratio": tot["skipped_stages"] / max(tot["stages"], 1),
        "cache.persisted_mb": session["persisted_mb"],
        "trace.overhead_s": tracer.overhead_s / len(records),
    })
    metrics.update({k: v for k, v in layers.items() if k in PER_LAYER})
    return metrics


def run(args, root: str, work: str) -> dict:
    from perfbench.trace import MemorySampler, Tracer
    from perfbench.workloads import WORKLOADS

    steal0, total0 = cpu_ticks()
    ctx = Context(args.seed, work, bool(args.trace))
    wl = WORKLOADS[args.workload](ctx)
    with ctx.untimed():
        wl.generate()

    with MemorySampler() as mem:
        from cdc_2025_spark import get_spark

        ctx.spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # a fixed initial heap: left to grow from 1/64 of RAM, the
                # JVM's heap expansions made peak RSS vary by up to 70 %
                # between runs of the same workload
                "spark.driver.extraJavaOptions":
                    f"-Xms1g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        ctx.spark.sparkContext.setLogLevel("ERROR")
        try:
            ctx.tracer = Tracer(ctx.spark, ctx.trace)
            t_session = time.perf_counter()
            start_s = t_session - T_START - ctx.excluded_s
            excluded_before = ctx.excluded_s
            warm = wl.warmup()
            t_ready = time.perf_counter()
            warmup_s = t_ready - t_session - (ctx.excluded_s - excluded_before)
            setup_s = t_ready - T_START - ctx.excluded_s

            records, measured, i = [], 0.0, 0
            while measured < args.seconds or i % wl.deck_len or i < wl.MIN_ROUNDS * wl.deck_len:
                rec = wl.next_op(i)
                i += 1
                measured += rec.latency_s
                records.append(rec)
                if ctx.trace and rec.call_groups:
                    rec.call_exec = ctx.tracer.exec_counters(rec.call_groups)
                    rest = ctx.tracer.exec_counters(rec.action_groups)
                    rec.exec = {k: v + rest[k] for k, v in rec.call_exec.items()}
                    if not rec.exec["jobs"]:
                        rec.fail("no Spark job found in the op's job groups")
            t_loop = time.perf_counter()
            persisted = ctx.tracer.persisted_mb() if ctx.trace else 0.0
            wl.finish(records)
            layers = wl.layer_metrics(records) if ctx.trace else {}
            peak_rss_mb = mem.peak_kb / 1024
            if ctx.trace:
                ctx.tracer.write(os.path.join(
                    root, ".perfbench", f"trace-{args.workload}-{args.seed}.jsonl"))
            t_finish = time.perf_counter()
        finally:
            stop_spark(ctx.spark)
    t_stop = time.perf_counter()
    steal1, total1 = cpu_ticks()

    # warm-up ops are checked like measured ones and count as attempted
    failed = [r for r in warm + records if not r.ok]
    lat = [r.latency_s for r in records]
    tail_s, tail_pct = tail(lat)
    report = {
        "workload": args.workload, "seed": args.seed, "ops": len(records),
        "warmup_ops": len(warm), "measured_s": measured,
        "failed_ratio": len(failed) / (len(warm) + len(records)),
        "op_tail_percentile": tail_pct, "op_tail_samples": len(lat),
        "latencies": [round(x, 4) for x in lat],
        "p50_by_kind": {k: statistics.median(r.latency_s for r in records if r.kind == k)
                        for k in sorted({r.kind for r in records})},
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "wall_s": {"to_session": t_session - T_START, "to_ready": t_ready - T_START,
                   "excluded": ctx.excluded_s, "loop": t_loop - t_ready,
                   "finish": t_finish - t_loop, "stop": t_stop - t_finish},
        "warmup_by_kind": wl.warm_times,
    }
    if ctx.trace:
        metrics = per_layer(records, ctx.tracer, layers, start_s=start_s,
                            warmup_s=warmup_s, persisted_mb=persisted)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": len(records) / measured,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END
    print(json.dumps(report, sort_keys=True), file=sys.stderr)
    for r in failed:
        print(f"FAILED {r.kind}: {r.reason}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:42s} {v:14.6g} {units[k]}", file=sys.stderr)
    return {
        "correct": not failed,
        "attempted": len(warm) + len(records),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cdc_2025_spark", "__init__.py")):
        print("perfbench: no cdc_2025_spark package here; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers must import the engine; every scratch file
    # of the run stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, root)
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
