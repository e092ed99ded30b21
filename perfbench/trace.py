"""Spans, Spark execution counters and process memory for the benchmark.

``Tracer`` keeps spans in memory (name, layer, op id, start, end; the
spans of one operation share its op id) and writes them out once, when
the run ends. With tracing off every
call is a no-op, so the untraced run pays nothing for it.

Execution counters come from Spark's own status store, read from
outside the engine: each traced operation runs its phases under a job
group, and afterwards the jobs of that group and the last attempt of
each of their stages are read back. This works with the UI disabled.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

EXEC_FIELDS = (
    "jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
    "task_run_s", "task_cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.store = self.sc._jsc.sc().statusStore() if enabled else None
        self.spans: list[dict] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Record one span; with ``op`` set, the Spark jobs started
        inside it are tagged with a job group named after the span."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {"name": name, "layer": name.rsplit(".", 1)[0], "op": op, **attrs}
        self.spans.append(rec)
        group = None
        if op is not None:
            group = f"op{op}:{name}"
            self.sc.setJobGroup(group, group)
        t1 = time.perf_counter()
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            rec["start"], rec["end"] = t1, t2
            if group is not None:
                rec["group"] = group
                self.sc.setJobGroup("idle", "idle")
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def exec_counters(self, groups, timeout_s: float = 2.0) -> dict:
        """Sum the status-store counters of every job in ``groups``.
        Waits (bounded) for the listener bus to mark each job done, so
        the last stage's task metrics are in."""
        t0 = time.perf_counter()
        out = dict.fromkeys(EXEC_FIELDS, 0.0)
        tracker = self.sc.statusTracker()
        for group in groups:
            for jid in tracker.getJobIdsForGroup(group):
                job = self.store.job(jid)
                deadline = time.perf_counter() + timeout_s
                while job.status().toString() == "RUNNING" and time.perf_counter() < deadline:
                    time.sleep(0.01)
                    job = self.store.job(jid)
                out["jobs"] += 1
                out["failed_tasks"] += job.numFailedTasks()
                sids = job.stageIds()
                for i in range(sids.size()):
                    st = self.store.lastStageAttempt(sids.apply(i))
                    out["stages"] += 1
                    if st.status().toString() == "SKIPPED":
                        out["skipped_stages"] += 1
                        continue
                    out["tasks"] += st.numTasks()
                    out["task_run_s"] += st.executorRunTime() / 1e3
                    out["task_cpu_s"] += st.executorCpuTime() / 1e9
                    out["gc_s"] += st.jvmGcTime() / 1e3
                    out["input_bytes"] += st.inputBytes()
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self.overhead_s += time.perf_counter() - t0
        return out

    def persisted_mb(self) -> float:
        """Memory plus disk held by persisted RDDs and cached tables."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=float) + "\n")


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                kids.setdefault(int(stat[stat.rindex(")") + 2:].split()[1]), []).append(int(name))
            except (OSError, ValueError, IndexError):
                continue
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_kb(root: int) -> int:
    """Resident set of ``root`` and its descendants, in KiB."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE_KB
        except (OSError, ValueError, IndexError):
            continue
    return total


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class MemorySampler:
    """Background sampler of the process tree's peak resident set (this
    process, the Spark JVM and its Python workers)."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        prev = 0
        while not self._stop.is_set():
            cur = tree_rss_kb(me)
            # only a level held over two samples counts: the JVM spawns
            # helpers (chmod, readlink) whose child briefly shows the
            # JVM's whole resident set, which doubled the sum in 2 of 10
            # cdc_ingest runs
            self.peak_kb = max(self.peak_kb, min(prev, cur))
            prev = cur
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
