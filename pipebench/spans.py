"""Spans around public package calls, attributed their Spark jobs.

A span is opened by the benchmark around one call into the package.
Untraced, a span records only its wall time. Traced, the span also sets
a Spark job group of its own; when it ends, the listener bus is drained
and the span's jobs and stages are read from ``sc.statusStore()``
straight away, so the store's retention limits can never drop them.
This needs no Spark UI and no tracing inside the package.

Counters per span: ``wall_s``, ``driver_s`` (span wall time not covered
by any of its jobs), ``jobs``, ``task_s`` (executor run time summed over
its stages), ``shuffle_mb`` (shuffle write) and ``spill_mb`` (memory
plus disk spill).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

COUNTERS = ("wall_s", "driver_s", "jobs", "task_s", "shuffle_mb", "spill_mb")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every
    process under it: the Spark JVM and its Python workers. Time the
    host gave to other tenants is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, ticks = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        parent[int(pid)] = int(fields[1])
        # utime, stime, and those of its children already waited for
        ticks[int(pid)] = sum(int(v) for v in fields[11:15])
    root, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += t
    return total / tick


class Tracer:
    """Collects spans in memory. ``traced=False`` gives wall times only,
    at the cost of two clock reads per span."""

    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self._seq = 0
        self._run_id = None
        self._counted_stages: set[int] = set()
        if traced:
            self._sc = spark.sparkContext
            jsc = self._sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()

    def begin_run(self, run_id: str) -> None:
        self._run_id = run_id

    @contextmanager
    def span(self, name: str, parent: str = "run"):
        self._seq += 1
        rec = {"name": name, "parent": parent, "run_id": self._run_id}
        group = f"pipebench-{self._run_id}-{self._seq}"
        if self.traced:
            self._sc.setJobGroup(group, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if self.traced:
                self._sc._jsc.clearJobGroup()
                self._attribute(rec, group)
            self.spans.append(rec)

    def _attribute(self, rec: dict, group: str) -> None:
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        intervals, stage_ids = [], []
        job_ids = tracker.getJobIdsForGroup(group)
        for jid in job_ids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else rec["end"]
                intervals.append((sub.get().getTime() / 1e3, end))
            info = tracker.getJobInfo(jid)
            stage_ids.extend(info.stageIds if info else [])
        task_ms = shuffle_b = spill_b = 0
        for sid in sorted(set(stage_ids)):
            if sid in self._counted_stages:
                continue  # a reused stage ran (and was counted) earlier
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if str(st.status()) not in ("COMPLETE", "FAILED"):
                continue  # skipped: its shuffle output was reused
            self._counted_stages.add(sid)
            task_ms += st.executorRunTime()
            shuffle_b += st.shuffleWriteBytes()
            spill_b += st.memoryBytesSpilled() + st.diskBytesSpilled()
        rec["jobs"] = len(job_ids)
        rec["driver_s"] = max(
            0.0, rec["wall_s"] - covered(intervals, rec["start"], rec["end"])
        )
        rec["task_s"] = task_ms / 1e3
        rec["shuffle_mb"] = shuffle_b / 1e6
        rec["spill_mb"] = spill_b / 1e6
