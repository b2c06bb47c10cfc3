"""Spans and Spark-side counters for the traced benchmark run.

Spans are recorded from the benchmark's own files, around the calls it
makes into each layer of the package; nothing inside the package is
instrumented. With tracing off, ``Tracer.span`` is a no-op context and
no Spark status is read, so the untraced run measures the package
alone.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder: (name, start, end, parent, op id)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.per_op: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.untimed_s = 0.0

    @contextlib.contextmanager
    def _span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def untimed(self):
        """Work that tracing adds to an op; its time is left out of the
        op's latency (accumulated in ``untimed_s``)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def add(self, name: str, value: float) -> None:
        """Add ``value`` to the current op's total for ``name`` (kept
        only when tracing)."""
        if self.enabled and self.op_id is not None:
            self.per_op[name][self.op_id] += value

    def op_totals(self, name: str) -> list[float]:
        """Per-op totals of a counter, or of a span's duration in ms,
        over the traced ops that recorded it."""
        if name in self.per_op:
            return list(self.per_op[name].values())
        tot: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["end"] and s["op"] is not None:
                tot[s["op"]] += (s["end"] - s["start"]) * 1000.0
        return list(tot.values())

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it its direct children cover."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"]:
                out[s["name"]] += max(0.0, s["end"] - s["start"] - child_time[i])
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round((s["end"] or t0) - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, "self_s": self.self_times()}, fh)


class SparkProbe:
    """Reads Spark's public status and JVM management interfaces."""

    _PHASES = (("parsing", "parse"), ("analysis", "analyze"), ("optimization", "optimize"), ("planning", "plan"))

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm

    def job_counts(self, group: str) -> tuple[int, int, int, int]:
        """(jobs, stages, tasks, failed tasks) run under a job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return len(jobs), stages, tasks, failed

    def plan_phases(self, df) -> dict[str, float]:
        """Force optimization and physical planning of ``df`` and return
        the QueryPlanningTracker's phase durations in ms."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for key, short in self._PHASES:
            if phases.contains(key):
                out[short] = float(phases.apply(key).durationMs())
        return out

    def gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def heap_used_mb(self) -> float:
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / 2**20

    def storage_mem_mb(self) -> float:
        """Memory and disk held by persisted RDDs: cached tables and
        checkpointed relations (transient broadcast blocks excluded)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM (local mode: the only JVM)."""
        pid = self.jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
