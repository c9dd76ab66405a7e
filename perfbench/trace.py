"""Spans and Spark counters recorded around calls into the program's layers.

A traced call runs in its own Spark job group. Afterwards its jobs, stages,
tasks and executor counters are read from the status tracker and the
application status store over py4j (this works with ``spark.ui.enabled``
false), and the largest operator output row count is read from the SQL
status store. Spans are kept in memory and written out at the end.

An untraced tracer only runs the call, so the end-to-end run pays nothing.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import time
from collections.abc import Callable
from typing import Any

from py4j.protocol import Py4JJavaError

FULL_GCS = 5

class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"  # recorded on each span: setup, warmup or measure
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def bind(self, spark) -> None:
        """Point the tracer at a (new) session."""
        self._sc = spark.sparkContext
        if self.enabled:
            self._store = self._sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()

    def new_call_id(self) -> int:
        return next(self._ids)

    def span(self, name: str, fn: Callable[[], Any], *, call_id: int = 0,
             parent: str | None = None, groups: list[str] | None = None) -> Any:
        """Run ``fn`` as one layer call. ``groups`` may be filled by ``fn``
        with extra job groups whose jobs belong to this call (a streaming
        query runs its batches under its own run id)."""
        if not self.enabled:
            return fn()
        group = f"perfbench-{name}-{next(self._ids)}"
        outer = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(group, name)
        n0 = self._sql.executionsCount()
        start = time.time()
        try:
            out = fn()
        finally:
            end = time.time()
            self._sc.setLocalProperty("spark.jobGroup.id", outer)
        span = {"name": name, "start": start, "end": end, "parent": parent,
                "call_id": call_id, "phase": self.phase}
        span.update(self._counters([group, *(groups or [])], n0, end - start))
        self.spans.append(span)
        return out

    def _counters(self, groups: list[str], n0: int, wall: float) -> dict:
        tracker = self._sc.statusTracker()
        jobs = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        tasks = 0
        intervals = []
        stage_ids: set[int] = set()
        for j in jobs:
            jd = self._store.job(j)
            tasks += jd.numCompletedTasks()
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((jd.submissionTime().get().getTime(),
                                  jd.completionTime().get().getTime()))
            it = jd.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        stages = exec_ms = shuffle = spill = 0
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            stages += 1
            exec_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        busy = _union_ms(intervals) / 1e3
        return {
            "jobs": len(jobs), "stages": stages, "tasks": tasks,
            "exec_run_s": exec_ms / 1e3, "shuffle_bytes": shuffle,
            "spill_bytes": spill, "busy_s": busy,
            "driver_s": max(0.0, wall - busy), "peak_rows": self._peak_rows(n0),
        }

    def _peak_rows(self, n0: int) -> int:
        """Largest 'number of output rows' of any operator in the SQL
        executions that started during the call."""
        n1 = self._sql.executionsCount()
        peak = 0
        if n1 <= n0:
            return peak
        execs = self._sql.executionsList(n0, n1 - n0).iterator()
        while execs.hasNext():
            eid = execs.next().executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                metrics = nodes.next().metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() != "number of output rows":
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        peak = max(peak, int(str(v.get()).replace(",", "")))
        return peak

    def calls(self, name: str, phase: str | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and phase in (None, s["phase"])]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(heap, non-heap) MiB in use in the driver JVM after ``FULL_GCS`` full
    GCs. Each GC lets Spark's cleaner drop the broadcasts and shuffles it
    found unreferenced, which a later GC frees. After a grid_serve_ingest run
    the heap fell 220 -> 147 -> 80 MiB over three GCs a second apart, and it
    can hold level for a GC before it falls, so the count is fixed."""
    gc.collect()  # release py4j references to JVM objects first
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(FULL_GCS):
        mx.gc()
        time.sleep(0.6)
    return (mx.getHeapMemoryUsage().getUsed() / 2**20,
            mx.getNonHeapMemoryUsage().getUsed() / 2**20)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(file count, total bytes) of files under ``path`` ending in ``suffix``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
