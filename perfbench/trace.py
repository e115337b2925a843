"""Spans, Spark stage statistics, memory and host readings.

``Tracer`` times named spans in the benchmark's own code.  With
``traced=True`` each top-level span also tags the Spark jobs it starts
with a job group of its own and, on exit, reads the stage statistics of
those jobs from Spark's status store.  Untraced runs keep the span
clocks (the workloads need them for their latencies) but set no job
group and read no store.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager
from statistics import median

STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "tasks",
    "failed_tasks",
)


class StageReader:
    """Reads job and stage statistics from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def drain(self) -> None:
        # the store is fed by the listener bus; let it catch up first
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict[str, float]:
        self.drain()
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = self.store.job(int(jid)).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        from py4j.protocol import Py4JJavaError

        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
        out["jobs"] = float(len(list(job_ids)))
        return out


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.reader = StageReader(spark) if traced else None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "trace_id": self.trace_id,
            "span_id": uuid.uuid4().hex[:16],
            "parent": parent["span_id"] if parent else None,
            "start": time.time(),
        }
        tag = self.traced and parent is None
        if tag:
            self.spark.sparkContext.setJobGroup(rec["span_id"], name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if tag:
                self.spark.sparkContext._jsc.clearJobGroup()
                rec["spark"] = self.reader.stage_totals(self.reader.job_ids(rec["span_id"]))
            self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def stages(self, *names: str) -> dict[str, float]:
        """Stage statistics summed over every traced span of these names."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"] in names and "spark" in s:
                for k, v in s["spark"].items():
                    out[k] = out.get(k, 0.0) + v
        return out


class PeakRss:
    """Peak resident memory of the driver JVM and every process under it
    (the Python daemon and its workers) during a block.  On entry it
    resets each process's high-water mark (``clear_refs``); on exit it
    sums their ``VmHWM``.  The kernel keeps the mark, so no peak falls
    between two samples."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.jvm_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def _hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def __enter__(self):
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        return self

    def __exit__(self, *exc):
        self.peak_kb = sum(self._hwm_kb(pid) for pid in self._tree())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3


def cpu_loop_ms(n: int = 300_000, repeats: int = 3) -> float:
    """Fixed pure-Python loop, median of ``repeats``: a host canary that
    drifts when the host is contended."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        times.append((time.perf_counter() - t) * 1e3)
    return median(times)


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters of the host (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took away between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total else 0.0


def host_canary() -> dict[str, float]:
    return {"loadavg_1m": os.getloadavg()[0], "cpu_loop_ms": cpu_loop_ms()}
