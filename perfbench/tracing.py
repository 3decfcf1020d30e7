"""Measurement helpers: spans, Spark status-store readings, process-tree RSS.

Spans and status-store readings are taken only in the traced run; the
RSS reading is taken in both runs because ``peak_rss_mb`` is an
end-to-end metric.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

#: status-store measures taken for every Spark-running layer call, in
#: the order they are printed
STATUS_MEASURES = (
    "jobs", "stages", "tasks", "shuffle_records",
    "executor_run_s", "executor_cpu_s", "gc_frac", "shuffle_write_mb",
    "cpu_util",
)


class Tracer:
    """In-memory spans: ``(id, name, start, end, parent, run_id)``.

    Times are ``perf_counter`` seconds. Nothing is written until the
    caller asks for the spans at the end of the run.
    """

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(),
               "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part its direct children cover
        (children of one span never overlap: the loop is sequential)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans}


class StatusStore:
    """Per-job-group sums read from Spark's application status store
    (the data behind the web UI, kept even with the UI disabled)."""

    def __init__(self, spark, cores: int) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._cores = cores

    def group(self, group: str, wall_s: float) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        # status events are delivered asynchronously; drain them first
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STATUS_MEASURES, 0.0)
        out["jobs"] = float(len(jobs))
        gc_s = 0.0
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(int(sid))
            except Py4JJavaError:  # stage never submitted (skipped)
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_records"] += sd.shuffleWriteRecords()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            gc_s += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        out["cpu_util"] = out["executor_run_s"] / (wall_s * self._cores)
        # GC time as a share of task time: short calls often see no
        # collection at all, so seconds would read 0 on most runs
        if out["executor_run_s"]:
            out["gc_frac"] = gc_s / out["executor_run_s"]
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class PeakRss:
    """Peak resident memory of this process tree.

    Each process's kernel-kept high-water mark (``VmHWM``) is read at
    every ``sample()``; the result is the sum of the per-process peaks
    (driver Python, the JVM, Python workers), which bounds the tree's
    simultaneous peak from above and does not depend on sampling rate.
    """

    def __init__(self) -> None:
        self._peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            if kb > self._peak_kb.get(pid, 0):
                                self._peak_kb[pid] = kb
                            break
            except OSError:
                continue

    def mb(self) -> float:
        return sum(self._peak_kb.values()) / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by ``root`` and its live descendants. Time the hypervisor
    steals from a virtual CPU is not charged to the process."""
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def process_start_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
