"""Spans and counters recorded from outside the program.

A span wraps one call the benchmark makes into a layer of the program
(session, io, etl, operators.merge, queries, exec). Each span has a
name, start, end, parent span and op id; spans live in memory and are
written once at exit. Counts come from public PySpark APIs at the same
boundaries: every span runs under its own job group, and the status
tracker gives the jobs, stages and tasks that group ran. CPU of the
JVM and of its Python worker descendants comes from /proc.

With tracing off every span is a no-op: no job group, no status
tracker calls, no bookkeeping.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_IDLE = "perfbench-idle"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id = None
        self.spark = None
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        """Record `name` around the enclosed call; yields the span dict
        (or None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = {"id": self._seq, "name": name, "op": self.op_id,
              "parent": parent["id"] if parent else None,
              "group": f"perfbench-{self._seq}",
              "start": time.perf_counter()}
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sp.update(job_counts(sc, sp["group"]))
                if parent is not None:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setJobGroup(_IDLE, "between traced calls")
            self.spans.append(sp)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")


def job_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks Spark ran under `group`."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is None:
                continue
            stages += 1
            tasks += si.numCompletedTasks + si.numFailedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def proc_cpu_s(pid: int, children: bool = False) -> float:
    """utime+stime of `pid` (plus reaped children's with `children`)."""
    f = _stat(pid)
    if f is None:
        return 0.0
    # after ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def alive(pid: int) -> bool:
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat(int(entry))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU of every live process below the JVM (the Python worker
    daemon and its forked workers; reaped workers count through the
    daemon's child times)."""
    return sum(proc_cpu_s(p, children=True) for p in descendants(jvm_pid))


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class JvmProbe:
    """JVM pid and GC time through the JVM's own management beans."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._mf = mf
        self.pid = int(mf.getRuntimeMXBean().getPid())

    def gc_s(self) -> float:
        return sum(max(0, b.getCollectionTime())
                   for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def snapshot(self) -> dict:
        return {"wall": time.perf_counter(),
                "driver_cpu": sum(os.times()[:2]),
                "jvm_cpu": proc_cpu_s(self.pid),
                "worker_cpu": worker_cpu_s(self.pid),
                "gc": self.gc_s()}
