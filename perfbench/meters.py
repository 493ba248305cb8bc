"""Counters read from outside the program under test.

- ``ProcTree``: CPU seconds and RSS of the driver Python process, the
  JVM it launched and the ``pyspark.daemon`` workers under the JVM,
  read from ``/proc``.
- ``SparkCounters``: jobs, stages and tasks launched between two
  points, by job-id range (threads started by the program do not
  inherit the caller's job group, so a group filter misses their
  jobs), plus task CPU, task run time, shuffle and spill from the
  AppStatusStore.
- ``jvm_gc_jit_s``: GC and JIT-compile time from the JVM's management
  beans, over py4j.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` plus that of its reaped children."""
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields 14-17 of stat(5), counted after the comm field
    return sum(int(x) for x in st[11:15]) / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class ProcTree:
    """The benchmark's process tree: this process, the JVM, and the
    Python workers the JVM forks."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def workers(self) -> list[int]:
        return [p for p in descendants(self.jvm) if p != self.jvm]

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, per part of the tree."""
        driver = _cpu_s(self.driver)
        # the JVM's own counters include the workers it has reaped; the
        # live workers are counted on their own
        jvm_st = _stat(self.jvm)
        jvm_self = sum(int(x) for x in jvm_st[11:13]) / _TICK if jvm_st else 0.0
        jvm_reaped = sum(int(x) for x in jvm_st[13:15]) / _TICK if jvm_st else 0.0
        workers = jvm_reaped + sum(_cpu_s(p) for p in self.workers())
        return {"driver": driver, "jvm": jvm_self, "pyworker": workers}

    def peak_rss_mb(self) -> float:
        """Sum of each live process's peak RSS."""
        return sum(_hwm_mb(p) for p in [self.driver, *descendants(self.jvm)])


class SparkCounters:
    """Scheduler and task counters over a job-id range."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def over(self, first_job: int, end_job: int) -> dict[str, float]:
        """Totals over jobs ``first_job`` <= id < ``end_job``. Stages a
        job skipped (their output was reused) are not counted."""
        self.drain()
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        jobs = 0
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            if first_job <= j.jobId() < end_job:
                jobs += 1
                ids = j.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        gw = self._sc._gateway
        sl = store.stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
        )
        out = dict.fromkeys(
            ("stages", "tasks", "task_cpu_s", "task_run_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0
        )
        for i in range(sl.size()):
            s = sl.apply(i)
            if s.stageId() not in stage_ids or str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        out["jobs"] = float(jobs)
        return out


def jvm_gc_jit_s(sc) -> tuple[float, float]:
    mf = sc._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc_ms = sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size()))
    return gc_ms / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3
