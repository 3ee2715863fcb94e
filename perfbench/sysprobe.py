"""Readings taken from outside the program: the process tree from /proc,
GC and heap from the JVM's management beans, and job/stage/task counts
from the public `SparkContext.statusTracker()`."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, int, str, float]]:
    """pid -> (ppid, session id, comm, CPU seconds incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        rp = stat.rindex(")")
        f = stat[rp + 2:].split()
        cpu = sum(int(x) for x in f[11:15]) / _TICK
        out[int(d)] = (int(f[1]), int(f[3]), stat[stat.index("(") + 1:rp], cpu)
    return out


def session_pids(sid: int) -> list[int]:
    """Live processes of session `sid`."""
    return [pid for pid, p in _procs().items() if p[1] == sid]


def _tree(root: int, procs: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _kind(pid: int, root: int, comm: str) -> str:
    return "driver" if pid == root else "jvm" if comm == "java" else "pyworker"


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the process tree under `root` (default: this process),
    split into the Python driver, the JVM, and everything else (the Python
    worker daemon and its workers)."""
    root = root or os.getpid()
    procs = _procs()
    cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in _tree(root, procs):
        _, _, comm, c = procs[pid]
        cpu[_kind(pid, root, comm)] += c
    return cpu


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak resident set (VmHWM) of the live processes in the tree, summed
    per kind as in `tree_cpu`."""
    root = root or os.getpid()
    procs = _procs()
    rss = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in _tree(root, procs):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        rss[_kind(pid, root, procs[pid][2])] += int(line.split()[1]) / 1024
        except OSError:
            continue
    return rss


class Jvm:
    """GC time and heap peak from java.lang.management."""

    def __init__(self, spark) -> None:
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def heap_peak_mb(self) -> float:
        return sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
        ) / 2**20

    def version(self) -> str:
        return self._mf.getRuntimeMXBean().getVmVersion()


def group_counts(sc, group: str, settle_s: float = 2.0) -> dict[str, int]:
    """Jobs, stages run and tasks completed under one job group, read from
    the status tracker once every job of the group has finished (the
    listener bus delivers the events asynchronously)."""
    st = sc.statusTracker()
    deadline = time.monotonic() + settle_s
    while True:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs):
            break
        if time.monotonic() > deadline:
            break
        time.sleep(0.01)
    stages = {s for j in jobs if j is not None for s in j.stageIds}
    ran = [i for i in (st.getStageInfo(s) for s in stages) if i and i.numCompletedTasks]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(i.numCompletedTasks for i in ran),
    }
