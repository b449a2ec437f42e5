"""Readings taken from outside the program: CPU time and resident memory
of the driver's process tree from /proc, and per-pass Spark counters from
the JVM status store (works with spark.ui.enabled=false)."""

from __future__ import annotations

import os
import statistics
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at index 0 = state
    return [s[s.index("(") + 1 : s.rindex(")")]] + s[s.rindex(")") + 2 :].split()


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of root and all its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[2]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree under ``root``,
    including reaped children (cutime/cstime), so work done by a worker
    that exits between two readings is still counted."""
    total = 0
    for _, st in _tree(root or os.getpid()):
        # stat fields 14-17 (1-based) = utime stime cutime cstime
        total += sum(int(x) for x in st[12:16])
    return total / _TICK


def descendants(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    return [pid for pid, _ in _tree(root) if pid != root]


class RssSampler:
    """Samples the resident memory of the JVM and of the Python workers
    (every process below the JVM) until stopped; keeps the peaks."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.jvm_peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        jvm: set[int] = set()
        below_jvm: set[int] = set()
        jvm_mb = worker_mb = 0.0
        for pid, st in _tree(os.getpid()):  # parents come before their children
            rss_mb = int(st[22]) * _PAGE_MB  # field 24 = rss in pages
            if st[0] == "java":
                jvm.add(pid)
                jvm_mb += rss_mb
            elif int(st[2]) in jvm | below_jvm:
                below_jvm.add(pid)
                worker_mb += rss_mb
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm_mb)
        self.worker_peak_mb = max(self.worker_peak_mb, worker_mb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


class StatusStore:
    """Per-pass Spark counters. A pass is every job submitted between
    ``begin`` and ``end``: the pipeline submits some of its jobs from
    helper threads that do not carry the caller's job group, so selecting
    by group alone would miss them (the group is still set, so the jobs
    read in operator terms in any event log)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._known: set[int] = set()

    def _jobs(self) -> dict:
        out = {}
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            out[j.jobId()] = j
        return out

    def begin(self, group: str) -> None:
        self._known = set(self._jobs())
        self.sc.setJobGroup(group, group)

    def end(self) -> dict:
        """Counters of the jobs since ``begin``; stages are read once each
        (a stage shared by two jobs, or skipped, counts once or not at all)."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        new_jobs = [j for jid, j in self._jobs().items() if jid not in self._known]
        stage_ids: set[int] = set()
        for j in new_jobs:
            it = j.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        jvm = self.sc._jvm
        arr = self.sc._gateway.new_array(jvm.double, 0)
        stages = []
        it = self.store.stageList(None, False, False, arr, jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() in stage_ids and str(s.status()) != "SKIPPED":
                stages.append(s)
        out = {
            "jobs": len(new_jobs),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "input_mb": sum(s.inputBytes() for s in stages) / 1e6,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / 1e6,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / 1e6,
            "spill_mb": sum(s.diskBytesSpilled() for s in stages) / 1e6,
            "task_skew": 0.0,
            "stages": [
                (s.stageId(), s.attemptId(), s.numCompleteTasks(), s.executorRunTime())
                for s in stages
            ],
        }
        if stages:
            longest = max(stages, key=lambda s: s.executorRunTime())
            out["task_skew"] = self._skew(longest)
        return out

    def _skew(self, stage) -> float:
        durs = []
        it = self.store.taskList(stage.stageId(), stage.attemptId(), 1 << 30).iterator()
        while it.hasNext():
            t = it.next()
            if str(t.status()) == "SUCCESS":
                durs.append(t.duration().get() if t.duration().isDefined() else 0)
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())
