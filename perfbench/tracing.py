"""Measurement helpers for the benchmark: spans, Spark job counters, /proc.

Spans are kept in memory and written out once, when the run ends. Job and
stage counters come from the driver's status store, which stays live with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

MB = 1024 * 1024


class Tracer:
    """In-memory spans: name, start, end, parent; spans of one query share a qid."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, qid: int | None = None,
            **attrs) -> int:
        span_id = len(self.spans)
        self.spans.append({"id": span_id, "name": name, "start": start, "end": end, "parent": parent, "qid": qid, **attrs})
        return span_id

    def open(self, name: str) -> int:
        """Start a top-level span whose end is set later by :meth:`close`."""
        return self.add(name, time.perf_counter(), float("nan"))

    def close(self, span_id: int) -> None:
        self.spans[span_id]["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its (sequential) children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child_time[s["id"]] for s in self.spans}

    def self_time_by_name(self) -> dict[str, float]:
        total: dict[str, float] = defaultdict(float)
        for sid, t in self.self_times().items():
            total[self.spans[sid]["name"]] += t
        return dict(total)

    def write(self, path: str) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": spans, "self_s_by_name": self.self_time_by_name()}, fh, indent=1)


class JobCounters:
    """Per-phase Spark job, task, time and byte counts.

    Job ids are allocated in order by the DAG scheduler, so the jobs a phase
    ran are the ids between the scheduler's job count before and after it.
    That also catches jobs run by threads the engine starts itself, such as
    streaming micro-batches, which carry their own job group.
    """

    STAGE_FIELDS = ("tasks", "task_run_s", "task_cpu_s", "input_mb", "shuffle_write_mb")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._jsc = jsc
        self._tracker = sc.statusTracker()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen_stages: set[int] = set()

    def cursor(self) -> int:
        """Number of jobs submitted so far; the next job gets this id."""
        return self._dag.numTotalJobs()

    def jobs(self, first: int, last: int) -> dict[str, float]:
        """Counters of jobs ``first``..``last - 1``; each stage counts once per run."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(self.STAGE_FIELDS, 0.0)
        out["jobs"] = float(last - first)
        for job in range(first, last):
            info = self._tracker.getJobInfo(job)
            if info is None:
                continue
            for stage in info.stageIds:
                if stage in self._seen_stages:
                    continue
                self._seen_stages.add(stage)
                attempts = self._store.stageData(stage, False, None, False, self._no_quantiles)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    out["tasks"] += s.numCompleteTasks()
                    out["task_run_s"] += s.executorRunTime() / 1e3
                    out["task_cpu_s"] += s.executorCpuTime() / 1e9
                    out["input_mb"] += s.inputBytes() / MB
                    out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
        return out

    def persisted_mb(self) -> float:
        """Memory plus disk held by persisted RDD blocks right now."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo()) / MB


def _ppid_map() -> dict[int, int]:
    parents = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        parents[int(entry)] = int(fields[1])
    return parents


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants (JVM, Python daemon, workers)."""
    children: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in _ppid_map().items():
        children[ppid].append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children[pid])
    return tree


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids`` and of their children already reaped."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state (field 3 of stat); utime..cstime are fields 14-17
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def memory_mb(pid: int, field: str) -> float:
    """A memory field of ``pid``'s /proc status in MB: VmRSS (resident) or VmHWM (peak)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field} for pid {pid}")


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                continue
    return total
