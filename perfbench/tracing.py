"""Spans, Spark status-store counters and process-tree memory.

Spans are recorded around calls into the program's layers from the
benchmark's own code; nothing inside the program is instrumented.  They
live in memory and are written once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

#: SQL operator scopes of stages that run Python or Arrow kernels.
_PYTHON_SCOPES = ("Python", "Pandas", "InArrow", "ArrowEval")


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "name": name,
            "start": time.time(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        if not self.spans:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


def _date_s(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _cluster_names(cluster, out: list[str]) -> list[str]:
    out.append(cluster.name())
    it = cluster.childClusters().iterator()
    while it.hasNext():
        _cluster_names(it.next(), out)
    return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def group_counters(sc, group: str) -> dict[str, float]:
    """Engine counters of every job run under one job group, read from
    Spark's in-process status store (works with the UI disabled)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    intervals = []
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
        job = store.job(jid)
        a, b = _date_s(job.submissionTime()), _date_s(job.completionTime())
        if a is not None and b is not None:
            intervals.append((a, b))
    c = dict.fromkeys(
        ["tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "gc_ms", "python_stage_run_ms"],
        0.0,
    )
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        c["tasks"] += st.numTasks()
        c["executor_run_ms"] += st.executorRunTime()
        c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
        c["shuffle_read_bytes"] += st.shuffleReadBytes()
        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["gc_ms"] += st.jvmGcTime()
        names = _cluster_names(store.operationGraphForStage(sid).rootCluster(), [])
        if any(p in n for n in names for p in _PYTHON_SCOPES) or "mapPartitions" in names:
            c["python_stage_run_ms"] += st.executorRunTime()
    c["jobs"] = float(len(jobs))
    c["stages"] = float(len(stage_ids))
    c["job_wall_s"] = _union_s(intervals)
    return c


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent pid → child pids, pid → resident bytes) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * page
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children, rss


def _descendants(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def children(root: int) -> list[int]:
    """Every live descendant of ``root``."""
    return _descendants(root, _process_table()[0])


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    kids, rss = _process_table()
    return sum(rss.get(p, 0) for p in [root, *_descendants(root, kids)])


class PeakRss:
    """Samples the benchmark's process tree (this process, its JVM and the
    JVM's Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
