"""Spans around the benchmark's calls into each layer, stage metrics
pulled per span through Spark's public status APIs, and a process-tree
memory sampler.

A span is recorded only when tracing is on. Each traced span sets its
own Spark job group, so after the run the stages its jobs ran can be
looked up (``statusTracker`` for job -> stage, then the session's own
``/api/v1`` REST endpoint on localhost for the stage's task metrics).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request
from urllib.parse import urlparse

from bench_math import Span, self_times

STAGE_FIELDS = ("shuffle_write_bytes", "shuffle_read_bytes", "executor_cpu_s",
                "spill_bytes", "tasks", "failed_tasks")


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a plain
    pass-through, so untraced runs pay no bookkeeping or job-group
    calls."""

    def __init__(self, sc, workload: str, run_id: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent=parent.span_id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        group = f"{self.run_id}:{s.span_id}"
        self.sc.setJobGroup(group, name)
        s.attrs["job_group"] = group
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.attrs["job_group"], parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        """Write every span (with its self time) as one JSON document."""
        own = self_times(self.spans)
        rows = [
            {"id": s.span_id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": own[s.span_id], "workload": self.workload,
             "run_id": self.run_id, **s.attrs}
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1, default=str)


class StageMetrics:
    """Task metrics of the stages a job group ran, read once per group
    from the session's REST API (bypassing any HTTP proxy: the endpoint
    is the local driver)."""

    def __init__(self, sc):
        self.sc = sc
        ui = urlparse(sc.uiWebUrl or "")
        self.base = (f"http://127.0.0.1:{ui.port}/api/v1/applications/"
                     f"{sc.applicationId}") if ui.port else None
        self._open = urllib.request.build_opener(urllib.request.ProxyHandler({})).open

    def _get(self, path: str):
        with self._open(self.base + path, timeout=10) as r:
            return json.loads(r.read().decode())

    def stage_ids(self, group: str) -> list[int]:
        tracker = self.sc.statusTracker()
        out: list[int] = []
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                out.extend(info.stageIds)
        return sorted(set(out))

    def stages(self, stage_ids: list[int]) -> list[dict]:
        """Every attempt of each stage (skipped stages have none run)."""
        if self.base is None:
            return []
        out = []
        for sid in stage_ids:
            try:
                out.extend(a for a in self._get(f"/stages/{sid}") if a.get("status") != "SKIPPED")
            except OSError:
                continue
        return out

    @staticmethod
    def totals(attempts: list[dict]) -> dict[str, float]:
        t = dict.fromkeys(STAGE_FIELDS, 0.0)
        for a in attempts:
            t["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
            t["shuffle_read_bytes"] += a.get("shuffleReadBytes", 0)
            t["executor_cpu_s"] += a.get("executorCpuTime", 0) / 1e9
            t["spill_bytes"] += a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)
            t["tasks"] += a.get("numCompleteTasks", 0) + a.get("numFailedTasks", 0)
            t["failed_tasks"] += a.get("numFailedTasks", 0)
        return t

    def task_skew(self, attempts: list[dict]) -> float:
        """max / median task run time of the attempt that ran longest
        in total (the fold stage of a replay)."""
        ran = [a for a in attempts if a.get("numCompleteTasks", 0) > 1]
        if not ran or self.base is None:
            return 0.0
        a = max(ran, key=lambda a: a.get("executorRunTime", 0))
        try:
            q = self._get(f"/stages/{a['stageId']}/{a['attemptId']}/taskSummary"
                          "?quantiles=0.5,1.0")["executorRunTime"]
        except (OSError, KeyError):
            return 0.0
        return q[1] / q[0] if q[0] else 0.0


def jvm_gc_seconds(sc) -> float:
    """Total JVM garbage-collection time so far, over every collector."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _resident_kb(pid: int) -> tuple[int, bool]:
    """Resident memory of one process. The JVM's VmRSS is a cheap
    counter, and the JVM shares no pages with the other processes here.
    Each Python worker counts its proportional set size instead,
    because the workers are forked from one daemon and share most of
    their pages with it; summing plain RSS would count those pages
    once per worker. (Reading a JVM's smaps walks thousands of mappings
    under its memory-map lock and slows the JVM, so it is not read.)"""
    is_jvm = False
    try:
        with open(f"/proc/{pid}/comm") as f:
            is_jvm = f.read().strip() == "java"
        field = "VmRSS:" if is_jvm else "Pss:"
        with open(f"/proc/{pid}/status" if is_jvm else f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1]), is_jvm
    except OSError:
        pass
    return 0, is_jvm


class MemorySampler:
    """Peak resident memory of this process's descendants, sampled from
    /proc on a background thread: the driver JVM, and the sum over the
    Python workers, each peak taken on its own."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_jvm_kb = self.peak_python_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            jvm = python = 0
            for pid in descendants(me):
                kb, is_jvm = _resident_kb(pid)
                if is_jvm:
                    jvm += kb
                else:
                    python += kb
            self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
            self.peak_python_kb = max(self.peak_python_kb, python)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

