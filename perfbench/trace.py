"""Tracing for the per-layer run: spans, Spark counters and peak memory.

Nothing here reaches into the program: spans wrap calls the benchmark
itself makes into the package's public functions, Spark counters come from
the REST API and ``statusTracker`` of the benchmark's own session, and
memory comes from ``/proc``.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the time its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.dur - covered(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder; :meth:`dump` writes everything at exit."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.phase = "primary"

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent,
                 attrs={"phase": self.phase, **attrs})
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        """Spans called ``name``, preferring the primary workload's."""
        hits = [s for s in self.spans if s.name == name]
        primary = [s for s in hits if s.attrs.get("phase") == "primary"]
        return primary or hits

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        selfs = self_times(self.spans)
        rows = [
            {"name": s.name, "start": s.start - t0, "end": s.end - t0,
             "parent": s.parent, "self": st, **s.attrs}
            for s, st in zip(self.spans, selfs)
        ]
        by_name: dict[str, float] = {}
        for r in rows:
            by_name[r["name"]] = by_name.get(r["name"], 0.0) + r["self"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_time_by_name": by_name, **extra},
                      f, indent=1, default=str)


class NullTracer(Tracer):
    """Tracer stand-in for the untraced run: records nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield Span(name, 0.0)


# ------------------------------------------------------------- memory

def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ------------------------------------------------------------- Spark

class SparkProbe:
    """Per-call job/task counts (``setJobGroup`` + ``statusTracker``) and
    stage totals from the REST API of the benchmark's own session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seq = 0
        port = self.sc.uiWebUrl.rsplit(":", 1)[1].strip("/")
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    @contextmanager
    def group(self, label: str):
        """Tag the jobs of one call; yields the group id."""
        self.seq += 1
        gid = f"bench-{self.seq}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the status store has seen every submitted job end."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        while (self._get("/jobs?status=running")
               and time.monotonic() < deadline):
            time.sleep(0.05)

    def jobs_tasks(self, gid: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return len(jobs), tasks

    def snapshot(self) -> tuple[set, set]:
        """(completed stage attempts, job ids) seen so far."""
        stages = {(st["stageId"], st["attemptId"])
                  for st in self._get("/stages?status=complete")}
        return stages, {j["jobId"] for j in self._get("/jobs")}

    def window_totals(self, before: tuple[set, set], wall_s: float,
                      cores: int) -> dict[str, float]:
        """Stage totals of the jobs run since the ``before`` snapshot."""
        stages0, jobs0 = before
        new = [st for st in self._get("/stages?status=complete")
               if (st["stageId"], st["attemptId"]) not in stages0]
        jobs = {j["jobId"] for j in self._get("/jobs")} - jobs0
        busy = sum(st["executorRunTime"] for st in new) / 1000.0
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": sum(st["numCompleteTasks"] for st in new),
            "spark.task_busy_s": busy,
            "spark.core_util": busy / (wall_s * cores),
            "spark.shuffle_write_bytes": sum(
                st["shuffleWriteBytes"] for st in new),
            "spark.shuffle_read_bytes": sum(
                st["shuffleReadBytes"] for st in new),
            "spark.spill_bytes": sum(
                st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                for st in new),
            "spark.gc_s": sum(st["jvmGcTime"] for st in new) / 1000.0,
        }
