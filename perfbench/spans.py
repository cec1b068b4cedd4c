"""Spans around the benchmark's calls into the package, tagged with Spark
job groups.

A span records name, start, end, parent span and request id. When it is
opened with `group=True` every Spark job launched inside it carries the
span's job group, and on exit the span reads the group's jobs, stages
and completed tasks from the status tracker. With `rest=True` it also
reads job wall times, call sites, shuffle bytes and executor time from the
Spark UI REST API, which runs only when the session was started with
`SPARK_GRAFT_UI=true`.

Spans stay in memory; `dump` writes them as JSON when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request_id: str | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    # filled by rest=True spans: per job (id, call site, wall seconds)
    job_walls: list[tuple[int, str, float]] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    shuffle_bytes: int = 0
    executor_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        # the REST API exists only when the UI runs (SPARK_GRAFT_UI=true)
        self.rest_base = None
        if self.sc.uiWebUrl:
            self.rest_base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                              f"{self.sc.applicationId}")

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None or span.group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, request_id: str | None = None,
             group: bool = True, rest: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, parent.id if parent else None,
                 request_id or (parent.request_id if parent else None),
                 time.perf_counter())
        if group:
            s.group = f"perfbench-{sid}"
            self._set_group(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if group:
                self._set_group(next((p for p in reversed(stack)
                                      if p.group), None))
                self._collect(s, rest and self.rest_base is not None)
            with self._lock:
                self.spans.append(s)

    def _collect(self, s: Span, rest: bool) -> None:
        st = self.sc.statusTracker()
        s.jobs = sorted(st.getJobIdsForGroup(s.group))
        stage_ids = set()
        for j in s.jobs:
            info = st.getJobInfo(j)
            for _ in range(50):  # the listener bus may lag job completion
                if info is None or info.status != "RUNNING":
                    break
                time.sleep(0.02)
                info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks:
                s.stages += 1
                s.tasks += info.numCompletedTasks
        if rest:
            self._collect_rest(s, stage_ids)

    def _get(self, path: str):
        with urllib.request.urlopen(self.rest_base + path, timeout=10) as r:
            return json.load(r)

    def _collect_rest(self, s: Span, stage_ids: set[int]) -> None:
        for j in s.jobs:
            job = self._get(f"/jobs/{j}")
            for _ in range(50):  # the listener bus may lag job completion
                if job.get("completionTime"):
                    break
                time.sleep(0.02)
                job = self._get(f"/jobs/{j}")
            t0, t1 = _ts(job["submissionTime"]), _ts(job["completionTime"])
            s.job_walls.append((j, job.get("name", ""), t1 - t0))
            s.job_intervals.append((t0, t1))
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}"):
                if att.get("status") != "COMPLETE":
                    continue
                s.shuffle_bytes += att.get("shuffleWriteBytes", 0)
                s.executor_s += att.get("executorRunTime", 0) / 1000.0

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _ts(s: str) -> float:
    """Spark REST timestamp ('2026-01-01T00:00:00.123GMT') -> epoch s."""
    import datetime as dt

    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total
