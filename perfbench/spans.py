"""Spans, percentiles and Spark counters for the pipeline benchmark.

A span is one call into a layer, recorded from the benchmark's side of
the boundary: name, start, end, parent span and request id (the day,
read or pass that caused it). Spans stay in memory and are written out
once, at the end of a run.

Spark's own counters (jobs, tasks, executor run time, shuffle write,
spill) come from Spark's status REST API and are added to every span
whose time window holds the job's or the stage's submission time. The
streaming sink runs on another thread, so job groups set on the
caller's thread would miss its jobs; time windows see every job.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
COUNTERS = ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes")


def percentile_rank(n: int, min_beyond: int = 10) -> int | None:
    """Highest whole percentile p such that at least ``min_beyond`` of
    ``n`` samples lie above it (n * (100 - p) / 100 >= min_beyond), or
    None when that percentile would be below the median."""
    if n <= 0:
        return None
    p = min(99, math.floor(100 - 100 * min_beyond / n + 1e-9))
    return p if p >= 50 else None


def quantile(values: list[float], p: float) -> float:
    """Nearest-rank quantile, ``p`` in [0, 100]."""
    if not values:
        raise ValueError("quantile of no values")
    s = sorted(values)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "request", "attrs")

    def __init__(self, sid: int, name: str, start: float, parent: int | None,
                 request: str | None):
        self.id = sid
        self.name = name
        self.start = start
        self.end: float | None = None
        self.parent = parent
        self.request = request
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "request": self.request, **self.attrs}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Span recorder. Disabled, ``span`` costs one branch and records
    nothing, so untraced runs time the program alone. Spans opened on
    the streaming sink's callback thread nest under the span the main
    thread is blocked in, since one stack serves both."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        #: time the probes spent on their own bookkeeping (opening and
        #: closing spans, listing table files) inside timed operations
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._request: str | None = None
        # wall-clock offset so span times compare with Spark's job times
        self._wall0 = time.time() - time.perf_counter()

    def wall(self, t: float) -> float:
        return self._wall0 + t

    @contextmanager
    def request(self, rid: str):
        prev, self._request = self._request, rid
        try:
            yield
        finally:
            self._request = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, t0, parent, self._request)
        self.spans.append(s)
        self._stack.append(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = t1
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def dump(self, path: str, extra: dict) -> None:
        st = self_times([s for s in self.spans if s.end is not None])
        with open(path, "w") as f:
            json.dump({"spans": [dict(s.as_dict(), self_s=st.get(s.id))
                                 for s in self.spans], **extra}, f)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc).timestamp()


_PY_METRIC = "time to run Python workers"
_MAX_TASK_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_NONZERO = re.compile(r"[1-9]")


def python_stage_ids(executions: list[dict], jobs: dict[int, dict],
                     stages: dict[int, dict]) -> set[int]:
    """Stages that ran a task of a Python evaluation operator
    (MapInPandas, ArrowEvalPython, ...: a node with a "time to run
    Python workers" metric). Spark's summary of a metric that several
    tasks reported names the stage of its longest task. A metric one
    task reported is a bare time: that task ran in a single-task stage
    of the same execution, submitted after it began, and each such
    stage counts. A node that ran no task (a cached subtree read back
    from memory reports "0 ms") names no stage."""
    out: set[int] = set()
    for e in executions:
        single = False
        for n in e.get("nodes", ()):
            for m in n.get("metrics", ()):
                if m.get("name") != _PY_METRIC:
                    continue
                value = str(m.get("value", ""))
                named = _MAX_TASK_STAGE.findall(value)
                out.update(int(x) for x in named)
                single |= not named and bool(_NONZERO.search(value))
        if not single:
            continue
        t0 = _ts(e.get("submissionTime")) or 0.0
        for jid in e.get("successJobIds", ()):
            for sid in jobs.get(jid, {}).get("stageIds", ()):
                st = stages.get(sid)
                if (st is not None and st.get("numCompleteTasks") == 1
                        and (_ts(st.get("submissionTime")) or 0.0) >= t0):
                    out.add(sid)
    return out


class SparkCounters:
    """Incremental reader of Spark's status REST API. ``poll``
    fetches jobs, stages and SQL executions that finished since the last
    poll; call it outside timed spans."""

    def __init__(self, spark=None):
        self.ui = spark.sparkContext.uiWebUrl if spark is not None else None
        self.app = spark.sparkContext.applicationId if spark is not None else None
        self.jobs: dict[int, dict] = {}
        #: completed stage attempts by (stage id, attempt id)
        self.stages: dict[tuple[int, int], dict] = {}
        #: SQL executions that ran a Python evaluation operator
        self.python_execs: list[dict] = []
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.ui}/api/v1/applications/{self.app}/{path}",
                                    timeout=30) as r:
            return json.load(r)

    def poll(self) -> None:
        if not self.ui:
            return
        execs = self._get(f"sql?details=true&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(execs)
        self.ingest(self._get("jobs"), self._get("stages?status=complete"), execs)

    def ingest(self, jobs: list[dict], stages: list[dict], executions: list[dict]) -> None:
        for j in jobs:
            if j.get("completionTime"):
                self.jobs.setdefault(j["jobId"], j)
        for st in stages:
            self.stages.setdefault((st["stageId"], st.get("attemptId", 0)), st)
        self.python_execs += [
            e for e in executions if any(m.get("name") == _PY_METRIC for n in e.get(
                "nodes", ()) for m in n.get("metrics", ()))]

    def attribute(self, tracer: Tracer) -> None:
        """Add counters to every span whose window holds their
        submission time, so a span's counters include its children's:
        each job's count by the job's submission, and each completed
        stage attempt's tasks, executor time, shuffle write and spill
        by the stage's submission. A stage counts once, however many
        jobs list it (a later job lists a reused stage as skipped).
        ``python_stage_run_s`` is the executor time of the stages that
        evaluated Python, so it never exceeds ``executor_run_s``."""
        spans = [s for s in tracer.spans if s.end is not None]
        for s in spans:
            for c in COUNTERS + ("python_stages", "python_stage_run_s"):
                s.attrs.setdefault(c, 0)

        def owners(t):
            return [s for s in spans if tracer.wall(s.start) <= t <= tracer.wall(s.end)]

        python = python_stage_ids(self.python_execs, self.jobs,
                                  {sid: st for (sid, _), st in self.stages.items()})
        for j in self.jobs.values():
            t = _ts(j.get("submissionTime"))
            for s in owners(t) if t is not None else ():
                s.attrs["jobs"] += 1
        for (sid, _), st in self.stages.items():
            t = _ts(st.get("submissionTime"))
            if t is None:
                continue
            run_s = st.get("executorRunTime", 0) / 1000
            add = {"tasks": st.get("numCompleteTasks", 0), "executor_run_s": run_s,
                   "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
                   "spill_bytes": st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)}
            if sid in python:
                add["python_stages"] = 1
                add["python_stage_run_s"] = run_s
            for s in owners(t):
                for k, v in add.items():
                    s.attrs[k] += v


def read_peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``, in MiB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
                    break
    return total / 1024
