"""Spans around the benchmark's calls into the engine's layers, and the
Spark counters of the jobs each span ran.

A span is (name, start, end, parent, op id). While tracing, every span
sets its own Spark job group, so after the run the driver's monitoring
REST API (``/api/v1/applications/<id>/jobs`` and ``/stages``) tells
which jobs, stages and task metrics belong to which span. Spans stay in
memory and are written out once, at the end of the run. With tracing
off, ``span`` only yields, so the measured code path is the same.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime, timezone


@dataclass
class Span:
    sid: str
    name: str
    start: float
    end: float
    parent: str | None
    op: int | None


class Tracer:
    """Records spans when ``enabled``; otherwise a no-op."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.on_exit = None  # called with each finished span

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(f"pb{next(self._ids)}", name, time.time(), 0.0,
                 parent.sid if parent else None, op)
        self._stack.append(s)
        self.sc.setJobGroup(s.sid, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if self.on_exit is not None:
                self.on_exit(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span duration minus the part of it its child spans cover (s)."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def epoch(ts: str | None) -> float | None:
    """Seconds since the epoch of a Spark UTC time string, as the REST
    API (2026-01-02T03:04:05.678GMT) and streaming progress
    (2026-01-02T03:04:05.678Z) print them."""
    if not ts:
        return None
    dt = datetime.strptime(ts.rstrip("Z").replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Reader for the driver's localhost monitoring REST API."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def driver_gc_ms(self) -> float:
        return float(sum(e.get("totalGCTime", 0) for e in self.get("/allexecutors")))

    def storage(self) -> tuple[int, int]:
        """(bytes held by persisted frames, number of persisted frames)."""
        rdds = self.get("/storage/rdd")
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds), len(rdds)

    def task_skew(self, stage_id: int, attempt: int) -> float:
        q = self.get(f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0


COUNTERS = ("run_ms", "cpu_ms", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "task_skew")


class SpanStats:
    """Jobs and stage metrics per span (its own and its descendants')."""

    def __init__(self, spans: list[Span], rest: SparkRest):
        self.spans = spans
        self.rest = rest
        jobs = rest.get("/jobs")
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in rest.get("/stages") if s.get("status") == "COMPLETE"}
        own: dict[str, list[dict]] = {}
        for j in jobs:
            if j.get("jobGroup"):
                own.setdefault(j["jobGroup"], []).append(j)
        kids: dict[str, list[str]] = {}
        for s in spans:
            if s.parent:
                kids.setdefault(s.parent, []).append(s.sid)

        def subtree(sid):
            out = list(own.get(sid, []))
            for k in kids.get(sid, []):
                out += subtree(k)
            return out

        self.jobs = {s.sid: subtree(s.sid) for s in spans}
        self.stages = {}
        for s in spans:
            ids = {i for j in self.jobs[s.sid] for i in j.get("stageIds", [])}
            self.stages[s.sid] = [v for (sid, _), v in stages.items() if sid in ids]

    def job_intervals(self, sid: str) -> list[tuple[float, float]]:
        out = []
        for j in self.jobs[sid]:
            a, b = epoch(j.get("submissionTime")), epoch(j.get("completionTime"))
            if a is not None and b is not None:
                out.append((a, b))
        return out

    def driver_gap_ms(self, span: Span) -> float:
        busy = covered(self.job_intervals(span.sid), span.start, span.end)
        return 1000 * ((span.end - span.start) - busy)

    def stage_sum(self, sid: str, key: str) -> float:
        return float(sum(st.get(key, 0) for st in self.stages[sid]))

    def counters(self, span: Span) -> dict[str, float]:
        st = self.stages[span.sid]
        skew = 1.0
        if st:
            wide = max(st, key=lambda x: x.get("numTasks", 0))
            if wide.get("numTasks", 0) > 1:
                skew = self.rest.task_skew(wide["stageId"], wide["attemptId"])
        return {
            "run_ms": self.stage_sum(span.sid, "executorRunTime"),
            "cpu_ms": self.stage_sum(span.sid, "executorCpuTime") / 1e6,
            "shuffle_write_bytes": self.stage_sum(span.sid, "shuffleWriteBytes"),
            "shuffle_read_bytes": self.stage_sum(span.sid, "shuffleReadBytes"),
            "spill_bytes": self.stage_sum(span.sid, "memoryBytesSpilled")
            + self.stage_sum(span.sid, "diskBytesSpilled"),
            "task_skew": skew,
        }


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default
