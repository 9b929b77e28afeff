"""Spans and per-layer readings for the traced run.

Spans are kept in memory and written out once, when the run ends.
The benchmark opens the workload → pass → call → {fn, collect} spans
around its own calls into the engine. Spark jobs (from the status
store) and stream triggers (from a ``StreamingQueryListener``) become
children of the innermost benchmark span whose window holds their
start: the load is one client in a closed loop, so the attribution by
time window is exact.

All times are epoch seconds from ``time.time()``, the clock the status
store and the listener report in.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str  # workload | pass | call | fn | collect | job | trigger
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span store for one run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, kind: str, name: str, parent: Span | None, **attrs) -> Span:
        span = Span(len(self.spans), parent.id if parent else None, kind, name,
                    time.time(), float("nan"), attrs)
        self.spans.append(span)
        return span

    def close(self, span: Span) -> Span:
        span.end = time.time()
        return span

    def add(self, kind: str, name: str, start: float, end: float, **attrs) -> Span:
        """Add a finished span, parented to the innermost open-window
        benchmark span that holds ``start``."""
        holders = [s for s in self.spans
                   if s.kind not in ("job", "trigger") and s.start <= start <= s.end]
        parent = max(holders, key=lambda s: (s.start, s.id), default=None)
        span = Span(len(self.spans), parent.id if parent else None, kind, name,
                    start, end, attrs)
        self.spans.append(span)
        return span

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - union_length(kids, span.start, span.end)

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "kind": s.kind, "name": s.name,
             "start": s.start, "end": s.end, "self_s": self.self_time(s), **s.attrs}
            for s in self.spans
        ]


# ------------------------------------------------------- Spark status store


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def read_jobs(spark, lo: float, hi: float) -> tuple[list[dict], list[dict]]:
    """Jobs submitted in [lo, hi], and the metrics of the stages they ran."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        sub = _opt_ms(j.submissionTime())
        if sub is None or not lo <= sub <= hi:
            continue
        end = _opt_ms(j.completionTime()) or hi
        jobs.append({"id": j.jobId(), "start": sub, "end": end,
                     "stages": set(_seq(j.stageIds())),
                     "group": j.jobGroup().get() if j.jobGroup().isDefined() else None})
    wanted = set().union(*(j["stages"] for j in jobs)) if jobs else set()
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = []
    for s in _seq(store.stageList(None, False, False, quantiles, None)):
        if s.stageId() not in wanted or s.status().toString() == "SKIPPED":
            continue
        stages.append({
            "tasks": s.numTasks(), "failed_tasks": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1e3, "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_read": s.shuffleReadBytes(), "shuffle_write": s.shuffleWriteBytes(),
            "input": s.inputBytes(), "output": s.outputBytes()})
    for j in jobs:
        j["stages"] = sorted(j["stages"])
    return jobs, stages


def final_phases_s(df) -> float:
    """Analysis + optimization + planning time of a returned DataFrame."""
    total = 0.0
    for kv in _seq(df._jdf.queryExecution().tracker().phases()):
        total += kv._2().durationMs() / 1e3
    return total


# ------------------------------------------------------ stream listener


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_listener():
    """A ``StreamingQueryListener`` that records query start, progress
    and termination events (thread-safe: events arrive on the py4j
    callback thread)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.started: dict[str, float] = {}
            self.ended: dict[str, float] = {}
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.started[str(event.runId)] = _iso(event.timestamp)

        def onQueryProgress(self, event) -> None:
            p = event.progress
            start = _iso(p.timestamp)
            d = dict(p.durationMs)
            with self.lock:
                self.progress.append({
                    "run": str(p.runId), "batch": p.batchId, "start": start,
                    "end": start + d.get("triggerExecution", 0) / 1e3,
                    "rows": p.numInputRows, "ms": d})

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.ended[str(event.runId)] = time.time()

        def settle(self, timeout: float = 10.0) -> None:
            """Wait until every started query has reported termination."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self.lock:
                    if set(self.started) <= set(self.ended):
                        return
                time.sleep(0.05)

    return Recorder()
