"""Spans around layer calls, and per-span figures from the Spark event log.

A :class:`Tracer` records one span (name, layer, start, end, parent) per
call the benchmark makes into a layer's public function. With tracing
on, each span runs under its own Spark job group, so every job the
call starts carries the span id; spans stay in memory and are written
once the run ends. Jobs of Structured Streaming micro-batches run under
the stream's own job group instead; they are matched to spans through
Spark's ``streaming.sql.batchId`` / ``sql.streaming.queryId`` job
properties, and each micro-batch becomes a child span of the layer call
that started its query.

:func:`read_event_log` parses the (uncompressed, non-rolling) event log
Spark writes with ``spark.eventLog.enabled``, and :func:`span_figures`
turns it into per-span job, task, CPU, shuffle, spill and GC figures.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime
from typing import Any, Iterator


@dataclass
class Span:
    span_id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Times spans always; tags Spark jobs and counts cache entries only
    when ``enabled``, so untraced runs make no extra JVM calls."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span]:
        sp = Span(f"s{next(self._ids)}", name, layer, None, time.time())
        self.spans.append(sp)
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(sp.span_id, name)
            sp.attrs["cache_before"] = self.cache_entries()
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def cache_entries(self) -> int:
        """Entries in Spark's cache manager (persisted DataFrames)."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
        return int(cm.numCachedEntries())

    def note_cache_left(self, sp: Span, *returned) -> None:
        """Record the cache entries ``sp``'s call left behind beyond the
        cached frames it returned. Call right after the layer call."""
        if not self.enabled:
            return
        levels = [df.storageLevel for df in returned if df is not None]
        kept = sum(1 for lv in levels if lv.useMemory or lv.useDisk)
        sp.attrs["cache_left"] = (self.cache_entries()
                                  - sp.attrs["cache_before"] - kept)

    def dump(self, extra: list[Span] = ()) -> list[dict[str, Any]]:
        return [asdict(s) for s in [*self.spans, *extra]]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    group: str | None
    query_id: str | None
    batch_id: int | None
    submit: float
    end: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    stage_tasks: dict[int, dict[str, float]]   # per stage, summed task metrics
    batches: list[dict[str, Any]]              # query progress per micro-batch
    query_starts: dict[str, float]             # query id -> start time


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def read_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_tasks: dict[int, dict[str, float]] = {}
    batches: list[dict[str, Any]] = []
    query_starts: dict[str, float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc = stage_tasks.setdefault(ev["Stage ID"], {
                    "tasks": 0, "cpu_ns": 0, "gc_ms": 0,
                    "shuffle_write_b": 0, "spill_b": 0})
                acc["tasks"] += 1
                acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            elif kind == "SparkListenerJobStart":
                p = ev.get("Properties") or {}
                batch = p.get("streaming.sql.batchId")
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], p.get("spark.jobGroup.id"),
                    p.get("sql.streaming.queryId"),
                    int(batch) if batch is not None else None,
                    ev["Submission Time"] / 1000.0, 0.0, list(ev["Stage IDs"]))
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind.endswith("StreamingQueryListener$QueryStartedEvent"):
                query_starts[ev["id"]] = _iso(ev["timestamp"])
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                pr = ev["progress"]
                start = _iso(pr["timestamp"])
                batches.append({
                    "query_id": pr["id"], "batch_id": int(pr["batchId"]),
                    "start": start,
                    "end": start + pr["durationMs"]["triggerExecution"] / 1000.0,
                })
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id),
                    stage_tasks, batches, query_starts)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
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


def _figures(jobs: list[Job], log: EventLog, start: float, end: float
             ) -> dict[str, float]:
    stages = {s for j in jobs for s in j.stages}
    sums = {"tasks": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write_b": 0,
            "spill_b": 0}
    for s in stages:
        for k, v in log.stage_tasks.get(s, {}).items():
            sums[k] += v
    busy = _covered([(j.submit, j.end) for j in jobs], start, end)
    return {
        "wall_s": end - start,
        "driver_s": max(0.0, (end - start) - busy),
        "jobs": len(jobs),
        "tasks": sums["tasks"],
        "executor_cpu_s": sums["cpu_ns"] / 1e9,
        "shuffle_write_mb": sums["shuffle_write_b"] / 1e6,
        "spill_mb": sums["spill_b"] / 1e6,
        "gc_s": sums["gc_ms"] / 1e3,
    }


def span_figures(spans: list[Span], log: EventLog) -> list[Span]:
    """Attach event-log figures to every layer span, and return the
    micro-batch child spans derived from streaming query progress.

    A layer span owns the jobs of its job group plus the jobs of every
    streaming query that started inside it."""
    by_group: dict[str, list[Job]] = {}
    by_batch: dict[tuple[str, int], list[Job]] = {}
    for j in log.jobs:
        if j.query_id is not None and j.batch_id is not None:
            by_batch.setdefault((j.query_id, j.batch_id), []).append(j)
        elif j.group is not None:
            by_group.setdefault(j.group, []).append(j)
    children: list[Span] = []
    for sp in spans:
        jobs = list(by_group.get(sp.span_id, []))
        queries = {q for q, t in log.query_starts.items()
                   if sp.start <= t <= sp.end}
        for b in sorted(log.batches, key=lambda b: b["start"]):
            if b["query_id"] not in queries:
                continue
            bjobs = by_batch.get((b["query_id"], b["batch_id"]), [])
            jobs += bjobs
            child = Span(f"{sp.span_id}.b{b['batch_id']}",
                         f"{sp.name}.batch", sp.layer, sp.span_id,
                         b["start"], b["end"], {"batch_id": b["batch_id"]})
            child.attrs.update(_figures(bjobs, log, child.start, child.end))
            children.append(child)
        sp.attrs.update(_figures(jobs, log, sp.start, sp.end))
    return children
