"""Spans around the benchmark's calls into the engine, with Spark's own job
and stage metrics attributed to them.

A span records (name, start, end, parent, request id) plus free-form
attributes. Spans live in memory; ``attribute()`` reads every job and stage
from the driver's application status store once, at the end, and charges
each to the innermost span whose wall-clock window contains its
submission time. Submission time, not the job group, is the key: the
Indexer and the IndexUpdater submit writes from their own thread pools,
which carry no job group of the caller.

With tracing disabled, ``span()`` only yields, so untraced runs pay nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Span:
    __slots__ = ("id", "name", "parent", "request", "start", "end", "attrs",
                 "jobs", "stages")

    def __init__(self, sid: int, name: str, parent: int | None,
                 request: int | None, attrs: dict):
        self.id, self.name, self.parent, self.request = sid, name, parent, request
        self.start = time.time()
        self.end: float | None = None
        self.attrs = attrs
        self.jobs: list[dict] = []
        self.stages: list[dict] = []

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    # -- Spark work charged to this span ------------------------------------
    def total(self, key: str) -> float:
        return float(sum(s.get(key) or 0 for s in self.stages))

    def tasks(self) -> int:
        return int(sum(s["numCompleteTasks"] for s in self.stages))

    def driver_gap_s(self) -> float:
        """Span wall time during which none of its jobs was running."""
        lo, hi = self.start * 1000.0, self.end * 1000.0
        busy = _union_length(
            (max(lo, j["submissionTime"]), min(hi, j.get("completionTime") or hi))
            for j in self.jobs)
        return max(0.0, (hi - lo - busy) / 1000.0)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_request = 0

    @contextmanager
    def span(self, name: str, request: bool = False, **attrs):
        """Time a call. request=True starts a new request id (one client
        call); nested spans inherit their parent's."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rid = parent.request if parent is not None else None
        if request:
            self._next_request += 1
            rid = self._next_request
        sp = Span(len(self.spans), name, parent.id if parent else None, rid,
                  attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def self_time_s(self, sp: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        return sp.wall_s - _union_length(
            (c.start, c.end) for c in self.spans
            if c.parent == sp.id and c.end is not None)

    # -- Spark attribution ------------------------------------------------------
    def attribute(self) -> None:
        """Charge every job and every stage attempt that ran to the
        innermost closed span whose window holds its submission time.
        Stages go by their own time, so a shuffle stage that a later job
        reuses (and skips) is counted once, where it ran."""
        if not self.enabled:
            return
        jobs, stages = _status_store_dump(self.spark)
        closed = [s for s in self.spans if s.end is not None]

        def innermost(ms: int | None) -> Span | None:
            if not ms:
                return None
            t, inner = ms / 1000.0, None
            for sp in closed:
                if sp.start <= t <= sp.end and (
                        inner is None or sp.start >= inner.start):
                    inner = sp
            return inner

        for job in jobs:
            sp = innermost(job.get("submissionTime"))
            if sp is not None:
                sp.jobs.append(job)
        for st in stages:
            sp = innermost(st.get("submissionTime"))
            if sp is not None:
                sp.stages.append(st)

    def dump(self, path: Path) -> None:
        if not self.enabled:
            return
        path.parent.mkdir(parents=True, exist_ok=True)
        out = [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "request": s.request, "start": s.start, "end": s.end,
                "self_s": self.self_time_s(s),
                "attrs": s.attrs, "jobs": [j["jobId"] for j in s.jobs],
                "tasks": s.tasks(),
                "executor_run_ms": s.total("executorRunTime"),
            }
            for s in self.spans if s.end is not None
        ]
        path.write_text(json.dumps(out, indent=1, default=str))


def _union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def _status_store_dump(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stage attempts) from the driver's live application status
    store, serialised JVM-side in one call each. The store is fed by a
    listener that runs with or without the web UI."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles,
                        jvm.java.util.ArrayList())))
    return jobs, stages
