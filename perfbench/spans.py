"""Spans around calls into the engine's layers, with Spark's own counts.

A span records name, start, end, parent and the run's trace id.  While a
span is open its id is the Spark job group, so every job the layer submits
is tagged with it; when the span closes, the tracer waits for Spark's
listener bus to drain and reads the new jobs from the status store
(``SparkContext.statusStore()``): job group, stages, and per stage the
task count, ``executorRunTime``, shuffle bytes and spill.  The store
evicts old stages, so the read happens right after each span.

With tracing off, :meth:`Tracer.span` only yields: no job group, no
status-store reads.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    # counts of the jobs submitted while this span (not a child) was open
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    # tracer bookkeeping done inside this span while closing its children
    overhead_s: float = 0.0
    children: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        # children run sequentially inside their parent (one client thread)
        return (
            self.wall_s - sum(c.wall_s for c in self.children) - self.overhead_s
        )

    def total(self, attr: str):
        """``attr`` summed over this span and every descendant."""
        return getattr(self, attr) + sum(c.total(attr) for c in self.children)


class Tracer:
    def __init__(self, sc, enabled: bool, trace_id: str):
        self.sc = sc
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._last_job = -1
        # wall time the tracer itself spends in bookkeeping (status-store
        # reads, listener-bus waits) — the directly attributable overhead
        self.bookkeeping_s = 0.0
        if enabled:
            self._read_new_jobs()  # skip jobs that ran before tracing

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.trace_id}-{next(self._ids)}",
            name=name,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        self.spans.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._attribute(s, parent)

    def _attribute(self, closed: Span, parent: Span | None) -> None:
        """Credit every job finished since the last read to the span whose
        id is its job group.  The time this takes is charged to the parent
        as overhead, so it counts in no span's self time."""
        t0 = time.perf_counter()
        by_id = {x.id: x for x in self._stack}
        by_id[closed.id] = closed
        for group, stage_rows in self._read_new_jobs():
            owner = by_id.get(group)
            if owner is None:
                continue
            owner.jobs += 1
            for st in stage_rows:
                owner.stages += 1
                owner.tasks += st["tasks"]
                owner.executor_run_s += st["run_ms"] / 1000.0
                owner.shuffle_write_bytes += st["shuffle_write"]
                owner.shuffle_read_bytes += st["shuffle_read"]
                owner.spill_bytes += st["spill"]
        dt = time.perf_counter() - t0
        self.bookkeeping_s += dt
        if parent:
            parent.overhead_s += dt

    def _read_new_jobs(self):
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        out = []
        newest = self._last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = int(j.jobId())
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            stage_rows = []
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Exception:  # stage evicted or never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stage_rows.append(
                    {
                        "tasks": int(st.numTasks()),
                        "run_ms": int(st.executorRunTime()),
                        "shuffle_write": int(st.shuffleWriteBytes()),
                        "shuffle_read": int(st.shuffleReadBytes()),
                        "spill": int(st.memoryBytesSpilled())
                        + int(st.diskBytesSpilled()),
                    }
                )
            out.append((group, stage_rows))
        self._last_job = newest
        return out

    # -- reporting -----------------------------------------------------------
    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.self_s
        return out

    def dump(self, path: str, extra: dict) -> None:
        rows = [
            {
                "trace_id": self.trace_id,
                "span_id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": s.self_s,
                "jobs": s.jobs,
                "stages": s.stages,
                "tasks": s.tasks,
                "executor_run_s": s.executor_run_s,
                "shuffle_write_bytes": s.shuffle_write_bytes,
                "shuffle_read_bytes": s.shuffle_read_bytes,
                "spill_bytes": s.spill_bytes,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(
                {
                    "trace_id": self.trace_id,
                    "bookkeeping_s": self.bookkeeping_s,
                    "self_s_by_name": self.self_time_by_name(),
                    **extra,
                    "spans": rows,
                },
                f,
                indent=1,
            )
