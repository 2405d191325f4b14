"""In-memory spans recorded from the benchmark's own code around each
call into an engine layer, plus per-span Spark job/task counts read from
outside the engine through job groups and the status tracker.

A span is (id, name, start, end, parent, rid): ``parent`` is the span
open on the same thread when it started, ``rid`` the request it belongs
to (inherited from the parent unless given). Spans stay in memory and
are written out once, at exit (``write``)."""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None
    jobs: int | None = None
    tasks: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover
    (children may overlap each other; the union is subtracted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Span recorder. Disabled, ``span`` yields without recording or
    touching Spark, so the untraced run executes the same engine calls.

    Once ``sc`` (a SparkContext) is set, ``span(..., count_jobs=True)``
    runs the body under a fresh Spark job group and stores the number of
    jobs and completed tasks that group ran. Counts are read in
    ``resolve_counts``, outside every span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent inside the tracer itself
        self._ids = itertools.count(1)
        self._pending: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: str | None = None, count_jobs: bool = False):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = parent.rid
        sp = Span(next(self._ids), name, 0.0, 0.0,
                  parent.id if parent else None, rid)
        if count_jobs and self.sc is not None:
            self.sc.setJobGroup(f"pb-{sp.id}", name)
        stack.append(sp)
        sp.start = time.perf_counter()
        self._add_overhead(sp.start - t_in)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)
                if count_jobs and self.sc is not None:
                    self._pending.append(sp)
            if count_jobs and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._add_overhead(time.perf_counter() - sp.end)

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def resolve_counts(self) -> None:
        """Fill jobs/tasks of the job-counted spans closed so far from the
        status tracker. Waits for the listener bus first: job events
        reach the status store asynchronously. Call it often enough that
        the store (spark.ui.retainedJobs/Stages, 1000 by default) still
        holds the groups."""
        if not self.enabled or self.sc is None:
            return
        t0 = time.perf_counter()
        with self._lock:
            pending, self._pending = self._pending, []
        if pending:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            st = self.sc.statusTracker()
            for sp in pending:
                ids = st.getJobIdsForGroup(f"pb-{sp.id}")
                tasks = 0
                for j in ids:
                    info = st.getJobInfo(j)
                    for sid in info.stageIds if info else ():
                        stage = st.getStageInfo(sid)
                        if stage is not None:
                            tasks += stage.numCompletedTasks
                sp.jobs, sp.tasks = len(ids), tasks
        self._add_overhead(time.perf_counter() - t0)

    def write(self, path: str) -> None:
        times = self_times(self.spans)
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({**asdict(sp), "self": times[sp.id]}) + "\n")
