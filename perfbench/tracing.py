"""Span tracing around the benchmark's calls into the program's layers.

A :class:`Tracer` records spans (name, start, end, parent) in memory
and resolves them when the run ends. When tracing is on, every span
runs its Spark work under a job group of its own (job groups are
per-thread in PySpark's pinned-thread mode), so the jobs, tasks and
failed tasks each span caused are read back from
``SparkContext.statusTracker()``. When tracing is off, :meth:`span`
records nothing and sets no job group.

Self time of a span is its duration minus the part of it that its child
spans cover; a layer's self time is the sum over its spans.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# span-name prefix -> program module (the layer) it times
LAYERS = {
    "embedding.": "functions.embedding",
    "export.": "sources.export",
    "vector_table.": "vector_table",
    "ivf.": "operators.ivf",
    "knn.": "operators.knn",
    "dedup.": "operators.dedup",
    "queries.": "queries",
}


def layer_of(name: str) -> str:
    for prefix, layer in LAYERS.items():
        if name.startswith(prefix):
            return layer
    return "bench"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Span | None = None
    group: str | None = None
    children: list[Span] = field(default_factory=list)
    work: float = 0.0  # rows or documents the span processed, where counted
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def self_seconds(self) -> float:
        """Duration minus the union of the children's intervals."""
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(self.children, key=lambda s: s.start):
            s, e = max(c.start, self.start), min(c.end, self.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.seconds - covered


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seq = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def paused(self, pause: bool):
        """Suspend tracing on this thread for the enclosed block when
        ``pause`` is true (the traced run alternates traced and untraced
        operations to measure the tracing overhead)."""
        before = getattr(self._local, "paused", False)
        self._local.paused = pause
        try:
            yield
        finally:
            self._local.paused = before

    def active(self) -> bool:
        return self.enabled and not getattr(self._local, "paused", False)

    @contextmanager
    def span(self, name: str):
        """Time the enclosed block as span ``name``; the innermost open
        span of this thread is its parent. Yields the span, or None when
        tracing is off."""
        if not self.active():
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._seq += 1
            group = f"perfbench-{self._seq}"
        sp = Span(name, 0.0, parent=parent, group=group)
        self.sc.setJobGroup(group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)
                if parent is not None:
                    parent.children.append(sp)

    def resolve(self, timeout: float = 10.0) -> None:
        """Fill each span's job, task and failed-task counts from the
        status tracker, once the listener has seen every job end."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline and st.getActiveJobsIds():
            time.sleep(0.05)
        time.sleep(0.2)  # listener-bus lag after the last job ends
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(sp.group)
            sp.jobs = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        sp.tasks += stage.numTasks
                        sp.failed_tasks += stage.numFailedTasks

    # -- summaries ------------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds_by_layer(self, roots: list[Span]) -> dict[str, float]:
        """Self seconds per layer over ``roots`` and all their descendants."""
        out: dict[str, float] = {}
        todo = list(roots)
        while todo:
            sp = todo.pop()
            layer = layer_of(sp.name)
            out[layer] = out.get(layer, 0.0) + sp.self_seconds()
            todo.extend(sp.children)
        return out
