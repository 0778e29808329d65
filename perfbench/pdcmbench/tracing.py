"""Spans around the benchmark's calls into each layer.

A span records its name, start, end, parent span and iteration id. Spans
stay in memory and are written out when the run ends. Each span that
counts jobs sets its own Spark job group on the calling thread; jobs the
program submits from its own worker threads carry no group and are
attributed, after the run, to the innermost counting span that was open
when their first stage was submitted.

With tracing off every ``layer`` call is a no-op context.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int | None
    thread: int
    start: float = 0.0
    end: float = 0.0
    group: str | None = None


def timed(span: Span) -> bool:
    """A span of a timed iteration (set-up spans carry iteration -1)."""
    return span.iteration is not None and span.iteration >= 0


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span.end - span.start) - covered


class Tracer:
    def __init__(self, engine, enabled: bool):
        self.engine = engine
        self.enabled = enabled
        self.spans: list[Span] = []
        # seconds the tracer itself spent opening and closing spans
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._owners: dict[int, int | None] | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def layer(self, name: str, iteration: int | None = None,
              jobs: bool = True):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if iteration is None and parent is not None:
            iteration = parent.iteration
        with self._lock:
            span = Span(len(self.spans), name,
                        parent.id if parent else None, iteration,
                        threading.get_ident())
            self.spans.append(span)
        if jobs:
            span.group = f"perfbench-span-{span.id}"
            self.engine.set_job_group(span.group)
        stack.append(span)
        dt = time.perf_counter() - t0
        span.start = time.time()
        try:
            yield span
        finally:
            span.end = time.time()
            t1 = time.perf_counter()
            stack.pop()
            if jobs:
                outer = next((s for s in reversed(stack) if s.group), None)
                if outer is not None:
                    self.engine.set_job_group(outer.group)
                else:
                    self.engine.clear_job_group()
            dt += time.perf_counter() - t1
            with self._lock:
                self.overhead_s += dt

    def wrap(self, name: str, fn):
        """``fn`` run inside a span of ``name`` (for wrapping a layer's
        public function that another layer calls)."""

        def traced(*args, **kwargs):
            with self.layer(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # ---- after the run ----
    def job_owners(self) -> dict[int, int | None]:
        """job id -> id of the span it ran under (None: outside spans).
        Computed once, after the traced work has finished."""
        if self._owners is not None:
            return self._owners
        owners: dict[int, int | None] = {}
        counting = [s for s in self.spans if s.group]
        for s in counting:
            for jid in self.engine.jobs_in_group(s.group):
                owners[jid] = s.id
        for jid in self.engine.jobs_in_group(None):
            t = self.engine.job_start_time(jid)
            owner = None
            if t is not None:
                live = [s for s in counting if s.start <= t <= s.end]
                if live:
                    owner = max(live, key=lambda s: s.start).id
            owners[jid] = owner
        self._owners = owners
        return owners

    def summary(self, include=None) -> dict[str, dict[str, float]]:
        """Per span name: calls, total and self seconds, and the engine
        work of the jobs attributed to it. ``include`` selects spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, dict[str, float]] = {}
        picked = {s.id for s in self.spans if include is None or include(s)}
        for s in self.spans:
            if s.id not in picked:
                continue
            row = out.setdefault(s.name, {
                "calls": 0, "total_s": 0.0, "self_s": 0.0,
                "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            })
            row["calls"] += 1
            row["total_s"] += s.end - s.start
            row["self_s"] += self_time(s, children.get(s.id, []))
        by_name: dict[str, list[int]] = {}
        for jid, sid in self.job_owners().items():
            if sid in picked:
                by_name.setdefault(self.spans[sid].name, []).append(jid)
        for name, jids in by_name.items():
            for k, v in self.engine.job_counts(jids).items():
                out[name][k] += v
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]},
                      fh, indent=1)
