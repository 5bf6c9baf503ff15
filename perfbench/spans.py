"""In-memory span tracer for the traced run.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
replaces a public function or method of the program with a wrapper
that opens a span around the call, and ``Tracer.unpatch`` restores the
original. Nothing is added to the program itself. Each span holds its
name, start, end, the index of the span that caused it and the id of
the benchmark operation it belongs to; spans stay in memory until
``dump`` writes them out at the end of the run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.overhead_s = 0.0          # time spent in the tracer's own bookkeeping
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int | None = None):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None:
            op = self.spans[parent].op if parent is not None else self.op
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, 0.0, 0.0, parent, op))
        stack.append(idx)
        start = time.perf_counter()
        self.overhead_s += start - t0
        try:
            yield idx
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans[idx].start = start
            self.spans[idx].end = end
            self.overhead_s += time.perf_counter() - end

    def patch(self, owner: object, attr: str,
              name: str | Callable[[tuple, dict], str],
              around: Callable | None = None) -> None:
        """Wrap ``owner.attr`` in a span. ``name`` may compute the span
        name from the call's arguments; ``around(args, kwargs)`` may
        return a callback run after the call (outside the span), for
        measurements such as directory sizes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            after = None
            if around is not None:
                t0 = time.perf_counter()
                after = around(args, kwargs)
                tracer.overhead_s += time.perf_counter() - t0
            try:
                with tracer.span(label):
                    return orig(*args, **kwargs)
            finally:
                if after is not None:
                    t0 = time.perf_counter()
                    after()
                    tracer.overhead_s += time.perf_counter() - t0

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------- report
    def check(self) -> list[str]:
        """Problems with the span tree; empty when it is well-formed."""
        bad = []
        for i, s in enumerate(self.spans):
            if s.end < s.start:
                bad.append(f"span {i} {s.name}: ends before it starts")
            if s.parent is None:
                continue
            if not 0 <= s.parent < i:
                bad.append(f"span {i} {s.name}: parent {s.parent} not earlier")
                continue
            p = self.spans[s.parent]
            if s.start < p.start or s.end > p.end:
                bad.append(f"span {i} {s.name}: outside parent {p.name}")
            if s.op != p.op:
                bad.append(f"span {i} {s.name}: op {s.op} != parent op {p.op}")
        return bad

    def self_times(self, keep: Callable[[Span], bool] = lambda s: True
                   ) -> dict[str, tuple[float, int]]:
        """Per name: (span time minus the part its child spans cover,
        number of spans), over the spans ``keep`` selects."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for i, s in enumerate(self.spans):
            if not keep(s):
                continue
            covered, cur_end = 0.0, s.start
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cur_end), min(b, s.end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s.name][0] += (s.end - s.start) - covered
            out[s.name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans],
                       "overhead_s": self.overhead_s}, f)


class SparkCounters:
    """Exact job, stage and task counts between two snapshots, from the
    scheduler's id counters and the status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()

    def snapshot(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def since(self, snap: tuple[int, int]) -> tuple[int, int, int]:
        jobs0, stages0 = snap
        jobs1, stages1 = self.snapshot()
        tracker = self.sc.statusTracker()
        tasks = 0
        for sid in range(stages0, stages1):
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return jobs1 - jobs0, stages1 - stages0, tasks
