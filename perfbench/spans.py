"""In-memory span tracer, Spark job counters and the tail-percentile rule.

Spans are recorded by the benchmark around its calls into each layer of
the package (never inside the package). A span holds its name, start,
end, parent span and the id of the operation it belongs to; they are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """Collects nested spans; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool = True, clock=time.perf_counter):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._clock = clock
        self._stack: list[int] = []
        self._op = -1

    def begin_op(self, op: int) -> None:
        self._op = op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, self._clock(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = self._clock()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part of that interval its
        child spans cover. Children of one parent run one after another
        (a single client thread), so their durations add up."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: total time, self time and span count."""
        out: dict[str, dict[str, float]] = {}
        for s, own in zip(self.spans, self.self_times()):
            d = out.setdefault(s.name, {"total_s": 0.0, "self_s": 0.0,
                                        "n": 0})
            d["total_s"] += s.end - s.start
            d["self_s"] += own
            d["n"] += 1
        return out

    def overhead_s(self, root: str = "op", own: str = "trace.",
                   per_span_s: float | None = None) -> float:
        """Time the tracing itself added inside the ``root`` spans: the
        spans named ``own...`` (work done only to measure, such as
        reading gauges) plus the bookkeeping of every span there."""
        if per_span_s is None:
            per_span_s = span_cost()
        inside, extra = set(), 0.0
        for s in self.spans:  # parents come before their children
            if s.name == root or s.parent in inside:
                inside.add(s.sid)
                if s.name.startswith(own):
                    extra += s.end - s.start
        return extra + per_span_s * len(inside)

    def write(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=o)
                       for s, o in zip(self.spans, own)], f)


def span_cost(n: int = 2000) -> float:
    """Seconds one span costs its caller: open and close, recorded."""
    t = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def tail(values: list[float], beyond: int = 10):
    """``(value, percentile, n)``: the highest percentile of ``values``
    that has at least ``beyond`` samples above it.

    With ``n`` sorted samples that is the ``n - beyond``-th smallest, the
    ``100 * (n - beyond) / n`` percentile. Below ``2 * beyond`` samples
    that percentile would lie below the median, which is no tail; the
    maximum is reported instead, as percentile 100, so a short run still
    shows its slowest operation."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return xs[-1], 100.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median(values: list[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


class SparkCounter:
    """Jobs, stages, tasks and failed tasks per operation, read from the
    status tracker under a job group set for each operation."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.groups: list[str] = []

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)
        self.groups.append(name)

    def counts(self) -> dict[str, int]:
        jobs = stages = tasks = failed = 0
        for g in self.groups:
            for j in self.tracker.getJobIdsForGroup(g):
                info = self.tracker.getJobInfo(j)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed_tasks": failed}
