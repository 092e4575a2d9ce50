"""Op timing, span tracing and the statistics the report is built from.

Every timed call into the library runs inside `Tracer.span`. With
tracing off a span only reads the wall clock and the CPU clocks of the
driver process and its JVM, which the end-to-end metrics need. With
tracing on it also gives the call its own Spark job group, reads the
group's jobs, stages and tasks from the status tracker when
the call returns, and records the span (name, layer, start, end,
parent, op id) in memory; `Tracer.dump` writes them out at the end.
The tracer times its own bookkeeping, which is the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float]:
    """Return (value, percentile) of the highest percentile that has at
    least `TAIL_BEYOND` samples beyond it. A sample too small to
    support one above the median reports the median (percentile 50)."""
    if not values:
        raise ValueError("tail of an empty sample")
    s = sorted(values)
    n = len(s)
    if n - TAIL_BEYOND < 1 or (n - TAIL_BEYOND) / n <= 0.5:
        return statistics.median(s), 50.0
    # s[n - 11] has exactly ten samples above it: the (n-10)/n quantile.
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def cpu_clock(pid: int) -> int:
    """Clock id of the CPU time of process `pid`, all threads together
    (what Linux's clock_getcpuclockid returns), for time.clock_gettime."""
    return ((~pid) << 3) | 2


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    kind: str  # read | write | maintenance | personality | setup | inner
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    plan_ms: float = 0.0
    #: CPU seconds the driver process and its JVM used during the span
    cpu_s: float = 0.0
    phase: str = "measure"  # setup | measure
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    that its direct children cover. Overlapping children are merged
    first, so time two children share is subtracted once."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.span_id] = s.duration - covered
    return out


class Tracer:
    """Records one span per library call. `sc` is the SparkContext; it
    is only touched when `enabled`. `cpu_pids` are the processes whose
    CPU time a span counts."""

    def __init__(self, sc, enabled: bool, cpu_pids: tuple[int, ...] = ()):
        self.sc = sc
        self.enabled = enabled
        self._cpu_clocks = [cpu_clock(pid) for pid in cpu_pids]
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        #: phase stamped on new spans; metrics use the "measure" ones
        self.phase = "measure"
        self._stack: list[Span] = []
        self._next_op = 0

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "inner"):
        """Time one call. A span opened outside any other starts a new
        op (its `op_id`); nested spans share their root's op id."""
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_op += 1
        s = Span(
            span_id=len(self.spans),
            name=name,
            layer=layer,
            kind=kind,
            op_id=self._next_op,
            parent=parent.span_id if parent else None,
            start=0.0,
            phase=self.phase,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            t0 = time.perf_counter()
            self.sc.setJobGroup(self._group(s), f"{layer}:{name}")
            self.overhead_s += time.perf_counter() - t0
        cpu0 = self.cpu_now()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_s = self.cpu_now() - cpu0
            self._stack.pop()
            if self.enabled:
                t0 = time.perf_counter()
                self._count_jobs(s)
                if parent is not None:
                    self.sc.setJobGroup(self._group(parent), f"{parent.layer}:{parent.name}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self.overhead_s += time.perf_counter() - t0

    def cpu_now(self) -> float:
        """CPU seconds used so far by the processes in `cpu_pids`."""
        return sum(time.clock_gettime(c) for c in self._cpu_clocks)

    def plan_phases(self, s: Span, df) -> None:
        """Add the analysis, optimization and planning time Spark's
        query tracker recorded for `df` (already executed) to `s`."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            s.plan_ms += it.next()._2().durationMs()
        self.overhead_s += time.perf_counter() - t0

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.span_id}"

    def _count_jobs(self, s: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(self._group(s)):
            s.jobs += 1
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                s.stages += 1
                stage = st.getStageInfo(sid)
                if stage is not None:
                    s.tasks += stage.numTasks

    def subtree(self, s: Span) -> list[Span]:
        """`s` and every span under it."""
        ids = {s.span_id}
        out = [s]
        for other in self.spans[s.span_id + 1:]:
            if other.parent in ids:
                ids.add(other.span_id)
                out.append(other)
        return out

    def totals(self, s: Span) -> dict[str, float]:
        """Jobs, stages, tasks and plan ms of `s` and its descendants."""
        sub = self.subtree(s)
        return {
            k: sum(getattr(x, k) for x in sub)
            for k in ("jobs", "stages", "tasks", "plan_ms")
        }

    def roots(self) -> list[Span]:
        """Root spans of the measured phase: one per timed op."""
        return [s for s in self.spans if s.parent is None and s.phase == "measure"]

    def named(self, name: str) -> list[Span]:
        """Measured spans called `name`."""
        return [s for s in self.spans if s.name == name and s.phase == "measure"]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=selfs[s.span_id]) for s in self.spans],
                fh,
            )
