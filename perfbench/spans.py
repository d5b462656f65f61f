"""Spans, Spark stage attribution and the benchmark's statistics.

A span is opened by the benchmark around one of its own calls into a
program module (``with tracer.span("plans"): q.fn(...)``). Spans are kept
in memory and summarised when the run ends. While a span is open its
own Spark job group is set, so every job the call launches is attributed
to exactly one span, the innermost; the group in force before is
restored on exit. Right after the call the span's jobs are resolved to
stages through the status store (``spark.ui.enabled=false`` keeps the
store, it only drops the web UI) and their counters are summed.

With tracing off, ``span`` is a no-op context manager, so the untraced
run executes the same calls without any bookkeeping.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# StageData accessor -> counter name. Times are ms in the store.
STAGE_COUNTERS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "run_ms",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.sc = None  # SparkContext, set once a session exists
        self.overhead_s = 0.0  # time spent attributing stages
        self.evicted_stages = 0
        self.counted_stages: set[int] = set()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        s = Span(name, 0.0, parent, self.op)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(sid)
        sc, group = self.sc, f"perfbench-{sid}"
        prev = None
        if sc is not None:
            prev = (
                sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"),
            )
            sc.setJobGroup(group, name)
        self.stack.append(sid)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
                self._attribute(s, sc, group)

    def _attribute(self, s: Span, sc, group: str) -> None:
        """Sum the counters of the stages the span's jobs ran. A stage id
        is counted once per run: a shuffle map stage reused by a later
        job belongs to the span that ran it, and a stage a job skipped
        (its output was already there) ran no tasks."""
        t0 = time.perf_counter()
        c = s.counters
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        c["jobs"] = len(jobs)
        stage_ids = set()
        for jid in jobs:
            info = sc.statusTracker().getJobInfo(jid)
            if info is None:
                self.evicted_stages += 1
                continue
            stage_ids.update(info.stageIds)
        store = sc._jsc.sc().statusStore()
        for sid in sorted(stage_ids - self.counted_stages):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted by spark.ui.retainedStages
                self.evicted_stages += 1
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            self.counted_stages.add(sid)
            for acc, key in STAGE_COUNTERS.items():
                c[key] = c.get(key, 0) + getattr(sd, acc)()
        self.overhead_s += time.perf_counter() - t0

    def self_time(self, s: Span) -> float:
        kids = [(self.spans[k].start, self.spans[k].end) for k in s.children]
        return s.duration - covered(kids, s.start, s.end)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that still has at
    least ten samples beyond it: the (n-11)-th smallest of n samples, at
    percentile 100*(n-11)/(n-1). Below 11 samples no value has ten beyond
    it; the maximum is returned at percentile 100 so the caller can see
    the run was too short for a tail."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return math.nan, math.nan, 0
    if n < 11:
        return xs[-1], 100.0, n
    k = n - 11
    return xs[k], 100.0 * k / (n - 1), n


@dataclass
class Tally:
    """Ops attempted and failed; an op fails when it raises or its output
    differs from the expected output."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
