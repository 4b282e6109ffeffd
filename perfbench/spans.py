"""In-memory span tracer for the benchmark's traced run.

Spans are recorded around calls into the program's public functions by
replacing those attributes from here, never by editing the program.
Each span carries (name, start, end, parent) and the Spark
jobs launched while it was the innermost open span: the tracer gives
every span its own job group, so ``getJobIdsForGroup`` returns exactly
the span's self jobs. Job, stage, task, shuffle and spill totals come
from Spark's status tracker and status store at span end.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    counts: list[int] = field(default_factory=list)  # DataFrame.count() results
    result: object = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; a disabled tracer passes calls
    straight through."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self._base_group = f"perfbench-{id(self)}"
        self.overhead_s = 0.0  # time spent in the tracer's own Spark calls

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        t0 = time.perf_counter()
        sp = Span(next(self._ids), name, parent.sid if parent else None, t0)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._collect_jobs(sp)
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.end

    def _set_group(self, sp: Span | None) -> None:
        group = f"{self._base_group}-{sp.sid}" if sp else self._base_group
        self.sc.setJobGroup(group, sp.name if sp else "perfbench")

    def _collect_jobs(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        sp.jobs = sorted(tracker.getJobIdsForGroup(f"{self._base_group}-{sp.sid}"))
        for jid in sp.jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                data = store.stageData(sid, False, None, False, None)
                for i in range(data.size()):
                    d = data.apply(i)
                    if d.numCompleteTasks() == 0:
                        continue  # skipped stage: its shuffle output was reused
                    sp.stages += 1
                    sp.tasks += d.numCompleteTasks()
                    sp.shuffle_write_bytes += d.shuffleWriteBytes()
                    sp.spill_bytes += d.memoryBytesSpilled() + d.diskBytesSpilled()
                    sp.output_bytes += d.outputBytes()
                    sp.output_rows += d.outputRecords()

    # -- wrapping --------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper; the
        span keeps the call's return value for the report."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name) as sp:
                sp.result = original(*args, **kwargs)
                return sp.result

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def capture_counts(self, frame_cls) -> None:
        """Record every ``frame_cls.count()`` result in the innermost open
        span (e.g. the stale-candidate count inside ``delete_stale``).
        Pass the session's concrete DataFrame class."""
        original = frame_cls.count

        def count(df):
            n = original(df)
            if self.enabled and self._stack:
                self._stack[-1].counts.append(n)
            return n

        frame_cls.count = count
        self._patched.append((frame_cls, "count", original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

def self_time(span: Span, spans: list[Span]) -> float:
    """Span wall minus the part of it its direct children cover
    (children of one span never overlap: the program is sequential)."""
    return span.wall - sum(c.wall for c in spans if c.parent == span.sid)


def subtree(span: Span, spans: list[Span]) -> list[Span]:
    """The span and all its descendants."""
    out, frontier = [span], [span.sid]
    while frontier:
        kids = [s for s in spans if s.parent in frontier]
        out += kids
        frontier = [k.sid for k in kids]
    return out
