"""Spans recorded around calls into the package, and Spark's own job
accounting read back from its status stores.

Both are used only by a traced run (`--trace 1`); an untraced run makes
no status-store reads and opens no spans, so its timings carry none of
this cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    rid: str  # one id per request or phase; spans of one request share it
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """sid -> the span's duration minus the part of its interval that its
    direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s.start), min(hi, s.end)) for lo, hi in children.get(s.sid, [])
        ]
        out[s.sid] = s.dur - union_length(clipped)
    return out


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, `span` is a bare yield."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        """Record `name` around the block; `rid` defaults to the
        enclosing span's."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            rid=rid if rid is not None else (parent.rid if parent else ""),
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def paused(self):
        """Record no spans inside the block."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                [{**asdict(s), "self": st[s.sid]} for s in self.spans], fh
            )


@dataclass
class JobStats:
    """What Spark ran for one job group."""

    jobs: int = 0
    stages: int = 0  # executed stage attempts (skipped stages excluded)
    tasks: int = 0
    job_ms: float = 0.0  # union of the jobs' submit..complete intervals
    exec_cpu_ms: float = 0.0
    shuffle_kb: float = 0.0  # read + write
    gc_ms: float = 0.0


class SparkStatus:
    """Reads job, stage and task figures for a job group from the
    driver's status store (`sc._jsc.sc().statusStore()`), which Spark
    fills from its listener bus even with the UI disabled."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._n = 0

    def new_group(self, label: str) -> str:
        self._n += 1
        group = f"bench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _job_ids(self, group: str, timeout: float) -> list:
        """Job ids of the group, read once the listener bus has delivered
        every event posted so far (it delivers them asynchronously, so a
        job that just ended may not be in the store yet)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(int(timeout * 1000))
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, group: str, timeout: float = 10.0) -> JobStats:
        out = JobStats()
        intervals = []
        for j in self._job_ids(group, timeout):
            jd = self.store.job(j)
            out.jobs += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append(
                    (
                        jd.submissionTime().get().getTime(),
                        jd.completionTime().get().getTime(),
                    )
                )
            it = jd.stageIds().iterator()
            while it.hasNext():
                try:
                    st = self.store.lastStageAttempt(it.next())
                except Exception:  # stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numTasks()
                out.exec_cpu_ms += st.executorCpuTime() / 1e6
                out.shuffle_kb += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1024
                out.gc_ms += st.jvmGcTime()
        out.job_ms = union_length(intervals)
        return out
