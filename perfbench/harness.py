"""State shared by the workloads of one benchmark run: the session, the
seed, the clock, the tracer, pass/fail counts and per-layer figures."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import median
from perfbench.trace import JobStats, SparkStatus, Tracer


@dataclass
class Sample:
    wall_ms: float
    cpu_ms: float  # CPU time of this process and every process below it
    jobs: JobStats | None  # None when the sample was taken untraced


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    traced: bool
    work: str  # scratch directory of this run, inside the checkout
    tracer: Tracer = field(init=False)
    status: SparkStatus | None = field(init=False)
    samples: dict[str, list[Sample]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    round_s: list[float] = field(default_factory=list)  # timed rounds

    def __post_init__(self):
        self.tracer = Tracer(self.traced)
        self.status = SparkStatus(self.spark.sparkContext) if self.traced else None

    @contextmanager
    def op(self, key: str, rid: str, traced: bool | None = None):
        """Time one operation (a request or a phase) from call to its last
        row, in wall time and in CPU time (`tree_cpu_ms`). Traced, it also
        opens a span and charges Spark's jobs to a job group named after
        it; untraced, it records no spans at all, so in a traced run the
        untraced operations carry no tracing cost. The sample lands in
        `samples[key]` once the block exits without raising."""
        traced = self.traced if traced is None else traced
        group = self.status.new_group(key) if traced else None
        c0 = tree_cpu_ms()
        t0 = time.perf_counter()
        if traced:
            with self.tracer.span(key, rid):
                yield
        else:
            with self.tracer.paused():
                yield
        wall_ms = (time.perf_counter() - t0) * 1000.0
        # Spark's listener thread handles the events of this operation's
        # jobs after it returns; wait for it, so that CPU time is charged
        # here and not to whatever runs next
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(EVENTS_TIMEOUT_MS)
        cpu_ms = tree_cpu_ms() - c0
        jobs = None
        if group is not None:
            self.status.clear_group()
            jobs = self.status.collect(group)
        self.samples.setdefault(key, []).append(Sample(wall_ms, cpu_ms, jobs))

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def samples_of(self, key: str, traced: bool | None = None) -> list[Sample]:
        """The samples of `key`, optionally only the traced (True) or
        untraced (False) ones."""
        return [
            s for s in self.samples.get(key, [])
            if traced is None or (s.jobs is not None) == traced
        ]

    def p50_ms(self, key: str, traced: bool | None = None) -> float:
        return median(s.wall_ms for s in self.samples_of(key, traced))

    def best_cpu_ms(self, key: str, traced: bool | None = None) -> float:
        """Least CPU time over the samples of `key`. Code the JIT has not
        compiled yet, collection pauses and background work only ever add
        to a call, so the cheapest of a few warm calls moves least from
        run to run."""
        return min(s.cpu_ms for s in self.samples_of(key, traced))

    def spark_layer(self, key: str, with_exec: bool) -> None:
        """Median Spark figures over the traced samples of one key."""
        traced = self.samples_of(key, traced=True)
        if not traced:
            return
        L = self.layer
        L[f"spark.jobs.{key}"] = median(s.jobs.jobs for s in traced)
        L[f"spark.stages.{key}"] = median(s.jobs.stages for s in traced)
        L[f"spark.tasks.{key}"] = median(s.jobs.tasks for s in traced)
        L[f"spark.job_ms.{key}"] = median(s.jobs.job_ms for s in traced)
        L[f"spark.driver_ms.{key}"] = median(s.wall_ms - s.jobs.job_ms for s in traced)
        if with_exec:
            L[f"spark.exec_cpu_ms.{key}"] = median(s.jobs.exec_cpu_ms for s in traced)
            L[f"spark.shuffle_kb.{key}"] = median(s.jobs.shuffle_kb for s in traced)
            L[f"spark.gc_ms.{key}"] = median(s.jobs.gc_ms for s in traced)


EVENTS_TIMEOUT_MS = 10_000
_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")
# JVM JIT compiler threads, by the name /proc shows (cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file, or None if
    the process or thread is gone."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def tree_cpu_ms() -> float:
    """CPU time (user + system) used so far by this process and every
    process below it: the driver JVM and Spark's Python workers.
    Children that exited count through their parent's cutime/cstime.
    The JVM's JIT compiler threads are left out: they keep compiling
    long after warm-up, at times that differ from run to run, and their
    cost falls to zero in a long-lived session. Time the hypervisor
    steals is charged to no process, so this stretches less than wall
    time under host load (contention for the host's caches still slows
    it)."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, list[str]]] = {}
    for name in os.listdir("/proc"):
        st = _stat(f"/proc/{name}/stat") if name.isdigit() else None
        if st is not None:
            procs[int(name)] = st
            children.setdefault(int(st[1][1]), []).append(int(name))
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        if pid not in procs:
            continue
        comm, f = procs[pid]
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        if comm == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None and st[0] in JIT_THREADS:
                    ticks -= int(st[1][11]) + int(st[1][12])
    return ticks * _TICK_MS


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_ticks` readings."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / max(sum(d), 1)


class Rounds:
    """A time-boxed loop of whole rounds (one request of each type, or one
    pipeline pass); iterating yields the round number.

    Rounds are never cut short, so every type gets the same number of
    samples: the loop runs `need` rounds, then more only while half of
    one more round, at the mean pace so far, fits in `seconds`."""

    def __init__(self, seconds: float, need: int = 1):
        self.seconds, self.need = seconds, need
        self.durations: list[float] = []
        self.started = time.perf_counter()

    def _another(self) -> bool:
        if len(self.durations) < self.need:
            return True
        pace = sum(self.durations) / len(self.durations)
        return time.perf_counter() - self.started + pace / 2 <= self.seconds

    def __iter__(self):
        while self._another():
            t0 = time.perf_counter()
            yield len(self.durations)
            self.durations.append(time.perf_counter() - t0)


def collect_garbage(spark) -> None:
    """Full GC in Python and the driver JVM between warm-up and timing, so
    collection pauses left over from set-up do not land in the timed
    part."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    import sys

    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    """(seconds, result) of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def micro_us(fn, reps: int = 50) -> float:
    """Median microseconds of a cheap driver-side call over `reps` calls."""
    xs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        xs.append((time.perf_counter() - t0) * 1e6)
    return median(xs)
