"""Pieces every workload shares: the run context, the outcome record,
the timed operation loop and the percentile rule."""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from spans import STAGE_FIELDS, Py4jCounter, SparkStats, Tracer

# Per-layer metrics every workload's traced run reports, per operation.
SHARED_LAYERS = (
    *(f"spark.{f}" for f in STAGE_FIELDS),
    "py4j.calls",
    "trace.overhead_s",
)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    traced: bool
    tracer: Tracer
    py4j: Py4jCounter | None
    stats: SparkStats | None
    work: str  # scratch directory of this run, inside the checkout
    session_start_s: float
    spark_conf: dict[str, str]  # extra Spark conf the session was built with


@dataclass
class Outcome:
    """What a workload measured.

    ``op_walls`` and ``op_cpu`` are the wall and CPU seconds of the
    timed operations run with tracing off; ``items`` is the number of
    correct items (lookups, terminal events) completed in ``items_wall``
    seconds of them. ``layers`` holds the per-layer metrics of the
    traced operations (traced run only) and ``report`` the workload's
    own named figures, with units.
    """

    setup_s: float = 0.0
    op_walls: list[float] = field(default_factory=list)
    op_cpu: list[float] = field(default_factory=list)
    items: float = 0
    items_wall: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    # set-up warms the drain and the query slice on two threads
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, what: str) -> None:
        with self._lock:
            self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr, flush=True)


def concurrently(*fns) -> None:
    """Run each ``fn()`` on its own thread, wait for all of them and
    re-raise the first exception. Spark runs the jobs of the threads side
    by side, which shortens a set-up whose parts each use fewer cores
    than the machine has."""
    errors: list[BaseException] = []

    def call(fn):
        try:
            fn()
        except BaseException as e:  # re-raised below, on the caller's thread
            errors.append(e)

    threads = [threading.Thread(target=call, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it: rank ``n - 10`` of ``n``. Below 20 samples that
    rank falls under the median, so the median is reported instead."""
    n = len(values)
    if n < 20:
        return 50.0, median(values)
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def proc_stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields from field 3 on) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:  # exited while we listed
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _ticks(fields: list[str], children: bool = True) -> int:
    """utime + stime, plus cutime + cstime (reaped children) if asked."""
    return sum(int(x) for x in fields[11:15 if children else 13])


def own_processes() -> dict[int, tuple[str, list[str]]]:
    """This process and every live process it started, at any depth:
    pid -> (comm, stat fields from field 3 on)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (got := proc_stat(f"/proc/{name}/stat")):
            procs[int(name)] = got
    me, mine = os.getpid(), {}
    for pid, got in procs.items():
        p = pid
        while p > 1 and p != me:
            p = int(procs[p][1][1]) if p in procs else 0
        if p == me:
            mine[pid] = got
    return mine


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants (the driver JVM and the Python workers it forks),
    less the JVM's JIT compiler threads. Unlike wall time this does not
    grow with the time the host steals, and leaving the JIT out keeps
    background compilation from counting as work."""
    total = 0
    for pid, (comm, fields) in own_processes().items():
        total += _ticks(fields)
        if comm == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                got = proc_stat(f"/proc/{pid}/task/{tid}/stat")
                if got and got[0].startswith(("C1 Compiler", "C2 Compiler")):
                    total -= _ticks(got[1], children=False)
    return total / os.sysconf("SC_CLK_TCK")


class Meter:
    """Wall and CPU seconds summed over the timed segments of one
    operation; checks and bookkeeping between segments are left out."""

    def __init__(self):
        self.wall = 0.0
        self.cpu = 0.0

    @contextlib.contextmanager
    def timed(self):
        cpu0 = tree_cpu_s()
        wall0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall += time.perf_counter() - wall0
            self.cpu += tree_cpu_s() - cpu0


def timed_ops(ctx: Ctx, op) -> tuple[list[Meter], list[Meter]]:
    """Run ``op(k, traced, meter)`` until ``ctx.seconds`` have passed;
    return the meters of the untraced calls and of the traced ones. In
    a traced run every other call is traced (at least one of each), so
    the two lists also give the tracing overhead."""
    plain, traced = [], []
    min_ops = 2 if ctx.traced else 1
    t0 = time.perf_counter()
    k = 0
    while k < min_ops or time.perf_counter() - t0 < ctx.seconds:
        on = ctx.traced and k % 2 == 0
        ctx.tracer.enabled = on
        meter = Meter()
        op(k, on, meter)
        print(
            f"op {k}{' traced' if on else ''} {meter.wall:.3f} s wall "
            f"{meter.cpu:.2f} s cpu", file=sys.stderr, flush=True,
        )
        (traced if on else plain).append(meter)
        k += 1
    ctx.tracer.enabled = False
    return plain, traced
