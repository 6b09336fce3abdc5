"""Tracing read from outside the library: spans, py4j round trips and
Spark stage metrics.

Spans are recorded by the benchmark around its calls into each layer
and kept in memory; ``Tracer.dump`` writes them out when the run ends.
Spans of one operation (a round trip, a drain, a query) share an
``op`` id. A layer's self time is its span's wall minus the part of
that interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=self._next_id,
            name=name,
            op=parent.op if parent else self._next_id,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        self._next_id += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run": header, "spans": [asdict(s) for s in self.spans]}, f
            )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> wall minus the union of its children's intervals,
    each child clipped to the parent's interval (so never negative)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.wall - covered
    return out


def self_by_name(spans: list[Span]) -> dict[str, list[float]]:
    """Layer name -> self time of each of its spans, in span order."""
    st = self_times(spans)
    out: dict[str, list[float]] = {}
    for s in sorted(spans, key=lambda s: s.start):
        out.setdefault(s.name, []).append(st[s.id])
    return out


class Py4jCounter:
    """Counts Python->JVM round trips by wrapping
    ``ClientServerConnection.send_command`` (the pinned-thread gateway
    PySpark uses). ``paused`` excludes the benchmark's own status
    queries from the count."""

    def __init__(self):
        self.calls = 0
        self._paused = 0
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        counter = self

        def counted(conn, *a, **k):
            if not counter._paused:
                counter.calls += 1
            return orig(conn, *a, **k)

        self._orig = orig
        ClientServerConnection.send_command = counted

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.clientserver import ClientServerConnection

            ClientServerConnection.send_command = self._orig
            self._orig = None

    @contextlib.contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1


STAGE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
)


class SparkStats:
    """Job, stage and task metrics of the jobs run since a mark.

    Job ids are sequential, so the jobs of one operation are the ids
    past the mark taken before it. Stage ids come from
    ``statusTracker().getJobInfo``; stage metrics from the status
    store's ``lastStageAttempt``, which is kept with the UI disabled.
    Stages a job skipped (shuffle output reused) have no attempt and
    are not counted.
    """

    def __init__(self, spark, counter: Py4jCounter | None = None):
        self.sc = spark.sparkContext
        self.counter = counter
        self._next = 0
        self._pending: list[int] = []

    def _quiet(self):
        return self.counter.paused() if self.counter else contextlib.nullcontext()

    def _new_job_ids(self) -> list[int]:
        """Ids of jobs started since the last call, once the listener
        bus has delivered their events; at most 3 missing ids in a row
        are looked past."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        found, probe, misses = [], self._next, 0
        while misses < 3:
            if tracker.getJobInfo(probe) is None:
                misses += 1
            else:
                found.append(probe)
                misses = 0
            probe += 1
        if found:
            self._next = found[-1] + 1
        return found

    def mark(self) -> None:
        """Forget every job started so far."""
        with self._quiet():
            self._new_job_ids()
        self._pending = []

    def take_jobs(self) -> int:
        """Number of jobs started since the last ``take_jobs`` or
        ``mark``; they still count in ``since_mark``."""
        with self._quiet():
            new = self._new_job_ids()
        self._pending += new
        return len(new)

    def since_mark(self) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        with self._quiet():
            jobs = self._pending + self._new_job_ids()
            self._pending = []
            tracker = self.sc.statusTracker()
            store = self.sc._jsc.sc().statusStore()
            stage_ids: set[int] = set()
            for j in jobs:
                out["jobs"] += 1
                stage_ids.update(tracker.getJobInfo(j).stageIds)
            for sid in sorted(stage_ids):
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError as e:
                    if "NoSuchElementException" not in str(e.java_exception):
                        raise
                    continue  # skipped stage: never attempted
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                out["spill_mb"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                ) / 2**20
        return out
