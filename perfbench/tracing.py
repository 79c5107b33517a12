"""Spans around calls into the engine, and Spark's own per-job statistics.

Tracing happens only from the benchmark's files: ``Tracer.wrap`` replaces a
module attribute (an engine function) with a wrapper that records a span,
and ``SparkStats`` reads the driver's status store (jobs of a job group,
their stages, Catalyst phase times, JVM garbage-collection time). Spans are
kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index into Tracer.spans
    op_id: str


def self_time(spans: list[Span], index: int) -> float:
    """Duration of ``spans[index]`` minus the part of it its direct children
    cover (overlapping children are counted once)."""
    me = spans[index]
    kids = [(s.start, s.end) for s in spans if s.parent == index]
    return (me.end - me.start) - covered_seconds(kids, me.start, me.end)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and wraps
    nothing, so untraced runs execute the engine's own functions. Disabled
    after wrapping, the wrappers stay in place and record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op_id = ""
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None) -> Iterator[int | None]:
        if not self.enabled:
            yield None
            return
        if op_id is not None:
            self._op_id = op_id
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, self._op_id))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, module: object, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records span ``name``."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def op_spans(self, op_id: str) -> dict[int, Span]:
        """The spans of one op, keyed by their index in ``spans``."""
        return {i: s for i, s in enumerate(self.spans) if s.op_id == op_id}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


@dataclass
class JobStats:
    job_id: int
    submit: float  # epoch seconds
    stage_ids: list[int]


class SparkStats:
    """Reads jobs, stages, Catalyst phases and GC time through py4j."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status store, so a finished job's stages are all recorded."""
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[JobStats]:
        out = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(job_id)
            sids = jd.stageIds()
            sub = jd.submissionTime()
            out.append(
                JobStats(
                    job_id,
                    sub.get().getTime() / 1000 if sub.isDefined() else 0.0,
                    [sids.apply(i) for i in range(sids.size())],
                )
            )
        return out

    def stages(self, stage_ids: set[int]) -> list[dict]:
        """Metrics of the stages that ran (skipped stages are left out)."""
        out = []
        for sid in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j error: stage not in store
                continue
            status = str(sd.status())
            if status not in ("COMPLETE", "FAILED"):
                continue
            sub, done = sd.submissionTime(), sd.completionTime()
            out.append(
                {
                    "start": sub.get().getTime() / 1000 if sub.isDefined() else 0.0,
                    "end": done.get().getTime() / 1000 if done.isDefined() else 0.0,
                    "tasks": sd.numCompleteTasks(),
                    "run_s": sd.executorRunTime() / 1000,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_read_b": sd.shuffleReadBytes(),
                    "shuffle_write_b": sd.shuffleWriteBytes(),
                    "spill_b": sd.diskBytesSpilled(),
                }
            )
        return out

    @staticmethod
    def phases(df) -> dict[str, tuple[float, float]]:
        """Catalyst phase intervals (epoch seconds) of the plan ``df`` ran."""
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            start = kv._2().startTimeMs() / 1000
            out[kv._1()] = (start, start + kv._2().durationMs() / 1000)
        return out

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000

