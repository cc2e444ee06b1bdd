"""In-memory spans and Spark counters for the traced benchmark run.

Spans are recorded by the benchmark's own files around calls into the
package's public functions; nothing inside the package is edited. Each
span keeps (name, start, end, parent, op id) and the spans are written
out once, when the run ends. Spark work is read from the status store
right after each op, because the store keeps only the most recent jobs
and stages.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    sid: int

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory. A disabled tracer records nothing, so the
    timed (untraced) runs pay only a context-manager call per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        sid = len(self.spans)
        sp = Span(name, time.time(), 0.0, parent, op_id, sid)
        self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part covered by its children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        return {
            sp.sid: sp.duration
            - union_length(children.get(sp.sid, ()), sp.start, sp.end)
            for sp in self.spans
        }

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(sp), self_s=selfs[sp.sid]) for sp in self.spans], fh
            )


def wrap(tracer: Tracer, module, attr: str, span_name: str) -> None:
    """Replace `module.attr` with a span-recording wrapper (traced runs
    only): times a call into a layer from the benchmark's side."""
    fn = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    setattr(module, attr, traced)


class SparkCounters:
    """Jobs, stages, tasks, busy time and bytes of the Spark work an op
    caused, read through the status tracker and the status store (both
    work with the UI disabled). Jobs are attributed by time window: every
    job id not seen before whose submission falls inside the op, whatever
    its job group, because threads the program spawns may not inherit
    the caller's group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.next_job = 0

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self.store.job(jid)
        except Py4JJavaError:
            return None

    def skip(self) -> None:
        """Mark every job so far as seen (work done outside any op)."""
        self.collect(0.0, 0.0)

    def collect(self, t0: float, t1: float) -> dict:
        """Counters of the jobs submitted in [t0, t1] (epoch seconds)."""
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_busy_s": 0.0,
            "shuffle_bytes": 0, "io_bytes": 0, "stage_busy": [],
            "job_busy": [],
        }
        jid = self.next_job
        while True:
            job = self._job(jid)
            if job is None:
                break
            jid += 1
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            ts = sub.get().getTime() / 1000.0
            if not (t0 <= ts <= t1 + 0.001):
                continue
            out["jobs"] += 1
            busy = 0.0
            sids = job.stageIds()
            for i in range(sids.size()):
                sd = self.store.lastStageAttempt(sids.apply(i))
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                busy += sd.executorRunTime() / 1000.0
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["io_bytes"] += sd.inputBytes() + sd.outputBytes()
                if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                    out["stage_busy"].append((
                        sd.submissionTime().get().getTime() / 1000.0,
                        sd.completionTime().get().getTime() / 1000.0,
                    ))
            out["task_busy_s"] += busy
            out["job_busy"].append((ts, busy))
        self.next_job = jid
        out["driver_gap_s"] = (t1 - t0) - union_length(out["stage_busy"], t0, t1)
        return out


def tail(values: list[float]) -> tuple[int, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are 10 samples or fewer."""
    n = len(values)
    if n <= 10:
        return None
    s = sorted(values)
    return int(100 * (n - 10) / n), s[n - 11]


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
