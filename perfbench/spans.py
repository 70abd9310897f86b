"""Span recorder and per-call Spark counters, kept in the benchmark's own
files: the library is wrapped from outside, never patched.

A span records name, start, end, parent and request id. Spans are kept in
memory and written as JSON lines when the run ends. The counters of a
public call are recorded at the same boundary:

- build_s / py4j_calls: wall time and gateway round trips (counted by
  wrapping the gateway client's send_command) inside the public call
  itself, before its result is consumed: plan construction plus any jobs
  the call runs eagerly.
- jobs / stages / tasks: jobs of a per-call job group (statusTracker), and
  the stages and tasks those jobs executed.
- executor, shuffle, spill and input-row figures: the status store's last
  attempt of each executed stage (works with the UI disabled).
- wall_s / driver_s: wall time of the call and the consumption of its
  result (collect, count), and that minus the union of its jobs'
  submit->complete intervals.

With tracing off, `Tracer.call` runs the function and nothing else.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_STAGE_FIELDS = {
    # status-store StageData accessor -> counter name
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    sid: int = 0
    counters: dict = field(default_factory=dict)


class _Py4jCounter:
    """Counts gateway round trips by wrapping the client's send_command on
    the instance (every JavaObject holds this same client)."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        self.n = 0
        self.on = False
        inner = client.send_command

        def send_command(*args, **kwargs):
            if self.on:
                self.n += 1
            return inner(*args, **kwargs)

        client.send_command = send_command


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """enabled=False: `call` and `span` cost one attribute check."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.request: int | None = None
        self.bookkeeping_s = 0.0
        if enabled:
            self._py4j = _Py4jCounter(spark)
            self._sc = spark.sparkContext
            self._store = self._sc._jsc.sc().statusStore()

    @contextmanager
    def span(self, name: str):
        """A span without Spark counters (a phase, the parent of calls)."""
        if not self.enabled:
            yield None
            return
        sp = self._open(name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def _open(self, name: str) -> Span:
        sp = Span(name=name, start=time.time(), sid=next(self._ids),
                  parent=self._stack[-1].sid if self._stack else None,
                  request=self.request)
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def call(self, name: str, fn, *args, consume=None, **kwargs):
        """Run fn(*args, **kwargs) as the public call `name`, then
        consume(result) when given (collect, count or write), so the jobs
        the call causes fall inside; with tracing on, record its span and
        counters. Without `consume`, fn must consume its own result."""
        if not self.enabled:
            out = fn(*args, **kwargs)
            return out if consume is None else consume(out)
        group = f"pb-{next(self._ids)}"
        self._sc.setJobGroup(group, name)
        sp = self._open(name)
        n0 = self._py4j.n
        self._py4j.on = True
        try:
            out = fn(*args, **kwargs)
            built = time.time()
            n_build = self._py4j.n - n0
            if consume is not None:
                out = consume(out)
        finally:
            self._py4j.on = False
            sp.end = time.time()
            self._stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        t0 = time.perf_counter()
        sp.counters = self._job_counters(group, sp)
        sp.counters["build_s"] = built - sp.start
        sp.counters["py4j_calls"] = n_build
        if isinstance(out, list):
            sp.counters["result_rows"] = len(out)
        self.bookkeeping_s += time.perf_counter() - t0
        return out

    def _job_counters(self, group: str, sp: Span) -> dict:
        c = {v: 0 for v in _STAGE_FIELDS.values()}
        c.update(jobs=0, stages=0, tasks=0)
        intervals = []
        stage_ids = set()
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0,
                                  done.get().getTime() / 1000.0))
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted (skipped)
                continue
            if st.status().toString() != "COMPLETE":
                continue
            c["stages"] += 1
            c["tasks"] += int(st.numCompleteTasks())
            for acc, key in _STAGE_FIELDS.items():
                c[key] += int(getattr(st, acc)())
        wall = sp.end - sp.start
        c["wall_s"] = wall
        c["driver_s"] = max(0.0, wall - _union_s(intervals))
        return c

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "name": sp.name, "id": sp.sid, "parent": sp.parent,
                    "request": sp.request, "start": sp.start, "end": sp.end,
                    **sp.counters}) + "\n")

    def calls(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]
