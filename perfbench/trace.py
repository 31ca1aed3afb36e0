"""Spans around the benchmark's calls into the engine.

Every timed call goes through `Tracer.span`, which always records the
call's wall time. With tracing on it also:

- tags the call's Spark jobs with a job group (`setJobGroup`) and reads
  the job ids back from `statusTracker`, so each span knows its jobs;
- after the session stops, reads job submission/completion times from
  the Spark event log and splits each span into job time and driver gap
  (wall time not covered by any of its jobs).

Spans live in memory and are written out once, at the end of the run.
Spans sit only in the benchmark's own files, around public engine calls.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op_id: int | None
    t0: float
    t1: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0
        self.bookkeeping_s = 0.0   # time spent in tracing code itself
        self._job_times: dict[int, tuple[float, float]] = {}

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, layer: str, op_id: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        sp = Span(len(self.spans), name, layer,
                  parent.id if parent else None, op_id, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            b = time.perf_counter()
            self.sc.setJobGroup(f"span-{sp.id}", name)
            self.bookkeeping_s += time.perf_counter() - b
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                b = time.perf_counter()
                tracker = self.sc.statusTracker()
                sp.jobs = sorted(tracker.getJobIdsForGroup(f"span-{sp.id}"))
                nxt = f"span-{parent.id}" if parent else "bench"
                self.sc.setJobGroup(nxt, parent.name if parent else "bench")
                self.bookkeeping_s += time.perf_counter() - b

    # -- after the session stopped ------------------------------------------
    def load_event_log(self, log_dir: str) -> None:
        """Job submission/completion times (seconds) from the event log."""
        starts: dict[int, float] = {}
        # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
            with open(path) as f:
                for line in f:
                    if '"SparkListenerJob' not in line[:40]:
                        continue
                    ev = json.loads(line)
                    jid = ev["Job ID"]
                    if ev["Event"] == "SparkListenerJobStart":
                        starts[jid] = ev["Submission Time"] / 1000.0
                    elif jid in starts:
                        self._job_times[jid] = (starts[jid], ev["Completion Time"] / 1000.0)

    def jobs_of(self, sp: Span) -> list[int]:
        """Jobs of the span and of every span nested in it."""
        out = list(sp.jobs)
        for c in self.spans:
            if c.parent == sp.id:
                out.extend(self.jobs_of(c))
        return out

    def job_time(self, sp: Span) -> float:
        """Length of the union of the span's job intervals."""
        iv = sorted(self._job_times[j] for j in self.jobs_of(sp) if j in self._job_times)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def driver_gap(self, sp: Span) -> float:
        return max(0.0, sp.dur - self.job_time(sp))

    def self_time_by_layer(self, spans: list[Span]) -> dict[str, float]:
        """Per layer, the spans' durations minus the parts their child
        spans cover."""
        out: dict[str, float] = {}
        for sp in spans:
            kids = sorted((c.t0, c.t1) for c in self.spans if c.parent == sp.id)
            covered, end = 0.0, sp.t0
            for s, e in kids:
                s = max(s, end)
                if e > s:
                    covered += e - s
                    end = e
            out[sp.layer] = out.get(sp.layer, 0.0) + sp.dur - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), job_s=self.job_time(s)) for s in self.spans], f
            )
