"""Spans around the benchmark's calls into the package, with the Spark
counters of each call's job group.

With tracing off, ``Tracer.span`` only times the call. With tracing on,
each call runs under its own Spark job group; after it returns, the job
ids come from ``statusTracker().getJobIdsForGroup`` and the per-stage
task counters from the status store (``statusStore().stageData``). The
counter reads happen after the span's clock stops; their cost is kept per
span. A traced run also times the same calls with tracing off
(``untraced``), so the tracing overhead is the difference between the two.
Spans stay in memory until ``write``.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    phase: str  # "setup" or "op"
    start: float  # seconds since the tracer was created
    ms: float
    jobs: int = 0
    stages: int = 0  # stages that ran (skipped ones excluded)
    tasks: int = 0
    run_ms: float = 0.0  # executor run time summed over tasks
    cpu_ms: float = 0.0  # executor CPU time summed over tasks
    shuffle_bytes: int = 0  # shuffle read + write
    job_ms: float = 0.0  # wall time during which at least one job ran
    trace_ms: float = 0.0  # time spent reading the counters
    traced: bool = False  # ran under a job group, counters read
    failed: bool = False


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled  # the run is traced
        self.tracing = enabled  # spans opened now are traced
        self.spans: list[Span] = []
        self.t0 = time.perf_counter()
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, phase: str = "op"):
        """Time the body; yields the Span (its ``ms`` is set on exit)."""
        group = f"recbench-{name}-{next(self._ids)}"
        traced = self.tracing
        if traced:
            self.sc.setJobGroup(group, name)
        s = Span(name, phase, time.perf_counter() - self.t0, 0.0, traced=traced)
        t = time.perf_counter()
        try:
            yield s
        finally:
            s.ms = (time.perf_counter() - t) * 1e3
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                t = time.perf_counter()
                self._read_counters(group, s)
                s.trace_ms = (time.perf_counter() - t) * 1e3
            self.spans.append(s)

    def _read_counters(self, group: str, s: Span) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store sees every event
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        intervals = []
        for jid in tracker.getJobIdsForGroup(group):
            s.jobs += 1
            job = store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(), job.completionTime().get().getTime()))
            for sid in tracker.getJobInfo(jid).stageIds:
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
                it = attempts.iterator()
                while it.hasNext():
                    st = it.next()
                    if st.status().toString() == "SKIPPED":
                        continue
                    s.stages += 1
                    s.tasks += st.numCompleteTasks()
                    s.run_ms += st.executorRunTime()
                    s.cpu_ms += st.executorCpuTime() / 1e6
                    s.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
        # union of the jobs' [submit, complete] intervals
        covered, end = 0, None
        for a, b in sorted(intervals):
            if end is None or a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        s.job_ms = float(covered)

    @contextmanager
    def untraced(self):
        """Open the body's spans with tracing off, to time the same calls
        without it (the baseline of the tracing overhead)."""
        self.tracing = False
        try:
            yield
        finally:
            self.tracing = self.enabled

    def ops(self) -> list[Span]:
        """The timed calls; in a traced run, the traced ones."""
        return [s for s in self.spans if s.phase == "op" and s.traced == self.enabled]

    def baseline(self) -> list[Span]:
        """In a traced run, the timed calls made with tracing off."""
        return [s for s in self.spans if s.phase == "op" and not s.traced] if self.enabled else []

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
