"""Spans around the benchmark's calls into each layer, and the Spark work
each call ran.

A span wraps one call into a layer's public function. The benchmark makes
one call at a time, so the Spark jobs a call ran are the jobs whose ids
appeared while it ran. Their stage metrics are read from the status store
(``statusStore().lastStageAttempt``), which works with the UI off, right
after the call. Spans are kept in memory and written out at the end.

The channel and sink wrappers below are passed to the engine's
constructor and ``on_result``; they time ``drain()`` and each sink write
without patching the program.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def pct(values, q: float) -> float:
    """The ``q``-quantile (0..1) of ``values`` by linear interpolation."""
    s = sorted(values)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[int] = []

    def _job_ids(self) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, spark_work: bool = True, **attrs):
        """Time the body; with ``spark_work``, also attribute the Spark
        jobs that started while it ran."""
        if not self.enabled:
            yield
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        rec.update(attrs)
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        before = set(self._job_ids()) if spark_work else None
        rec["wall_start"] = time.time()
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - start) * 1000.0
            rec["wall_end"] = time.time()
            self._stack.pop()
            if spark_work:
                self._attribute(rec, before)

    def _attribute(self, rec: dict, before: set[int]) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        new = sorted(set(self._job_ids()) - before)
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        intervals = []
        tasks = run_ms = cpu_ns = shuffle = 0
        for job_id in new:
            jd = store.job(job_id)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                tasks += sd.numTasks()
                run_ms += sd.executorRunTime()
                cpu_ns += sd.executorCpuTime()
                shuffle += sd.shuffleWriteBytes()
        rec.update(
            jobs=len(new), tasks=tasks, executor_run_ms=run_ms,
            executor_cpu_ms=cpu_ns / 1e6, shuffle_bytes=shuffle,
            driver_ms=max(rec["ms"] - _covered_ms(intervals, rec["wall_start"], rec["wall_end"]), 0.0),
        )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _covered_ms(intervals, lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total * 1000.0


class TimedChannel:
    """Control channel wrapper: the engine drains it once per batch."""

    def __init__(self, channel, tracer: Tracer) -> None:
        self.channel = channel
        self.tracer = tracer

    def submit(self, query_id, query, **metadata) -> None:
        self.channel.submit(query_id, query, **metadata)

    def signal(self, query_id, signal) -> None:
        self.channel.signal(query_id, signal)

    def drain(self):
        with self.tracer.span("streaming.channels.drain", spark_work=False) as rec:
            out = self.channel.drain()
            if rec is not None:
                rec["messages"] = len(out)
        return out


class TimedSink:
    """Result sink wrapper registered through ``on_result``."""

    def __init__(self, sink, tracer: Tracer) -> None:
        self.sink = sink
        self.tracer = tracer

    def __call__(self, query_id, clip) -> None:
        with self.tracer.span("streaming.sinks.write", spark_work=False):
            self.sink(query_id, clip)


def median_of(spans: list[dict], key: str) -> float:
    vals = [s[key] for s in spans if key in s]
    return float(statistics.median(vals)) if vals else 0.0


def mean_of(spans: list[dict], key: str) -> float:
    """Counts are averaged: a median hides a job that only some calls run."""
    vals = [s[key] for s in spans if key in s]
    return float(statistics.fmean(vals)) if vals else 0.0
