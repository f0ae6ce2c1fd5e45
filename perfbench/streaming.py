"""The two streaming workloads, ``fleet_windows`` and ``query_churn``.

Both are open loops. Batch ``k`` of a timed pass is due ``k * interval``
after the pass starts, on the real clock, whether or not the engine has
finished the previous one. The engine clock is the batch's due time on a
fixed origin, so which batches a window or a query's lifetime covers
depends only on batch numbers, and every result can be checked against
DuckDB over those batch files.

Result latency runs from the real time a batch was due to the real time
the clip emitted by that batch's ``process_batch`` reached ``on_result``.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

from bullet_storm_spark.bql import parse
from bullet_storm_spark.config import EngineConfig
from bullet_storm_spark.streaming import StreamingEngine
from bullet_storm_spark.streaming.channels import FileControlChannel, FileControlClient
from bullet_storm_spark.streaming.registry import ControlChannel, QueryRegistry
from bullet_storm_spark.streaming.sinks import JsonlResultSink, MemoryResultSink

import inputs
from reference import BatchReference, check_aggregate, check_raw
from tracing import TimedChannel, TimedSink, mean_of, median_of, pct

ENGINE_T0 = 1_700_000_000.0
FINAL_SIGNALS = ("COMPLETE", "KILL", "FAIL")


class EngineClock:
    def __init__(self) -> None:
        self.now = ENGINE_T0

    def __call__(self) -> float:
        return self.now


class ClipRecorder:
    """The first ``on_result`` handler: stamps each clip with the real
    time and the batch whose ``process_batch`` emitted it."""

    def __init__(self) -> None:
        self.batch = -1
        self.clips: list[tuple[str, object, int, float]] = []

    def __call__(self, query_id, clip) -> None:
        self.clips.append((query_id, clip, self.batch, time.perf_counter()))


class StreamWorkload:
    """Set-up, timed passes and checks shared by the streaming workloads.
    A subclass builds the system (``build``), submits queries
    (``before_batch``/``after_batch``) and names its tail percentile."""

    ROWS: int
    INTERVAL_S: float
    WARM_BATCHES: int
    TAIL_Q: float
    SETUP_REPS = 3

    def __init__(self, ctx) -> None:
        if self.INTERVAL_S * 4 % 1:
            # the engine truncates clock() * 1000 to whole ms; quarter
            # seconds on an integer origin are exact binary fractions
            raise ValueError("INTERVAL_S must be a multiple of 0.25 s")
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.writer = inputs.BatchWriter(
            os.path.join(ctx.work, "batches"), ctx.seed, self.ROWS, self.INTERVAL_S
        )
        self.max_duration_ms = EngineConfig().max_query_duration_ms
        self.queries: dict[str, tuple[inputs.StreamQuery, int]] = {}
        self.due: dict[int, float] = {}
        self.next_batch = 0

    # -- one batch -------------------------------------------------------------

    def process(self, k: int, due: float) -> tuple[float, float]:
        self.clock.now = ENGINE_T0 + k * self.INTERVAL_S
        with self.tracer.span("sources.batch_read", spark_work=False):
            df = self.spark.read.schema(inputs.EVENTS_SCHEMA_DDL).parquet(self.writer.path(k))
        self.recorder.batch = k
        self.due[k] = due
        start = time.perf_counter()
        with self.tracer.span("streaming.engine.process_batch", batch=k):
            self.engine.process_batch(df, k)
        self.next_batch = k + 1
        return start, time.perf_counter()

    # -- set-up and timed passes -----------------------------------------------

    def warm_up(self) -> float:
        """Run a throwaway system over WARM_BATCHES batches back to back,
        so JIT compilation and first-use costs are paid before set-up and
        the passes are timed."""
        start = time.perf_counter()
        self._start_system("warm", 0)
        for k in range(1, self.WARM_BATCHES):
            self.writer.write(k)
            self.before_batch(k)
            self.process(k, time.perf_counter())
            self.after_batch(k)
        return time.perf_counter() - start

    def setup(self) -> list[float]:
        """Build a fresh system and process its first batch, SETUP_REPS
        times; the last system is the one measured."""
        times = []
        for rep in range(self.SETUP_REPS):
            start = time.perf_counter()
            self._start_system(f"rep{rep}", self.WARM_BATCHES + rep)
            times.append(time.perf_counter() - start)
        return times

    def _start_system(self, label: str, k: int) -> None:
        self.writer.write(k)
        self.next_batch = k
        self.clock = EngineClock()
        self.build(label)
        self.before_batch(k)
        self.process(k, time.perf_counter())
        self.after_batch(k)

    def pass_batches(self, seconds: float) -> int:
        return max(1, math.ceil(seconds / self.INTERVAL_S))

    def before_pass(self) -> None:
        pass

    def timed_pass(self, seconds: float) -> dict:
        self.before_pass()
        first = self.next_batch
        n = self.pass_batches(seconds)
        for k in range(first, first + n):
            self.writer.write(k)
        n_clips = len(self.recorder.clips)
        busy, lags = 0.0, []
        t0 = time.perf_counter() + 0.05
        for j in range(n):
            k = first + j
            self.before_batch(k)
            due = t0 + j * self.INTERVAL_S
            if due > time.perf_counter():
                time.sleep(due - time.perf_counter())
            start, end = self.process(k, due)
            busy += end - start
            lags.append((start - due) * 1000.0)
            self.after_batch(k)
        wall = time.perf_counter() - t0
        lat = [
            (t - self.due[b]) * 1000.0
            for _, _, b, t in self.recorder.clips[n_clips:]
        ]
        return {
            "latency_ms": lat,
            "batches": n,
            "records": n * self.ROWS,
            "busy_s": busy,
            "wall_s": wall,
            "lag_ms": lags,
        }

    def submit(self, qid: str, fq: inputs.StreamQuery) -> None:
        self.queries[qid] = (fq, self.next_batch)

    # -- checks -----------------------------------------------------------------

    def clips_by_query(self) -> dict[str, list]:
        out: dict[str, list] = {q: [] for q in self.queries}
        for qid, clip, batch, _ in self.recorder.clips:
            out.setdefault(qid, []).append((clip, batch))
        return out

    def covered(self, first: int, last: int) -> tuple[str, ...]:
        return tuple(self.writer.path(k) for k in range(first, last + 1))


def _signal(clip) -> str | None:
    return clip.meta.get("signal")


def stream_metrics(w: StreamWorkload, p: dict, setup: list[float], rss: dict) -> dict:
    lat = p["latency_ms"]
    return {
        "setup_s": float(np.median(setup)),
        "latency_p50_ms": pct(lat, 0.5),
        "latency_tail_ms": pct(lat, w.TAIL_Q),
        "capacity_per_s": p["records"] / p["busy_s"],
        "peak_rss_mb": rss["python_rss_mb"] + rss["jvm_rss_mb"],
        "samples": len(lat),
    }


def stream_layers(w: StreamWorkload, p: dict) -> dict:
    t = w.tracer
    pb = t.named("streaming.engine.process_batch")
    drains = t.named("streaming.channels.drain")
    return {
        "streaming.engine.process_batch_ms_p50": pct([s["ms"] for s in pb], 0.5),
        "streaming.engine.process_batch_ms_p95": pct([s["ms"] for s in pb], 0.95),
        "streaming.engine.driver_ms_p50": median_of(pb, "driver_ms"),
        "streaming.engine.busy_ratio": p["busy_s"] / p["wall_s"],
        "loadgen.lag_p95_ms": pct(p["lag_ms"], 0.95),
        "spark.jobs_per_batch": mean_of(pb, "jobs"),
        "spark.tasks_per_batch": mean_of(pb, "tasks"),
        "spark.executor_run_ms_per_batch": median_of(pb, "executor_run_ms"),
        "spark.executor_cpu_ms_per_batch": median_of(pb, "executor_cpu_ms"),
        "spark.shuffle_bytes_per_batch": median_of(pb, "shuffle_bytes"),
        "streaming.channels.drain_ms_p50": median_of(drains, "ms"),
        "streaming.channels.messages_per_batch": mean_of(drains, "messages"),
        "streaming.sinks.write_ms_p50": median_of(t.named("streaming.sinks.write"), "ms"),
        "sources.batch_read_ms_p50": median_of(t.named("sources.batch_read"), "ms"),
        "bql.parse_ms_p50": median_of(t.named("bql.parse"), "ms"),
        "streaming.channels.submit_ms_p50": median_of(t.named("streaming.channels.submit"), "ms"),
    }


# --- fleet_windows ---------------------------------------------------------------


class FleetWindows(StreamWorkload):
    """About 50 concurrent ``EVERY(2000, TIME)`` aggregations over 20k-row
    batches; a generation runs for the 10 s maximum duration and is then
    replaced as a whole. The control plane is idle."""

    ROWS = 20_000
    INTERVAL_S = 2.0
    WARM_BATCHES = 5
    TAIL_Q = 0.95
    N_QUERIES = 50
    WINDOW_MS = 2000

    def pass_batches(self, seconds: float) -> int:
        """Whole generation lifetimes: a pass starts on a planned
        generation and ends on the batch that expires it."""
        life = math.ceil(self.max_duration_ms / (self.INTERVAL_S * 1000))
        return life * max(1, math.ceil(seconds / (life * self.INTERVAL_S)))

    def before_pass(self) -> None:
        # a generation submitted when the last one expired is drained and
        # planned by one untimed batch, as set-up does for the first
        if not self.engine.registry.active():
            k = self.next_batch
            self.writer.write(k)
            self.process(k, time.perf_counter())
            self.after_batch(k)

    def build(self, label: str) -> None:
        self.queries, self.generation = {}, 0
        self.channel = TimedChannel(ControlChannel(), self.tracer)
        self.engine = StreamingEngine(self.spark, channel=self.channel, clock=self.clock)
        self.recorder = ClipRecorder()
        self.engine.on_result(self.recorder)
        self.engine.on_result(TimedSink(MemoryResultSink(), self.tracer))
        self.submit_generation()

    def submit_generation(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 2, self.generation])
        fleet = inputs.fleet_generation(rng, self.N_QUERIES, self.max_duration_ms, self.WINDOW_MS)
        for i, fq in enumerate(fleet):
            qid = f"g{self.generation}-q{i}"
            with self.tracer.span("bql.parse", spark_work=False):
                query = parse(fq.bql)
            self.engine.submit(qid, query)
            self.submit(qid, fq)
        self.generation += 1

    def before_batch(self, k: int) -> None:
        pass

    def after_batch(self, k: int) -> None:
        if not self.engine.registry.active():
            self.submit_generation()

    def check(self) -> tuple[int, int]:
        """Every window and final clip equals DuckDB over the batches it
        covers; no query gets more than one final clip, and every query
        of an expired generation gets one."""
        ref = BatchReference()
        todo, attempted, failed = [], 0, 0
        for qid, clips in self.clips_by_query().items():
            fq, first = self.queries[qid]
            finals = [c for c, _ in clips if _signal(c) in FINAL_SIGNALS]
            expired = (self.next_batch - 1 - first) * self.INTERVAL_S * 1000 >= self.max_duration_ms
            attempted += 1
            if len(finals) != (1 if expired else 0) or any(_signal(c) != "COMPLETE" for c in finals):
                failed += 1
            lo = first
            for clip, batch in clips:
                todo.append((lo, batch, fq, clip))
                lo = batch + 1
        todo.sort(key=lambda x: (x[0], x[1]))
        for lo, hi, fq, clip in todo:
            attempted += 1
            ref.load(self.covered(lo, hi))
            if not check_aggregate(ref, fq.family, fq.params, clip.records):
                failed += 1
        return attempted, failed


# --- query_churn ------------------------------------------------------------------


class QueryChurn(StreamWorkload):
    """Twelve submissions per batch interval through the file spool over
    2k-row batches: RAW ``LIMIT n`` queries that fill within a few
    batches, short aggregations, and a KILL. The registry persists to a
    store directory and results go to a JSONL sink."""

    ROWS = 2_000
    INTERVAL_S = 2.0
    WARM_BATCHES = 4
    TAIL_Q = 0.75
    RAW_PER_BATCH = 9
    AGG_PER_BATCH = 2
    KILLS_PER_BATCH = 1

    def build(self, label: str) -> None:
        self.queries, self.killed = {}, set()
        base = os.path.join(self.ctx.work, f"churn-{label}")
        self.store = os.path.join(base, "store")
        spool = os.path.join(base, "spool")
        self.channel = TimedChannel(FileControlChannel(spool), self.tracer)
        self.client = FileControlClient(spool)
        self.registry = QueryRegistry(
            storage_dir=self.store, clock=self.clock, max_duration_ms=self.max_duration_ms
        )
        self.engine = StreamingEngine(
            self.spark, registry=self.registry, channel=self.channel, clock=self.clock
        )
        self.recorder = ClipRecorder()
        self.engine.on_result(self.recorder)
        self.engine.on_result(TimedSink(JsonlResultSink(os.path.join(base, "results.jsonl")), self.tracer))

    def before_batch(self, k: int) -> None:
        rng = np.random.default_rng([self.ctx.seed, 3, k])
        live = sorted(
            q for q, (_, first) in self.queries.items()
            if first < k and q not in self.killed and q not in self.finished()
        )
        for qid in rng.permutation(live)[: self.KILLS_PER_BATCH] if live else []:
            with self.tracer.span("streaming.channels.submit", spark_work=False):
                self.client.kill(str(qid))
            self.killed.add(str(qid))
        new = [inputs.churn_raw(rng) for _ in range(self.RAW_PER_BATCH)]
        new += [inputs.churn_short_agg(rng) for _ in range(self.AGG_PER_BATCH)]
        for i, fq in enumerate(new):
            qid = f"b{k}-q{i}"
            with self.tracer.span("streaming.channels.submit", spark_work=False):
                self.client.submit(qid, fq.bql)
            self.submit(qid, fq)

    def after_batch(self, k: int) -> None:
        pass

    def finished(self) -> set[str]:
        return {q for q, c, _, _ in self.recorder.clips if _signal(c) in FINAL_SIGNALS}

    def restart_check(self) -> tuple[bool, float, int]:
        """A fresh registry over the same store replays exactly the queries
        that are still active."""
        active = {rq.id for rq in self.registry.active()}
        store_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.store) for f in files
        )
        start = time.perf_counter()
        with self.tracer.span("streaming.registry.replay", spark_work=False):
            fresh = QueryRegistry(
                storage_dir=self.store, clock=self.clock, max_duration_ms=self.max_duration_ms
            )
            fresh.replay()
        replay_ms = (time.perf_counter() - start) * 1000.0
        return set(fresh.queries) == active, replay_ms, store_bytes

    def check(self) -> tuple[int, int]:
        """After shutdown every query has exactly one final or kill clip;
        a killed query's is the KILL. RAW results hold ``min(limit,
        matching rows consumed)`` source rows that satisfy the filter;
        aggregations equal DuckDB over the batches they consumed."""
        self.engine.shutdown()
        ref = BatchReference()
        attempted = failed = 0
        todo = []
        for qid, clips in self.clips_by_query().items():
            fq, first = self.queries[qid]
            attempted += 1
            finals = [(c, b) for c, b in clips if _signal(c) in FINAL_SIGNALS]
            if len(clips) != 1 or len(finals) != 1:
                failed += 1
                continue
            clip, batch = finals[0]
            if qid in self.killed:
                failed += _signal(clip) != "KILL"
                continue
            if _signal(clip) != "COMPLETE":
                failed += 1
                continue
            todo.append((first, batch, fq, clip))
        todo.sort(key=lambda x: (x[0], x[1]))
        for lo, hi, fq, clip in todo:
            attempted += 1
            ref.load(self.covered(lo, hi))
            if fq.family == "raw":
                ok = check_raw(ref, fq.params, clip.records, lo * self.ROWS, (hi + 1) * self.ROWS)
            else:
                ok = check_aggregate(ref, fq.family, fq.params, clip.records)
            failed += not ok
        return attempted, failed


def run(ctx, cls) -> dict:
    """Set up, run the untraced pass (with tracing: then a traced pass and
    a second untraced pass on the same system), check every result."""
    w = cls(ctx)
    warm_s = w.warm_up()
    setup = w.setup()
    ctx.tracer.enabled = False
    ctx.quiesce()
    untraced = w.timed_pass(ctx.seconds)
    rss = ctx.peak_rss_mb()
    out = {"e2e": stream_metrics(w, untraced, setup, rss), "extra": {}}
    if ctx.trace:
        ctx.quiesce()
        ctx.tracer.enabled = True
        traced = w.timed_pass(ctx.seconds)
        ctx.tracer.enabled = False
        ctx.quiesce()
        after = w.timed_pass(ctx.seconds)
        out["traced_e2e"] = stream_metrics(w, traced, setup, rss)
        out["after_e2e"] = stream_metrics(w, after, setup, rss)
        out["layers"] = stream_layers(w, traced)
    attempted = failed = 0
    if isinstance(w, QueryChurn):
        ok, replay_ms, store_bytes = w.restart_check()
        attempted, failed = 1, int(not ok)
        out["extra"].update(replay_ms=replay_ms, store_bytes=store_bytes)
        if ctx.trace:
            out["layers"].update({
                "streaming.registry.replay_ms": replay_ms,
                "streaming.registry.store_bytes": store_bytes,
            })
    start = time.perf_counter()
    a, f = w.check()
    out["attempted"], out["failed"] = attempted + a, failed + f
    out["extra"].update(
        **rss,
        check_s=time.perf_counter() - start,
        warmup_s=warm_s,
        batches=untraced["batches"],
        busy_ratio=untraced["busy_s"] / untraced["wall_s"],
        lag_p95_ms=pct(untraced["lag_ms"], 0.95),
    )
    return out
