"""The ``oneshot_mix`` workload: one client in a closed loop, no streaming.

A round is every registry entry in ``ENTRIES`` once, run to ``.count()``,
each followed by ``BQL_PER_ENTRY`` BQL one-shots through
``api.execute(bql.parse(...))`` whose shapes rotate. The order is fixed
and ``--seed`` draws the BQL parameters: which query follows an expensive
entry changes its latency, so a seeded order would add spread without
adding coverage. The timed pass runs whole rounds until ``--seconds``
have passed, so every pass measures the same mix.

The queries read the repository's test tables: the timed rounds the
sf0.1 tables (``sources.tables.sf_dir()``), the warm-up the sf0.001
tables beside them. Before the rounds, each entry runs once on the
sf0.001 tables, so the timed round does not pay first-run plan
compilation. Every result is checked after the untraced pass: a warm-up
entry against its DuckDB twin under the ``scripts/oracle_check.py`` hash,
a timed entry's row count against its twin's, a BQL one-shot's rows
against ``oracle_sql_for`` under the same hash.
"""

from __future__ import annotations

import os
import time

import numpy as np

from bullet_storm_spark import api, oracle_sql_for
from bullet_storm_spark.bql import parse
from bullet_storm_spark.sources.tables import load_table, load_tables, sf_dir

import inputs
from reference import CachedTwins, oracle_hash
from tracing import mean_of, median_of, pct

# the calibrators, the core aggregation rows and two of the open
# regressions; the four slowest layer-baseline entries
# (dedup_embedding_pairs, ann_hybrid_bm25_rrf, graph_pagerank_dedup,
# link_resolve_entities) would add about 30 s to every run with their
# warm-up, more than the run budget leaves; bench.py still times them
ENTRIES = [
    "raw_filter_project",
    "group_by_event_type",
    "count_distinct_users",
    "top_k_event_user",
    "text_stats",
    "text_tfidf_terms",
    "embed_pca_project",
]
BQL_PER_ENTRY = 4  # plus one more: 29 in all
TAIL_Q = 0.7  # a 36-query round leaves 10.8 samples above its p70
SETUP_REPS = 3


def round_schedule(rng: np.random.Generator) -> list[tuple[str, str]]:
    """Each entry, then BQL_PER_ENTRY one-shots; one more closes the
    round. BQL shapes rotate through ``inputs.ONESHOT_KINDS``."""
    n_bql = len(ENTRIES) * BQL_PER_ENTRY + 1
    bql = [inputs.oneshot_bql(rng, j % inputs.ONESHOT_KINDS) for j in range(n_bql)]
    out = []
    for i, name in enumerate(ENTRIES):
        out.append(("entry", name))
        out += [("bql", b) for b in bql[i * BQL_PER_ENTRY:(i + 1) * BQL_PER_ENTRY]]
    out.append(("bql", bql[-1]))
    return out


def table_dirs() -> dict[str, str]:
    """The timed tables (``sf_dir()``, sf0.1 by default) and the sf0.001
    warm-up tables beside them."""
    timed = sf_dir()
    warm = os.path.join(os.path.dirname(os.path.normpath(timed)), "sf0.001")
    dirs = {"timed": timed, "warm": warm}
    for d in dirs.values():
        if not os.path.isfile(os.path.join(d, "events.parquet")):
            raise FileNotFoundError(f"test tables not found in {d}")
    return dirs


class OneshotMix:
    def __init__(self, ctx) -> None:
        import __spark_entry__

        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.runners = __spark_entry__.queries()
        self.twin_sql = __spark_entry__.oracle_sql()
        self.dirs = table_dirs()
        self.attempted = self.failed = 0
        # results to check once the untraced pass is over, so DuckDB's
        # memory is not in the peak RSS: (kind, tables, what, result)
        self.pending: list[tuple] = []

    def warm(self) -> float:
        """First run of every entry, on the sf0.001 tables."""
        start = time.perf_counter()
        d = self.dirs["warm"]
        for name in ENTRIES:
            df = self.runners[name](self.spark, d)
            self.pending.append(("entry", "warm", name, (df.columns, df.collect())))
        return time.perf_counter() - start

    def setup(self) -> list[float]:
        """Register the sf0.1 tables and run one query of each BQL shape on
        the sf0.001 tables, SETUP_REPS times."""
        rng = np.random.default_rng([self.ctx.seed, 5])
        times = []
        for _ in range(SETUP_REPS):
            start = time.perf_counter()
            load_tables(self.spark, self.dirs["timed"])
            done = []
            for kind in range(inputs.ONESHOT_KINDS):
                q = parse(inputs.oneshot_bql(rng, kind))
                clip = api.execute(q, df=load_table(self.spark, self.dirs["warm"], q.source))
                done.append(("bql", "warm", q, clip.records))
            times.append(time.perf_counter() - start)
            self.pending += done
        return times

    # -- the timed rounds ------------------------------------------------------------

    # traced and untraced passes run the same calls; with the tracer off
    # every span is a no-op

    def _entry(self, name: str, d: str) -> int:
        t = self.tracer
        with t.span(f"operators.{name}"):
            with t.span("plans.build"):
                counted = self.runners[name](self.spark, d).groupBy().count()
            with t.span("plans.plan"):
                counted._jdf.queryExecution().executedPlan()
            with t.span("action"):
                return counted.collect()[0][0]

    def _bql(self, bql: str, d: str) -> tuple:
        t = self.tracer
        with t.span("oneshot.bql"):
            with t.span("bql.parse", spark_work=False):
                q = parse(bql)
            with t.span("sources.load_table"):
                df = load_table(self.spark, d, q.source)
            with t.span("api.execute"):
                return q, api.execute(q, df=df).records

    def timed_pass(self, seconds: float, first_round: int) -> dict:
        d = self.dirs["timed"]
        lat, rounds = [], 0
        start = time.perf_counter()
        while rounds == 0 or time.perf_counter() - start < seconds:
            rng = np.random.default_rng([self.ctx.seed, 4, first_round + rounds])
            for kind, what in round_schedule(rng):
                t0 = time.perf_counter()
                try:
                    if kind == "entry":
                        result = self._entry(what, d)
                    else:
                        result = self._bql(what, d)
                except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                    self.attempted += 1
                    self.failed += 1
                    continue
                lat.append((time.perf_counter() - t0) * 1000.0)
                if kind == "entry":
                    self.pending.append(("count", "timed", what, result))
                else:
                    self.pending.append(("bql", "timed", *result))
            rounds += 1
        return {"latency_ms": lat, "rounds": rounds}

    def check(self) -> None:
        """A warm-up entry must match its ``oracle_sql()`` twin under the
        ``scripts/oracle_check.py`` hash, a timed entry its twin's row
        count, and a BQL one-shot ``oracle_sql_for(q)`` under the hash."""
        twins = {s: CachedTwins(d, self.ctx.cache) for s, d in self.dirs.items()}
        for kind, tables, what, result in self.pending:
            self.attempted += 1
            if kind == "bql":
                columns = list(result[0]) if result else []
                rows = [tuple(r[c] for c in columns) for r in result]
                want_cols, want_rows = twins[tables].query(oracle_sql_for(what))
                want = {"rows": len(want_rows), "hash": oracle_hash(want_cols, want_rows)}
            else:
                want = twins[tables].get(self.twin_sql[what])
                if kind == "count":
                    self.failed += result != want["rows"]
                    continue
                columns, rows = result
            self.failed += len(rows) != want["rows"] or (
                bool(rows) and oracle_hash(columns, rows) != want["hash"]
            )
        self.pending = []

    def metrics(self, p: dict, setup: list[float], rss: dict) -> dict:
        lat = p["latency_ms"]
        return {
            "setup_s": float(np.median(setup)),
            "latency_p50_ms": pct(lat, 0.5),
            "latency_tail_ms": pct(lat, TAIL_Q),
            "capacity_per_s": len(lat) / (sum(lat) / 1000.0),
            "peak_rss_mb": rss["python_rss_mb"] + rss["jvm_rss_mb"],
            "samples": len(lat),
        }

    def layers(self) -> dict:
        t = self.tracer
        queries = t.named("oneshot.bql") + [
            s for s in t.spans if s["name"].startswith("operators.")
        ]
        out = {
            "sources.load_table_ms_p50": median_of(t.named("sources.load_table"), "ms"),
            "sources.load_table_jobs": mean_of(t.named("sources.load_table"), "jobs"),
            "bql.parse_ms_p50": median_of(t.named("bql.parse"), "ms"),
            "plans.build_ms_p50": median_of(t.named("plans.build"), "ms"),
            "plans.build_jobs": mean_of(t.named("plans.build"), "jobs"),
            "plans.plan_ms_p50": median_of(t.named("plans.plan"), "ms"),
            "api.execute_ms_p50": median_of(t.named("api.execute"), "ms"),
            "spark.jobs_per_query": mean_of(queries, "jobs"),
            "spark.executor_run_ms_per_query": median_of(queries, "executor_run_ms"),
            "spark.shuffle_bytes_per_query": median_of(queries, "shuffle_bytes"),
        }
        for name in ENTRIES:
            spans = t.named(f"operators.{name}")
            out[f"operators.{name}.ms_p50"] = median_of(spans, "ms")
            out[f"operators.{name}.jobs"] = mean_of(spans, "jobs")
        return out


def run(ctx) -> dict:
    w = OneshotMix(ctx)
    warm_s = w.warm()
    setup = w.setup()
    ctx.tracer.enabled = False
    ctx.quiesce()
    untraced = w.timed_pass(ctx.seconds, 0)
    rss = ctx.peak_rss_mb()
    out = {"e2e": w.metrics(untraced, setup, rss)}
    if ctx.trace:
        ctx.quiesce()
        ctx.tracer.enabled = True
        traced = w.timed_pass(ctx.seconds, untraced["rounds"])
        ctx.tracer.enabled = False
        ctx.quiesce()
        after = w.timed_pass(ctx.seconds, untraced["rounds"] + traced["rounds"])
        out["traced_e2e"] = w.metrics(traced, setup, rss)
        out["after_e2e"] = w.metrics(after, setup, rss)
        out["layers"] = w.layers()
    w.check()
    out["attempted"], out["failed"] = w.attempted, w.failed
    out["extra"] = {"warmup_s": warm_s, "rounds": untraced["rounds"], **rss}
    return out
