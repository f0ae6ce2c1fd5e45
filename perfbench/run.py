#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload fleet_windows --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and README.md for why each is there):

* ``fleet_windows`` - open loop: 50 windowed aggregations over fresh
  20k-row batches (perfbench/streaming.py);
* ``query_churn`` - open loop: 12 spool submissions per 2k-row batch,
  persisted registry, JSONL sink (perfbench/streaming.py);
* ``oneshot_mix`` - closed loop, one client: registry entries and BQL
  one-shots at sf0.1 (perfbench/oneshot.py).

The streaming inputs are generated from ``--seed`` under ``.perfbench/``
in the checkout; ``oneshot_mix`` reads the repository's sf0.1 and sf0.001
test tables (``sources.tables.sf_dir()``). The program under test is
imported from the checkout. Every result is checked against DuckDB, after
the untraced pass and outside every timed span. ``peak_rss_mb`` is the
peak RSS of the Python process plus the JVM from start-up to the end of
the untraced pass, with the JVM's fixed heap counted by its old
generation's peak use. The last stdout line is the result object; the
line before it reports the same run under the names the workload's own
metrics have (result latency, queries per second, ...).

With ``--trace 0`` the result carries the end-to-end metrics. With
``--trace 1`` the run measures an untraced pass, a traced pass and a
second untraced pass on the same system; the result carries the
per-layer metrics of the traced pass and, as ``tracing.overhead.*``, the
traced value of each timed end-to-end metric minus the mean of the two
untraced ones. A per-layer metric a workload never reaches reads 0.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("fleet_windows", "query_churn", "oneshot_mix")
# each workload's own names for the three timed end-to-end metrics
OWN_NAMES = {
    "fleet_windows": ("result_latency_p50_ms", "result_latency_p95_ms", "capacity_records_per_s"),
    "query_churn": ("result_latency_p50_ms", "result_latency_p75_ms", "capacity_records_per_s"),
    "oneshot_mix": ("query_latency_p50_ms", "query_latency_p70_ms", "queries_per_s"),
}
TIMED = ("latency_p50_ms", "latency_tail_ms", "capacity_per_s")
HEAP = "2g"


class Context:
    def __init__(self, args, spark, jvm_pid: int, tracer, work: str, cache: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.tracer = tracer
        self.work = work
        self.cache = cache

    def quiesce(self) -> None:
        """Collect garbage in both processes before a timed pass, so a
        collection left over from set-up does not land in it."""
        gc.collect()
        self.spark._jvm.System.gc()

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak RSS so far of the Python process and of the JVM, in which
        the fixed, pre-touched heap is replaced by the peak use of its old
        generation: what the program holds across collections (state,
        persisted batches, plan caches, large arrays), not the young
        garbage whose volume is the collector's choice. Workloads read it
        right after the untraced pass and check results only after that,
        so the DuckDB references are not in it."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        heap = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        old = sum(
            pool.getPeakUsage().getUsed()
            for pool in mf.getMemoryPoolMXBeans()
            if str(pool.getType()) == "Heap memory"
            and not any(young in pool.getName() for young in ("Eden", "Survivor"))
        )
        return {
            "python_rss_mb": _peak_kb(os.getpid()) / 1024.0,
            "jvm_rss_mb": (_peak_kb(self.jvm_pid) * 1024 - heap + old) / 2**20,
            "jvm_old_gen_peak_mb": old / 2**20,
        }


def _peak_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{args.workload}-{os.getpid()}")
    cache = os.path.join(state, "cache")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path.insert(0, ROOT)
    try:
        return _run(args, spec, work, cache, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, work, cache, tmp) -> int:
    from bullet_storm_spark import get_spark

    from tracing import Tracer

    cores = len(os.sched_getaffinity(0))
    start = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap: how far the collector grows a
            # growable heap depends on GC timing, and first touches of new
            # heap pages land in the timed passes; peak_rss_mb counts the
            # heap by its old generation's peak use instead (Context)
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    spark_s = time.perf_counter() - start
    tracer = Tracer(spark, enabled=False)
    ctx = Context(args, spark, jvm.pid, tracer, work, cache)
    try:
        if args.workload == "oneshot_mix":
            import oneshot

            out = oneshot.run(ctx)
        else:
            import streaming

            cls = streaming.FleetWindows if args.workload == "fleet_windows" else streaming.QueryChurn
            out = streaming.run(ctx, cls)
        if tracer.spans:
            tracer.write(os.path.join(cache, f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)

    e2e = out["e2e"]
    names = dict(zip(TIMED, OWN_NAMES[args.workload]))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "metrics": {
            names.get(m, m): {"value": round(e2e[m], 4), "unit": units[m]}
            for m in units if m in e2e
        },
        "failed_ratio": out["failed"] / out["attempted"],
        "samples": out["e2e"]["samples"],
        "spark_start_s": round(spark_s, 4),
        **{k: round(v, 4) for k, v in out["extra"].items()},
    }
    if args.trace:
        layers = dict(out["layers"])
        for m in TIMED:
            # against the mean of the untraced passes before and after it,
            # so warm-up drift across the three passes cancels
            untraced = (out["e2e"][m] + out["after_e2e"][m]) / 2
            layers[f"tracing.overhead.{m}"] = out["traced_e2e"][m] - untraced
        wanted = [m["name"] for m in spec["per_layer"]]
        unknown = set(layers) - set(wanted)
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in wanted}
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(json.dumps(report))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
