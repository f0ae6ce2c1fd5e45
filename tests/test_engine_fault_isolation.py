"""One broken query must FAIL alone; the rest of the batch proceeds
(JoinBolt init-error parity)."""

from bullet_storm_spark import GroupAll, GroupOperation, GroupOpType, Query, Raw
from bullet_storm_spark.plans.expressions import eq
from bullet_storm_spark.streaming import QueryRegistry, StreamingEngine
from bullet_storm_spark.streaming.multiquery import ChunkPlan, plan_chunks


def _count(filter=None):
    return Query(
        filter=filter,
        aggregation=GroupAll(GroupOperation(GroupOpType.COUNT, None, "cnt")),
        duration_ms=600_000,
    )


def test_broken_query_fails_alone(spark):
    engine = StreamingEngine(spark)
    engine.submit(
        "bad", Query(filter=eq("no_such_column", 1), aggregation=Raw(size=10),
                     duration_ms=600_000)
    )
    engine.submit("good", _count())
    batch = spark.createDataFrame([("a", 1.0)] * 4, "k string, v double")
    engine.process_batch(batch)
    # bad query FAILed with error metadata; good one kept running
    sigs = {i: c.meta.get("signal") for i, c in engine.results}
    assert sigs.get("bad") == "FAIL"
    assert "bad" not in engine.registry.queries
    assert engine.registry.queries["good"].state.result() == [{"cnt": 4}]
    # next batch unaffected
    engine.process_batch(batch)
    assert engine.registry.queries["good"].state.result() == [{"cnt": 8}]


def test_broken_member_of_shared_chunk_fails_alone(spark):
    # the broken member shares ONE aggregation chunk with two good GROUP
    # ALL queries; a RAW member runs in a chunk of its own. Only the
    # broken one FAILs, and every other member's result is right on that
    # batch and on the next.
    queries = {
        "good1": _count(),
        "bad": _count(eq("no_such_column", 1)),
        "good2": _count(eq("k", "a")),
        "raw": Query(aggregation=Raw(size=100), duration_ms=600_000),
    }
    registry = QueryRegistry()
    agg_chunks = [
        cp
        for cp in plan_chunks([registry.submit(i, q) for i, q in queries.items()])
        if isinstance(cp, ChunkPlan)
    ]
    assert [sorted(rq.id for rq in cp.rqs) for cp in agg_chunks] == [
        ["bad", "good1", "good2"]
    ]

    engine = StreamingEngine(spark)
    for qid, q in queries.items():
        engine.submit(qid, q)
    batch = spark.createDataFrame(
        [("a", 1.0)] * 3 + [("b", 2.0)], "k string, v double"
    )
    engine.process_batch(batch)
    failed = [i for i, c in engine.results if c.meta.get("signal") == "FAIL"]
    assert failed == ["bad"]
    live = engine.registry.queries
    assert sorted(live) == ["good1", "good2", "raw"]
    assert live["good1"].state.result() == [{"cnt": 4}]
    assert live["good2"].state.result() == [{"cnt": 3}]
    assert len(live["raw"].state.result()) == 4
    engine.process_batch(batch)
    assert live["good1"].state.result() == [{"cnt": 8}]
    assert live["good2"].state.result() == [{"cnt": 6}]
    assert len(live["raw"].state.result()) == 8
    assert [i for i, c in engine.results if c.meta.get("signal") == "FAIL"] == ["bad"]


def test_bind_failure_inside_pool_fails_alone(spark, monkeypatch):
    # chunks bind inside the thread pool: the broken member's chunk (it
    # shares the keyless chunk with a good GROUP ALL and a PMF) fails at
    # bind time while a GROUP BY chunk and a TOP K chunk bind and run
    # concurrently. Only the broken member FAILs, the good counts are
    # right on that batch and the next, and replaying the frame with a
    # stable fleet reuses both the plan and the bindings.
    import threading

    import bullet_storm_spark.streaming.multiquery as mq
    from bullet_storm_spark import Distribution, DistributionType, GroupBy, TopK

    queries = {
        "good_all": _count(),
        "bad": _count(eq("no_such_column", 1)),
        "pmf": Query(
            aggregation=Distribution(
                field="v", dist_type=DistributionType.PMF, points=[1.5]
            ),
            duration_ms=600_000,
        ),
        "by_k": Query(
            aggregation=GroupBy(
                fields={"k": ""},
                operations=[GroupOperation(GroupOpType.COUNT, None, "cnt")],
            ),
            duration_ms=600_000,
        ),
        "top": Query(
            aggregation=TopK(size=2, name="cnt", fields={"k": ""}),
            duration_ms=600_000,
        ),
    }
    plans, binds = [], []
    real_plan, real_bind = mq.plan_chunks, mq._bind

    def plan_spy(qs):
        chunks = real_plan(qs)
        plans.append(chunks)
        return chunks

    def bind_spy(df, cp):
        binds.append((cp, threading.current_thread()))
        return real_bind(df, cp)

    monkeypatch.setattr(mq, "plan_chunks", plan_spy)
    monkeypatch.setattr(mq, "_bind", bind_spy)
    engine = StreamingEngine(spark, clock=lambda: 1.0)
    for qid, q in queries.items():
        engine.submit(qid, q)
    batch = spark.createDataFrame(
        [("a", 1.0)] * 3 + [("b", 2.0)], "k string, v double"
    )

    def check(n):
        live = engine.registry.queries
        assert sorted(live) == ["by_k", "good_all", "pmf", "top"]
        assert live["good_all"].state.result() == [{"cnt": 4 * n}]
        assert sorted(
            (r["k"], r["cnt"]) for r in live["by_k"].state.result()
        ) == [("a", 3 * n), ("b", n)]
        assert [r["count"] for r in live["pmf"].state.result()] == [3 * n, n]
        assert [r["cnt"] for r in live["top"].state.result()] == [3 * n, n]

    engine.process_batch(batch)
    fleet_chunks = plans[0]
    assert len(fleet_chunks) == 3
    (broken,) = [cp for cp in fleet_chunks if "bad" in {rq.id for rq in cp.rqs}]
    assert sorted(rq.id for rq in broken.rqs) == ["bad", "good_all", "pmf"]
    # every fleet chunk was bound on a pool thread, not the driver thread
    fleet_binds = [(cp, t) for cp, t in binds if cp in fleet_chunks]
    assert {cp for cp, _ in fleet_binds} == set(fleet_chunks)
    assert all(t is not threading.main_thread() for _, t in fleet_binds)
    failed = [i for i, c in engine.results if c.meta.get("signal") == "FAIL"]
    assert failed == ["bad"]
    check(1)
    engine.process_batch(batch)  # the shrunk fleet replans and rebinds
    check(2)
    n_plans, n_binds = len(plans), len(binds)
    engine.process_batch(batch)  # same frame, stable fleet
    check(3)
    assert (len(plans), len(binds)) == (n_plans, n_binds)
    assert [i for i, c in engine.results if c.meta.get("signal") == "FAIL"] == ["bad"]
