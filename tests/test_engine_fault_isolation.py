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
