"""Partial-merge associativity properties: feeding the same rows in ANY
batch split must produce identical state results — the streaming analogue
of the reference's two-sketch merge tests (JoinBoltTest.java:696-735),
checked over randomized splits."""

from hypothesis import HealthCheck, given, settings, strategies as st

from bullet_storm_spark import (
    Distribution,
    DistributionType,
    GroupBy,
    GroupOperation,
    GroupOpType,
    Query,
    TopK,
)
from bullet_storm_spark.streaming import StreamingEngine

ROWS = [(f"k{i % 6}", float(i % 37)) for i in range(300)]

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _run_split(spark, query, cut_points):
    engine = StreamingEngine(spark)
    engine.submit("q", query)
    cuts = sorted({0, *cut_points, len(ROWS)})
    for lo, hi in zip(cuts, cuts[1:]):
        chunk = ROWS[lo:hi]
        if chunk:
            engine.process_batch(spark.createDataFrame(chunk, "k string, v double"))
    return engine.registry.queries["q"].state.result()


splits = st.lists(st.integers(1, len(ROWS) - 1), min_size=0, max_size=4)


@SETTINGS
@given(cuts=splits)
def test_group_state_split_invariant(spark, cuts):
    q = Query(
        aggregation=GroupBy(
            fields={"k": ""},
            operations=[
                GroupOperation(GroupOpType.COUNT, None, "cnt"),
                GroupOperation(GroupOpType.SUM, "v", "s"),
                GroupOperation(GroupOpType.MIN, "v", "mn"),
                GroupOperation(GroupOpType.MAX, "v", "mx"),
                GroupOperation(GroupOpType.AVG, "v", "av"),
            ],
        ),
        duration_ms=3_600_000,  # 1h: a loaded machine outlived 10min once
    )
    whole = _run_split(spark, q, [])
    split = _run_split(spark, q, cuts)
    key = lambda rows: sorted((r["k"], *(round(v, 9) if isinstance(v, float) else v for kk, v in r.items() if kk != "k")) for r in rows)
    assert key(whole) == key(split)


@SETTINGS
@given(cuts=splits)
def test_topk_state_split_invariant(spark, cuts):
    q = Query(
        aggregation=TopK(size=4, name="cnt", fields={"k": ""}),
        duration_ms=3_600_000,  # 1h: a loaded machine outlived 10min once
    )
    assert _run_split(spark, q, []) == _run_split(spark, q, cuts)


@SETTINGS
@given(cuts=splits)
def test_distribution_state_split_invariant(spark, cuts):
    q = Query(
        aggregation=Distribution(
            field="v", dist_type=DistributionType.CDF, points=[10.0, 25.0]
        ),
        duration_ms=3_600_000,  # 1h: a loaded machine outlived 10min once
    )
    assert _run_split(spark, q, []) == _run_split(spark, q, cuts)


def test_driver_hll_union_and_estimate_equal_spark(spark):
    # approximate COUNT DISTINCT merges and estimates on the driver JVM;
    # the bytes and the estimate must be exactly Spark's hll_union /
    # hll_sketch_estimate, for sketches in each HLL mode (sparse LIST and
    # SET, dense HLL) and through a three-way fold
    from pyspark.sql import functions as F

    from bullet_storm_spark.streaming.state import hll_estimate, hll_union

    def sketch(lo, hi):
        return bytes(
            spark.range(lo, hi)
            .agg(F.hll_sketch_agg("id").alias("s"))
            .collect()[0]["s"]
        )

    def spark_union(a, b):
        return bytes(
            spark.createDataFrame([(a, b)], "a binary, b binary")
            .select(F.hll_union("a", "b").alias("u"))
            .collect()[0]["u"]
        )

    def spark_estimate(s):
        return (
            spark.createDataFrame([(s,)], "s binary")
            .select(F.hll_sketch_estimate("s").alias("e"))
            .collect()[0]["e"]
        )

    def mode(s):
        ds = spark._jvm.org.apache.datasketches
        return ds.hll.HllSketch.heapify(ds.memory.Memory.wrap(s)).getCurMode().toString()

    small, mid, dense = sketch(0, 5), sketch(3, 120), sketch(60, 6000)
    assert [mode(s) for s in (small, mid, dense)] == ["LIST", "SET", "HLL"]
    for a, b in [(small, sketch(2, 7)), (small, mid), (mid, sketch(100, 300)),
                 (mid, dense), (dense, sketch(4000, 20000))]:
        got = hll_union(a, b)
        assert got == spark_union(a, b)
        assert hll_estimate(got) == spark_estimate(got)
    folded = hll_union(hll_union(small, mid), dense)
    assert folded == spark_union(spark_union(small, mid), dense)
    assert hll_estimate(folded) == spark_estimate(folded)
    for s in (small, mid, dense):
        assert hll_estimate(s) == spark_estimate(s)
