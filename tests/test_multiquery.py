"""Shared-scan fleet evaluation: every live query is a fleet member, and
each member's state must equal an independent DuckDB answer over the
union of the batches it consumed."""

import dataclasses
import gc
import weakref
from collections import Counter

import duckdb
import pytest

from bullet_storm_spark import (
    CountDistinct,
    oracle_sql_for,
    Distribution,
    DistributionType,
    GroupAll,
    GroupBy,
    GroupOperation,
    GroupOpType,
    Projection,
    Query,
    Raw,
    TopK,
)
from bullet_storm_spark.plans.expressions import eq, fld, gt
from bullet_storm_spark.plans.query import SlidingRecordWindow
from bullet_storm_spark.streaming import QueryRegistry, StreamingEngine
import bullet_storm_spark.streaming.multiquery as mq

SCHEMA = "k string, s string, v double, n int"


def _duck(*row_sets):
    """DuckDB ``events`` table holding the union of the given batches."""
    con = duckdb.connect()
    con.execute("CREATE TABLE events (k VARCHAR, s VARCHAR, v DOUBLE, n INTEGER)")
    for rows in row_sets:
        con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", rows)
    return con


def _records(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


def _num(v):
    """Numbers compare as floats rounded to 9 places: integer sums come
    back as doubles from the state, and interpolations may round
    differently in the last bits."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return round(float(v), 9)
    return v


def _norm(records):
    """Order-free view of result rows."""
    return sorted(
        (tuple(sorted((k, _num(v)) for k, v in r.items())) for r in records),
        key=repr,
    )


def _oracle(con, q):
    """The query's answer over the whole table; approximate COUNT DISTINCT
    has no SQL twin and is checked against the exact count (the fixtures
    hold at most five keys, where the HLL estimate is exact)."""
    agg = q.aggregation
    if isinstance(agg, CountDistinct) and not agg.exact:
        q = dataclasses.replace(q, aggregation=dataclasses.replace(agg, exact=True))
    return _records(con, oracle_sql_for(q))


def _matches(con, q):
    """Every record matching the query's filter, projected — RAW's
    oracle without the limit."""
    return _records(con, oracle_sql_for(dataclasses.replace(q, aggregation=Raw(size=10**9))))


def _check_raw(con, q, got):
    """RAW contract: exactly min(limit, matches) rows, each one a
    distinct record matching the filter (multiset containment)."""
    pool = Counter(tuple(sorted(r.items())) for r in _matches(con, q))
    assert len(got) == min(q.aggregation.size, sum(pool.values()))
    taken = Counter(tuple(sorted(r.items())) for r in got)
    assert not taken - pool, taken - pool


def _mixed_queries():
    return {
        "grp_all": Query(
            filter=gt("v", 10.0),
            aggregation=GroupAll(
                GroupOperation(GroupOpType.COUNT, None, "cnt"),
                GroupOperation(GroupOpType.SUM, "v", "s", field_kind="float"),
                GroupOperation(GroupOpType.MIN, "v", "mn"),
                GroupOperation(GroupOpType.AVG, "v", "av"),
            ),
            duration_ms=600_000,
        ),
        "grp_by": Query(
            aggregation=GroupBy(
                fields={"k": "key"},
                operations=[
                    GroupOperation(GroupOpType.COUNT, None, "cnt"),
                    GroupOperation(GroupOpType.SUM, "n", "sn"),
                ],
            ),
            duration_ms=600_000,
        ),
        "grp_proj": Query(
            filter=eq("k", "a"),
            projection=Projection.of(kk=fld("k"), doubled=fld("n")),
            aggregation=GroupBy(
                fields={"kk": ""},
                operations=[GroupOperation(GroupOpType.MAX, "doubled", "mx")],
            ),
            duration_ms=600_000,
        ),
        "topk": Query(
            aggregation=TopK(size=3, name="cnt", fields={"k": "", "s": "str"}),
            duration_ms=600_000,
        ),
        "pmf": Query(
            aggregation=Distribution(
                field="v", dist_type=DistributionType.PMF, points=[10.0, 50.0]
            ),
            duration_ms=600_000,
        ),
        "cdf": Query(
            aggregation=Distribution(
                field="v", dist_type=DistributionType.CDF, points=[10.0, 50.0]
            ),
            duration_ms=600_000,
        ),
        # count distinct IS shareable: HLL sketch column (approx) /
        # collect_set column (exact)
        "cd_approx": Query(
            filter=gt("n", 10),
            aggregation=CountDistinct(fields=["k"], name="u", exact=False),
            duration_ms=600_000,
        ),
        "cd": Query(
            aggregation=CountDistinct(fields=["k"], name="u"), duration_ms=600_000
        ),
        # RAW is shareable since r10 (one mapInPandas pass per fleet);
        # size 100 so the fleet stays stable across both batches (29
        # matches total — early-COMPLETE has its own test below)
        "raw": Query(
            filter=gt("n", 50), aggregation=Raw(size=100), duration_ms=600_000
        ),
        # QUANTILE is shareable since r10 (one KLL-partial pass per fleet)
        "quant": Query(
            aggregation=Distribution(
                field="v", dist_type=DistributionType.QUANTILE, points=[0.5]
            ),
            duration_ms=600_000,
        ),
    }


ROWS1 = [(f"{'ab'[i % 2]}", ["x", "y", None][i % 3], float(i), i) for i in range(80)]
ROWS2 = [("c", "x", float(i) + 0.5, i) for i in range(40)]


@pytest.fixture()
def batches(spark):
    return spark.createDataFrame(ROWS1, SCHEMA), spark.createDataFrame(ROWS2, SCHEMA)


def _run(spark, batches, queries=None):
    # frozen clock: no member may expire (the 10 s duration cap) mid-test
    engine = StreamingEngine(spark, clock=lambda: 1.0)
    for qid, q in (queries or _mixed_queries()).items():
        engine.submit(qid, q)
    for b in batches:
        engine.process_batch(b)
    return engine


def _assert_matches_oracle(engine, con, queries):
    for qid, rq in engine.registry.queries.items():
        q = queries[qid]
        got = rq.state.result()
        if isinstance(q.aggregation, Raw):
            _check_raw(con, q, got)
        else:
            assert _norm(got) == _norm(_oracle(con, q)), qid


def test_shared_scan_equals_per_query(spark, batches):
    # every family in one fleet; each live state equals DuckDB's answer
    # over both batches
    engine = _run(spark, batches)
    assert engine.shared_scan_queries == 20  # 10 members x 2 batches
    assert len(engine.registry.queries) == 10
    _assert_matches_oracle(engine, _duck(ROWS1, ROWS2), _mixed_queries())


def test_fleet_of_one_matches_oracle(spark, batches):
    queries = {"only": _mixed_queries()["grp_by"]}
    engine = _run(spark, batches[:1], queries)
    assert engine.shared_scan_queries == 1  # served by the fleet path
    _assert_matches_oracle(engine, _duck(ROWS1), queries)


def test_shared_plan_cache_invalidates_on_fleet_change(spark, batches, monkeypatch):
    # the plan is reused while the fleet is stable, rebuilt when a member
    # leaves (killed query), and survivors stay right throughout
    plans = []
    real = mq.plan_chunks
    monkeypatch.setattr(mq, "plan_chunks", lambda qs: plans.append(len(qs)) or real(qs))
    queries = _mixed_queries()
    engine = _run(spark, batches[:1], queries)
    assert plans == [9]  # the aggregation fleet (RAW plans separately)
    engine.process_batch(batches[0])
    assert plans == [9]  # stable fleet -> cached plan reused
    engine.kill("grp_all")
    engine.process_batch(batches[1])
    assert plans == [9, 8]
    assert "grp_all" not in engine.registry.queries
    _assert_matches_oracle(engine, _duck(ROWS1, ROWS1, ROWS2), queries)


def test_shared_plan_cache_released_when_fleet_shrinks(spark, batches):
    # killed queries' RunningQuery objects (and their state) must not be
    # pinned by cached plans or bindings once the next batch has run
    engine = _run(spark, batches[:1])
    killed = [qid for qid in engine.registry.queries if qid != "raw"]
    refs = [weakref.ref(engine.registry.queries[qid]) for qid in killed]
    for qid in killed:
        engine.kill(qid)
    engine.process_batch(batches[1])
    gc.collect()
    assert [qid for qid, r in zip(killed, refs) if r() is not None] == []
    assert list(engine.registry.queries) == ["raw"]


def _raw_fleet(n: int, size: int = 5, off: int = 0):
    from bullet_storm_spark.plans.expressions import fld

    qs = {}
    for i in range(n):
        qs[f"raw{i}"] = Query(
            filter=gt("n", off + i),  # distinct selectivities
            projection=(
                Projection.of(key=fld("k"), num=fld("n")) if i % 2 else Projection()
            ),
            aggregation=Raw(size=size),
            duration_ms=600_000,
        )
    return qs


def test_shared_raw_fleet_limit_and_early_complete(spark, batches):
    # A RAW fleet on the shared path must keep the per-query contracts:
    # each query collects EXACTLY its limit of rows matching ITS filter
    # (projected per ITS projection) and early-COMPLETEs when full.
    engine = StreamingEngine(spark)
    for qid, q in _raw_fleet(6).items():
        engine.submit(qid, q)
    emitted = {}
    engine.on_result(lambda qid, clip: emitted.setdefault(qid, clip))
    engine.process_batch(batches[0])
    assert engine.shared_scan_queries == 6
    for i in range(6):
        clip = emitted[f"raw{i}"]
        recs = clip.records
        assert len(recs) == 5, (i, recs)
        if i % 2:
            assert set(recs[0].keys()) == {"key", "num"}
            assert all(r["num"] > i for r in recs)
        else:
            assert set(recs[0].keys()) == {"k", "s", "v", "n"}
            assert all(r["n"] > i for r in recs)
        assert f"raw{i}" not in engine.registry.queries  # early-COMPLETE


def test_shared_raw_fleet_equals_per_query_counts(spark, batches):
    # remaining-capacity decay across batches: a fleet too selective to
    # fill on batch 0 keeps accumulating on batch 1. filter n>20+i:
    # batch 0 supplies 59-i matches, batch 1 another 19-i — never full at
    # size 90, so the fleet stays live and shares BOTH batches; each
    # member holds exactly its matches over the union
    queries = _raw_fleet(4, size=90, off=20)
    engine = _run(spark, batches, queries)
    assert engine.shared_scan_queries == 8
    assert len(engine.registry.queries) == 4
    _assert_matches_oracle(engine, _duck(ROWS1, ROWS2), queries)


def test_raw_fleet_is_one_chunk_plan():
    # N RAW members plan into ceil(N / MAX_RAW_MEMBERS_PER_JOB) shared
    # passes — 50 queries, ONE job per batch (VERDICT r9 item 3)
    from bullet_storm_spark.streaming.multiquery import (
        MAX_RAW_MEMBERS_PER_JOB,
        RawChunkPlan,
        plan_chunks,
    )
    class _RQ:  # minimal RunningQuery stand-in: .query + .state
        def __init__(self, q):
            from bullet_storm_spark.streaming.state import RawState

            self.query = q
            self.state = RawState(q.aggregation)
            self.id = id(self)

    fleet = [_RQ(q) for q in _raw_fleet(50).values()]
    chunks = plan_chunks(fleet)
    assert len(chunks) == 1 and isinstance(chunks[0], RawChunkPlan)
    assert len(chunks[0].rqs) == 50
    big = [_RQ(q) for q in _raw_fleet(MAX_RAW_MEMBERS_PER_JOB + 1).values()]
    assert len(plan_chunks(big)) == 2


def test_shared_quantile_fleet_equals_per_query(spark, batches):
    # QUANTILE fleet on the shared KLL pass: small input (< SAMPLE_CAP)
    # is EXACT, so every member equals DuckDB's quantile_cont; the fleet
    # plans into one QuantileChunkPlan and runs one job per batch.
    queries = {
        f"qt{i}": Query(
            filter=gt("n", 10 * i) if i else None,
            aggregation=Distribution(
                field="v",
                dist_type=DistributionType.QUANTILE,
                points=[0.1, 0.5, 0.9],
            ),
            duration_ms=600_000,
        )
        for i in range(5)
    }
    engine = _run(spark, batches, queries)
    assert engine.shared_scan_queries == 10
    assert len(engine.registry.queries) == 5
    _assert_matches_oracle(engine, _duck(ROWS1, ROWS2), queries)
    chunks = mq.plan_chunks(engine.registry.active())
    assert len(chunks) == 1 and isinstance(chunks[0], mq.QuantileChunkPlan)


@pytest.mark.parametrize("seed", range(4))
def test_shared_scan_random_fleet_equivalence(spark, seed):
    # seeded random mixed fleets (every family incl. RAW + QUANTILE,
    # random filters/projections/limits/points) must match DuckDB over
    # the union of the two batches — the property version of the
    # fixed-fleet tests above. RAW checks count + filter consistency
    # (content is order-dependent by contract); everything else compares
    # exactly. Each fleet also gets aggregate record-window members
    # (additive windows: one emission per emit_every matches, state =
    # the union) and COUNT DISTINCT members, and odd seeds run under a
    # rate limit, where every live member's consumed-record count must
    # equal its DuckDB match count.
    import random as _random

    from bullet_storm_spark.plans.expressions import lt

    rng = _random.Random(4100 + seed)
    rows1 = [
        (f"{'abc'[i % 3]}", ["x", "y", None][i % 3], float(i % 97), i)
        for i in range(120)
    ]
    rows2 = [("d", "x", float(i % 53) + 0.5, i + 120) for i in range(60)]
    batches = (
        spark.createDataFrame(rows1, SCHEMA).repartition(5),
        spark.createDataFrame(rows2, SCHEMA).repartition(3),
    )

    def rand_filter():
        return rng.choice(
            [None, gt("v", float(rng.randint(0, 90))),
             lt("n", rng.randint(10, 170)), eq("k", rng.choice("abcd"))]
        )

    def rand_agg(fam):
        if fam == 0:
            return GroupAll(
                GroupOperation(GroupOpType.COUNT, None, "cnt"),
                GroupOperation(GroupOpType.SUM, "v", "s", field_kind="float"),
            )
        if fam == 1:
            return GroupBy(
                fields={"k": "key"},
                operations=[
                    GroupOperation(GroupOpType.COUNT, None, "cnt"),
                    GroupOperation(
                        rng.choice(
                            [GroupOpType.MIN, GroupOpType.MAX, GroupOpType.AVG]
                        ),
                        "v",
                        "m",
                    ),
                ],
            )
        if fam == 2:
            return TopK(size=rng.randint(1, 4), name="cnt", fields={"s": ""})
        if fam == 3:
            return Distribution(
                field="v",
                dist_type=rng.choice(
                    [DistributionType.PMF, DistributionType.CDF]
                ),
                points=sorted(
                    rng.sample([5.0, 20.0, 40.0, 60.0, 80.0], k=rng.randint(1, 3))
                ),
            )
        if fam == 4:
            return Distribution(
                field="v",
                dist_type=DistributionType.QUANTILE,
                points=sorted(
                    rng.sample([0.1, 0.25, 0.5, 0.75, 0.9], k=rng.randint(1, 3))
                ),
            )
        if fam == 5:
            return CountDistinct(fields=["s"], name="u", exact=True)
        return Raw(size=rng.randint(3, 400))

    def rand_query(i):
        fam = rng.randrange(7)
        f = rand_filter()
        return Query(filter=f, aggregation=rand_agg(fam), duration_ms=600_000)

    fleet = {f"rf{seed}-{i}": rand_query(i) for i in range(rng.randint(6, 14))}
    windows = {}
    for i in range(rng.randint(2, 4)):
        f = rand_filter()
        every = rng.randint(10, 100)
        fleet[f"rw{seed}-{i}"] = Query(
            filter=f,
            aggregation=rand_agg(rng.randrange(5)),
            window=SlidingRecordWindow(emit_every=every, include_all=True),
            duration_ms=600_000,
        )
        windows[f"rw{seed}-{i}"] = every
    for i in range(rng.randint(1, 3)):
        fleet[f"cd{seed}-{i}"] = Query(
            filter=rand_filter(),
            aggregation=CountDistinct(
                fields=[rng.choice("ks")], name="u", exact=rng.random() < 0.5
            ),
            duration_ms=600_000,
        )
    rate_limited = seed % 2 == 1

    engine = StreamingEngine(
        spark,
        clock=lambda: 1.0,
        rate_limit_records_per_s=10**9 if rate_limited else None,
    )
    for qid, q in fleet.items():
        engine.submit(qid, q)
    done, emitted = {}, Counter()
    engine.on_result(lambda qid, clip: done.setdefault(qid, clip))
    engine.on_result(lambda qid, clip: emitted.update([qid]))
    for b in batches:
        engine.process_batch(b)
    assert engine.shared_scan_queries >= len(fleet)
    con = _duck(rows1, rows2)
    for qid, q in fleet.items():
        rq = engine.registry.queries.get(qid)
        got = rq.state.result() if rq is not None else done[qid].records
        if isinstance(q.aggregation, Raw):
            _check_raw(con, q, got)
            continue
        assert rq is not None, qid  # aggregates outlive both batches
        assert _norm(got) == _norm(_oracle(con, q)), qid
        n_match = len(_matches(con, q))
        if qid in windows:
            assert emitted[qid] == n_match // windows[qid], qid
        if rate_limited:
            assert rq.records_consumed == n_match, qid


def test_raw_fold_bounds_driver_rows_at_any_partition_count(spark):
    # r11 (VERDICT item 2): the shared RAW pass's driver collect is
    # O(RAW_FOLD_FANIN x sum(limits)) rows REGARDLESS of scan partition
    # count — each first-pass partition caps every member at its FULL
    # limit, so without the fold a P-partition batch could ship
    # P x sum(limits) rows. Pin the folded row count AND that semantics
    # survive: every member still fills to exactly its limit with rows
    # matching its filter.
    from bullet_storm_spark.streaming.multiquery import (
        RAW_FOLD_FANIN,
        _collect_raw_chunk,
        _raw_chunk_folded_df,
        plan_raw_chunks,
    )
    from bullet_storm_spark.streaming.state import RawState

    class _RQ:
        def __init__(self, q):
            self.query = q
            self.state = RawState(q.aggregation)
            self.id = id(self)

    parts = 4 * RAW_FOLD_FANIN  # local[32] handles 128 empty-ish slices
    rows = [(f"{'ab'[i % 2]}", "x", float(i), i) for i in range(4000)]
    batch = spark.createDataFrame(
        rows, "k string, s string, v double, n int"
    ).repartition(parts)
    fleet = [_RQ(q) for q in _raw_fleet(8, size=7).values()]
    (cp,) = plan_raw_chunks(fleet)
    caps_total = sum(cp.caps)
    folded_rows = _raw_chunk_folded_df(batch, cp).count()
    # the bound that matters: independent of the 128 partitions
    assert folded_rows <= RAW_FOLD_FANIN * caps_total
    # and the per-member contract is intact through the fold
    result = _collect_raw_chunk(_raw_chunk_folded_df(batch, cp), cp)
    for i, member_rows in enumerate(result):
        assert len(member_rows) == 7, i
        key = "num" if i % 2 else "n"
        assert all(r[key] > i for r in member_rows), i


def test_split_fleet_is_the_single_cache_key(spark):
    # advice r10: engine and planner key off ONE split definition
    from bullet_storm_spark.streaming.multiquery import split_fleet
    from bullet_storm_spark.streaming.state import RawState

    class _RQ:
        def __init__(self, q):
            self.query = q
            self.state = RawState(q.aggregation) if isinstance(
                q.aggregation, Raw
            ) else object()
            self.id = id(self)

    raw_qs = [_RQ(q) for q in _raw_fleet(3).values()]
    mixed = [object.__new__(_RQ) for _ in range(2)]
    for m in mixed:
        m.query, m.state, m.id = None, object(), id(m)
    fleet = [raw_qs[0], mixed[0], raw_qs[1], mixed[1], raw_qs[2]]
    raw, rest = split_fleet(fleet)
    assert raw == raw_qs and rest == mixed


def test_plan_is_one_job_per_key_set():
    # a fleet shaped like the benchmark's windowed fleet: PMF/CDF members
    # with pairwise-different split points are keyless, so they share the
    # GROUP ALL / COUNT DISTINCT chunks and the plan has exactly
    # ceil(members / MAX_MEMBERS_PER_JOB) chunks per distinct key-set
    import math

    def member(i):
        fam = i % 6
        if fam == 0:
            agg = GroupAll(
                GroupOperation(GroupOpType.COUNT, None, "cnt"),
                GroupOperation(GroupOpType.SUM, "v", "s", field_kind="float"),
            )
        elif fam == 1:
            agg = GroupBy(
                fields={"k": "", "s": ""},
                operations=[GroupOperation(GroupOpType.COUNT, None, "cnt")],
            )
        elif fam == 2:
            agg = TopK(size=3, name="cnt", fields={"k": ""})
        elif fam == 3:
            agg = Distribution(
                field="v",
                dist_type=[DistributionType.PMF, DistributionType.CDF][i % 2],
                points=[float(i), i + 40.0, i + 100.0],
            )
        elif fam == 4:
            agg = Distribution(
                field="v",
                dist_type=[DistributionType.PMF, DistributionType.CDF][i % 2],
                points=[i + 0.5, i + 60.0],
            )
        else:
            agg = CountDistinct(fields=["k"], name="u", exact=True)
        return Query(filter=gt("v", float(i)), aggregation=agg, duration_ms=600_000)

    registry = QueryRegistry()
    fleet = [registry.submit(f"m{i}", member(i)) for i in range(60)]
    chunks = mq.plan_chunks(fleet)
    assert all(isinstance(cp, mq.ChunkPlan) for cp in chunks)
    members, n_chunks = Counter(), Counter()
    for cp in chunks:
        members[tuple(cp.key_names)] += len(cp.members)
        n_chunks[tuple(cp.key_names)] += 1
    # keyless, GROUP BY (k, s) and TOP K k
    assert len(members) == 3
    assert members[()] == 40  # 10 GROUP ALL + 20 PMF/CDF + 10 COUNT DISTINCT
    for keys, n in members.items():
        assert n_chunks[keys] == math.ceil(n / mq.MAX_MEMBERS_PER_JOB), keys
    assert len(chunks) == 3 + 1 + 1
    for cp in chunks:
        for rq in cp.rqs:
            if isinstance(rq.query.aggregation, Distribution):
                assert cp.key_names == [], rq.id
    # COUNT DISTINCT members (object aggregates, no whole-stage codegen)
    # pack last, so at most one chunk mixes them with the other members
    mixed = [
        cp
        for cp in chunks
        if len({isinstance(rq.query.aggregation, CountDistinct) for rq in cp.rqs}) > 1
    ]
    assert len(mixed) <= 1


# values on both sides of, and exactly at, the split points, plus nulls
EDGE_VALUES = [None, 0.5, 5.0, 7.5, 10.0, 10.0, 20.0, 49.999, 50.0, 50.0, 75.0, None]
EDGE1 = [
    ("ab"[i % 2], ["x", "y", None][i % 3], EDGE_VALUES[i % 12], i) for i in range(36)
]
EDGE2 = [("c", "x", EDGE_VALUES[(i * 5) % 12], i) for i in range(24)]


def test_pmf_cdf_fleet_edges_match_oracle(spark):
    # PMF/CDF members in one fleet, with null values, values exactly on a
    # split point, and points shared between members as well as points
    # that differ; each member equals DuckDB over both batches, and under
    # a rate limit its consumed records equal its filter matches, null
    # values included
    def dist(kind, points, flt=None):
        return Query(
            filter=flt,
            aggregation=Distribution(field="v", dist_type=kind, points=points),
            duration_ms=600_000,
        )

    pmf, cdf = DistributionType.PMF, DistributionType.CDF
    queries = {
        "pmf_a": dist(pmf, [10.0, 50.0]),
        "cdf_a": dist(cdf, [10.0, 50.0]),
        "pmf_b": dist(pmf, [5.0, 10.0, 20.0], gt("n", 3)),
        "cdf_b": dist(cdf, [5.0, 10.0, 20.0], eq("k", "a")),
        "pmf_c": dist(pmf, [0.5, 7.5], eq("s", "x")),
        "cdf_d": dist(cdf, [50.0], eq("k", "c")),
        "pmf_e": dist(pmf, [49.999, 75.0]),
    }
    engine = StreamingEngine(
        spark, clock=lambda: 1.0, rate_limit_records_per_s=10**9
    )
    for qid, q in queries.items():
        engine.submit(qid, q)
    for rows in (EDGE1, EDGE2):
        engine.process_batch(spark.createDataFrame(rows, SCHEMA))
    con = _duck(EDGE1, EDGE2)
    assert sorted(engine.registry.queries) == sorted(queries)
    _assert_matches_oracle(engine, con, queries)
    for qid, q in queries.items():
        rq = engine.registry.queries[qid]
        matches = _matches(con, q)
        assert any(r["v"] is None for r in matches), qid
        assert rq.records_consumed == len(matches), qid
