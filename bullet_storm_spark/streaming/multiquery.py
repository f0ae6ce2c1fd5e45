"""Shared-scan fleet evaluation — every live query, few Spark jobs.

Every live query is a fleet member, a fleet of one included: this module
is the engine's only streaming execution path. Aggregation members batch
into one job per DISTINCT KEY-SET:

  pre-select: per job -> each member query's boolean filter column f_i and
              the job's canonical key columns (queries grouping on the same
              expression share one column and one job)
  groupBy   : the key-set's columns (no GROUPING SETS — an Expand would
              duplicate every input row once per key-set, which benchmarks
              slower than per-set jobs over the cached batch)
  agg       : per member query, its partial aggregates made conditional on
              f_i (sum(when(f_i, x)), min(when(f_i, x)), ...), plus a match
              count; groups with zero matches for a query are artifacts of
              other members' rows and are dropped at split time

With Q queries over K distinct key-sets this is K jobs instead of Q — e.g.
a fleet of GROUP ALL health queries is ONE keyless aggregate regardless of
fleet size. This is the reference's QueryManager one-record-many-queries
fan-out (SURVEY.md §4 row 1 / §7.3 known-hard #1) as Catalyst plans.

GROUP BY and TOP K group on their key columns. GROUP ALL, COUNT DISTINCT
and DISTRIBUTION PMF/CDF are keyless and share one key-set: a PMF/CDF
member pre-selects its filtered bin index and adds one conditional count
per bin, so members with different split points never split it. Each
member's match count doubles as its record-consumption metric (rate
limits, record windows). RAW fleets (the
reference's most common query shape, ``T/JoinBoltTest.java:340-351``
makeRawQuery) share ONE
mapInPandas pass per <=MAX_RAW_MEMBERS_PER_JOB members: every member's
filter and projection evaluate JVM-side into a nullable struct column,
rows matching no member are dropped JVM-side, and the Python stage only
caps each member at its limit per partition; past RAW_FOLD_FANIN scan
partitions one coalesce + re-cap fold level bounds the driver collect
at O(RAW_FOLD_FANIN x sum(limits)) rows at ANY partition count (the
sketch tree-fold discipline — without it a 100k-partition batch could
funnel partitions x sum(limits) rows to the driver). The
member's CURRENT remaining capacity is applied driver-side at split
time so the cached batch-independent plan survives capacity decay.
QUANTILE fleets likewise share one mapInPandas pass per
<=MAX_QUANTILE_MEMBERS_PER_JOB members, each member folding its
filtered values into its own mergeable KLL summary with the one
``sketches.kll_fold`` compactor. Record windows need nothing special:
their partial is the same and emission happens driver-side.

``FleetPlan`` is the engine's one plan cache. Each chunk binds to the
batch (Catalyst analysis) and collects inside one thread-pool task, so
one chunk's analysis overlaps the others' jobs. Faults are isolated per
chunk: a chunk that fails to plan, bind or collect re-runs each member as
a fleet of one, and only members whose solo run fails are reported.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from bullet_storm_spark.operators.sketches import kll_fold
from bullet_storm_spark.operators.top_k import NULL_RENDERING
from bullet_storm_spark.plans.query import (
    DistributionType,
    GroupBy,
    GroupOpType,
    TopK,
)
from bullet_storm_spark.streaming.state import (
    CountDistinctState,
    DistributionState,
    GroupState,
    RawState,
    TopKState,
)


@dataclass
class _Member:
    rq: Any
    prefix: str
    agg_cols: list[Column] = field(default_factory=list)
    rename: dict[str, str] = field(default_factory=dict)  # result col -> partial name
    keyed: bool = False


@dataclass
class _Job:
    key_names: list[str] = field(default_factory=list)
    key_cols: dict[str, Column] = field(default_factory=dict)
    value_cols: dict[str, Column] = field(default_factory=dict)
    members: list[_Member] = field(default_factory=list)


def _resolver(rq):
    proj = rq.query.projection
    if proj.fields is None:
        return lambda name: (F.col(name), f"raw:{name}")
    env = {f.name: f.expression.to_column() for f in proj.fields}
    return lambda name: (env[name], f"proj:{rq.id}:{name}")


def _canon(tag: str) -> str:
    """Canonical ids become column names; keep them identifier-safe."""
    return "k_" + "".join(c if c.isalnum() else "_" for c in tag)


def plan_jobs(queries) -> list[_Job]:
    jobs: dict[tuple, _Job] = {}
    for i, rq in enumerate(queries):
        state = rq.state
        resolve = _resolver(rq)
        prefix = f"q{i}__"
        key_cols: dict[str, Column] = {}
        key_to_alias: dict[str, str] = {}

        # COUNT DISTINCT (sketch / key-set column) and PMF/CDF (per-bin
        # conditional counts) are keyless: they join the GROUP ALL job
        keyed = False
        if isinstance(state, GroupState):
            agg: GroupBy = state.agg
            for fname in agg.fields:
                col, tag = resolve(fname)
                name = _canon(f"plain:{tag}")
                key_cols[name] = col
                key_to_alias[name] = agg.alias_of(fname)
            keyed = bool(agg.fields)
        elif isinstance(state, TopKState):
            agg_t: TopK = state.agg
            for fname in agg_t.fields:
                col, tag = resolve(fname)
                name = _canon(f"str:{tag}")
                key_cols[name] = F.coalesce(
                    col.cast("string"), F.lit(NULL_RENDERING)
                )
                key_to_alias[name] = agg_t.alias_of(fname)
            keyed = True

        job_key = tuple(sorted(key_cols))
        job = jobs.setdefault(job_key, _Job(key_names=sorted(key_cols)))
        for name, col in key_cols.items():
            job.key_cols[name] = col

        member = _Member(rq=rq, prefix=prefix, keyed=keyed)
        for name, alias in key_to_alias.items():
            member.rename[name] = alias
        _add_agg_cols(member, state, rq, resolve, job)
        job.members.append(member)
    return list(jobs.values())


def _add_agg_cols(member: _Member, state, rq, resolve, job: _Job) -> None:
    p = member.prefix
    q = rq.query
    fcol = q.filter.to_column() if q.filter is not None else F.lit(True)
    fname = f"{p}f"
    job.value_cols[fname] = fcol
    f_ref = F.col(fname)

    if isinstance(state, CountDistinctState):
        if len(state.agg.fields) == 1:
            key, _ = resolve(state.agg.fields[0])
        else:
            key = F.concat_ws(
                "\x1f",
                *[resolve(f)[0].cast("string") for f in state.agg.fields],
            )
        vname = f"{p}cdk"
        job.value_cols[vname] = F.when(f_ref, key)
        if state.agg.exact:
            # raw key values, nulls excluded (COUNT DISTINCT never
            # counts a NULL key)
            member.agg_cols.append(
                F.collect_set(F.col(vname)).alias(f"{p}ks")
            )
            member.rename[f"{p}ks"] = "__ks"
        else:
            member.agg_cols.append(
                F.hll_sketch_agg(F.col(vname)).alias(f"{p}sk")
            )
            member.rename[f"{p}sk"] = "__sketch"
        member.agg_cols.append(
            F.sum(F.when(f_ref, 1).otherwise(0)).cast("bigint").alias(f"{p}match")
        )
        member.rename[f"{p}match"] = "__nrec"
        return

    if isinstance(state, GroupState):
        for j, op in enumerate(state.agg.operations):
            t = op.op
            if t == GroupOpType.COUNT:
                c = F.sum(F.when(f_ref, 1).otherwise(0)).cast("bigint")
                member.agg_cols.append(c.alias(f"{p}c{j}"))
                member.rename[f"{p}c{j}"] = f"__c{j}"
                continue
            vcol, _ = resolve(op.field)
            vname = f"{p}v{j}"
            if t == GroupOpType.COUNT_FIELD:
                job.value_cols[vname] = vcol
                c = F.sum(
                    F.when(f_ref & F.col(vname).isNotNull(), 1).otherwise(0)
                ).cast("bigint")
                member.agg_cols.append(c.alias(f"{p}c{j}"))
                member.rename[f"{p}c{j}"] = f"__c{j}"
            elif t in (GroupOpType.SUM, GroupOpType.AVG):
                job.value_cols[vname] = vcol.cast("double")
                member.agg_cols.append(
                    F.sum(F.when(f_ref, F.col(vname))).alias(f"{p}s{j}")
                )
                member.agg_cols.append(
                    F.sum(F.when(f_ref & F.col(vname).isNotNull(), 1).otherwise(0))
                    .cast("bigint")
                    .alias(f"{p}n{j}")
                )
                member.rename[f"{p}s{j}"] = f"__s{j}"
                member.rename[f"{p}n{j}"] = f"__n{j}"
            elif t in (GroupOpType.MIN, GroupOpType.MAX):
                job.value_cols[vname] = vcol
                fn = F.min if t == GroupOpType.MIN else F.max
                member.agg_cols.append(
                    fn(F.when(f_ref, F.col(vname))).alias(f"{p}m{j}")
                )
                member.rename[f"{p}m{j}"] = f"__m{j}"
        member.agg_cols.append(
            F.sum(F.when(f_ref, 1).otherwise(0)).cast("bigint").alias(f"{p}match")
        )
        # the match count doubles as the consumed-records metric
        member.rename[f"{p}match"] = "__nrec"

    elif isinstance(state, TopKState):
        c = F.sum(F.when(f_ref, 1).otherwise(0)).cast("bigint")
        member.agg_cols.append(c.alias(f"{p}c"))
        member.rename[f"{p}c"] = "__c"
        member.agg_cols.append(
            F.sum(F.when(f_ref, 1).otherwise(0)).alias(f"{p}match")
        )

    else:  # DistributionState PMF/CDF: one conditional count per bin. A
        # null value has a null bin index, so no bin counts it, but it DOES
        # count as a consumed record (match uses the raw filter); NaN
        # compares above every point and lands in the top bin
        v = resolve(state.agg.field)[0].cast("double")
        bin_idx = F.lit(0)
        for pt in state.points:
            bin_idx = bin_idx + (v >= F.lit(pt)).cast("int")
        bname = f"{p}bin"
        job.value_cols[bname] = F.when(f_ref, bin_idx)
        for b in range(len(state.points) + 1):
            c = F.sum(F.when(F.col(bname) == b, 1).otherwise(0)).cast("bigint")
            member.agg_cols.append(c.alias(f"{p}b{b}"))
            member.rename[f"{p}b{b}"] = f"__b{b}"
        member.agg_cols.append(
            F.sum(F.when(f_ref, 1).otherwise(0)).cast("bigint").alias(f"{p}match")
        )
        member.rename[f"{p}match"] = "__nrec"


# max queries folded into one aggregation plan: beyond this, analysis +
# codegen cost of the giant expression list dominates (measured: 93 GROUP
# ALLs in one plan ran slower than 93 small jobs)
MAX_MEMBERS_PER_JOB = 16

# RAW members per shared pass: the pre-select is one struct + no agg
# expressions per member (far cheaper to analyze than an agg chunk), so
# the cap is looser; it bounds the Arrow row width of the Python stage
MAX_RAW_MEMBERS_PER_JOB = 64


@dataclass(eq=False)
class RawChunkPlan:
    """One shared RAW pass's batch-independent pieces: per member i a
    filter flag ``__f{i}`` and a nullable struct column ``m{i}`` (the
    member's projection, null unless its flag is set), the per-partition
    cap (the member's FULL limit — an upper bound of its remaining
    capacity, so the plan is reusable across batches while capacity
    decays), and the member queries for split-time capping. Flags and
    payloads are SEPARATE projection steps so Catalyst pushes the
    any-member OR filter below the (wide) struct construction — the
    structs evaluate only on surviving rows, not the whole batch
    (measured: 50 structs over a 100k-row batch cost 0.6 s JVM-side
    when built before the filter)."""

    flag_cols: list
    payload_cols: list
    caps: list[int]
    rqs: list[Any]
    # batch-SCHEMA-keyed caches (filled lazily by _raw_chunk_folded_df):
    # the when()-wrapped member payload columns and the Python stage's
    # output StructType depend only on the batch's column list/schema,
    # which is stable for the life of a stream — rebuilding them per
    # batch cost ~0.6 s of driver py4j calls + one full extra Catalyst
    # analysis (alive.schema) per 60-member chunk per batch, measured
    # r12 on the 500q fleet. A batch with a DIFFERENT schema just misses
    # the cache and rebuilds.
    _wrapped_key: tuple | None = None
    _wrapped_payloads: list | None = None
    _out_schema_key: tuple | None = None
    _out_schema: Any = None
    # fully batch-independent: the any-member OR filter over __f{i}
    _alive_filter: Any = None


def plan_raw_chunks(raw_queries) -> list[RawChunkPlan]:
    """The RAW fleet planner (FleetPlan's split RAW plan cache calls it
    directly on ``split_fleet``'s first half)."""
    chunks: list[RawChunkPlan] = []
    for start in range(0, len(raw_queries), MAX_RAW_MEMBERS_PER_JOB):
        members = raw_queries[start : start + MAX_RAW_MEMBERS_PER_JOB]
        flag_cols, payload_cols, caps = [], [], []
        for i, rq in enumerate(members):
            q = rq.query
            fcol = (
                F.coalesce(q.filter.to_column(), F.lit(False))
                if q.filter is not None
                else F.lit(True)
            )
            if q.projection.fields is not None:
                payload = F.struct(
                    *[
                        f.expression.to_column().alias(f.name)
                        for f in q.projection.fields
                    ]
                )
            else:
                # pass-through projection: the struct must cover the
                # BATCH columns only (a plan-time "*" would swallow the
                # flag columns added upstream) — bound at run time
                payload = None
            flag_cols.append(fcol.alias(f"__f{i}"))
            payload_cols.append(payload)
            caps.append(rq.state.size)
        chunks.append(RawChunkPlan(flag_cols, payload_cols, caps, list(members)))
    return chunks


# QUANTILE members per shared pass: each member carries a value + flag
# column through Arrow and a SAMPLE_CAP-float accumulator per task
MAX_QUANTILE_MEMBERS_PER_JOB = 16


@dataclass(eq=False)
class QuantileChunkPlan:
    """One shared QUANTILE pass: per member i a filter flag ``f{i}`` and
    a filtered double value column ``q{i}``; the Python stage folds each
    member's values into its own KLL summary (``sketches.kll_fold``), one
    row per (partition, member) out, tree-merged executor-side past
    TREE_FANIN partitions."""

    pre_cols: list
    rqs: list[Any]


def _plan_quantile_chunks(qqueries) -> list[QuantileChunkPlan]:
    chunks: list[QuantileChunkPlan] = []
    for start in range(0, len(qqueries), MAX_QUANTILE_MEMBERS_PER_JOB):
        members = qqueries[start : start + MAX_QUANTILE_MEMBERS_PER_JOB]
        pre_cols = []
        for i, rq in enumerate(members):
            q = rq.query
            fcol = (
                F.coalesce(q.filter.to_column(), F.lit(False))
                if q.filter is not None
                else F.lit(True)
            )
            vcol, _ = _resolver(rq)(rq.state.agg.field)
            pre_cols.append(fcol.alias(f"f{i}"))
            pre_cols.append(F.when(fcol, vcol.cast("double")).alias(f"q{i}"))
        chunks.append(QuantileChunkPlan(pre_cols, list(members)))
    return chunks


def _quantile_chunk_df(
    batch_df: DataFrame, cp: QuantileChunkPlan
) -> DataFrame:
    """One job for every QUANTILE member: per-partition per-member KLL
    summaries, tree-merged executor-side, rows shaped
    ``member/__levels/__n/__nrec`` for state.merge. Returns the BOUND
    DataFrame (batch-independent closures), so FleetPlan's bound cache
    can reuse it across replays of one frame."""
    n = len(cp.rqs)
    fold = kll_fold(cp.rqs[0].state.SAMPLE_CAP)
    fanin = cp.rqs[0].state.TREE_FANIN
    schema = "member int, __levels array<array<double>>, __n long, __nrec long"

    def build(batches):
        import pandas as pd

        levels: list = [[[]] for _ in range(n)]
        compactions = [0] * n
        nv = [0] * n
        nr = [0] * n
        for pdf in batches:
            for i in range(n):
                nr[i] += int(pdf[f"f{i}"].sum())
                vals = pdf[f"q{i}"].dropna()
                nv[i] += len(vals)
                compactions[i] = fold(levels[i], [list(vals)], compactions[i])
        yield pd.DataFrame(
            {"member": list(range(n)), "__levels": levels, "__n": nv, "__nrec": nr}
        )

    def tree_merge(batches):
        import pandas as pd

        acc: dict = {}  # member -> [levels, compactions, n, nrec]
        for pdf in batches:
            for m, lv, nn, nrec in zip(
                pdf["member"], pdf["__levels"], pdf["__n"], pdf["__nrec"]
            ):
                a = acc.setdefault(int(m), [[[]], 0, 0, 0])
                a[1] = fold(a[0], lv, a[1])
                a[2] += int(nn)
                a[3] += int(nrec)
        members = sorted(acc)
        yield pd.DataFrame(
            {
                "member": members,
                "__levels": [acc[m][0] for m in members],
                "__n": [acc[m][2] for m in members],
                "__nrec": [acc[m][3] for m in members],
            }
        )

    out = batch_df.select(*cp.pre_cols).mapInPandas(build, schema)
    if batch_df.rdd.getNumPartitions() > fanin:
        out = out.coalesce(fanin).mapInPandas(tree_merge, schema)
    return out


def _collect_quantile_chunk(
    out_df: DataFrame, cp: QuantileChunkPlan
) -> list[list[dict]]:
    """Collect a (possibly cached) bound quantile pass into per-member
    partial-row lists."""
    result: list[list[dict]] = [[] for _ in range(len(cp.rqs))]
    for row in out_df.collect():
        result[row["member"]].append(
            {
                "__levels": row["__levels"],
                "__n": row["__n"],
                "__nrec": row["__nrec"],
            }
        )
    return result


# first-fold fan-in of the shared RAW pass: past this many scan
# partitions a coalesce(fanin) + re-cap level bounds the driver collect
# at O(fanin x sum of member limits) rows REGARDLESS of partition count
# (the sketches._fold_schedule / DistributionState.TREE_FANIN
# discipline) — without it a 100k-partition batch with 64 members could
# funnel partitions x sum(limits) rows to the driver
RAW_FOLD_FANIN = 32


def _raw_chunk_folded_df(batch_df: DataFrame, cp: RawChunkPlan) -> DataFrame:
    """The shared RAW pass as a bounded DataFrame: per-partition
    first-rows capping, then (past RAW_FOLD_FANIN partitions) one
    executor-side re-cap fold so at most RAW_FOLD_FANIN x sum(caps)
    rows ever reach the driver."""
    import pandas as pd

    n = len(cp.rqs)
    names = [f"m{i}" for i in range(n)]
    # flags first, any-member OR filter second, structs LAST: Catalyst
    # pushes the OR into the scan and the wide struct projection runs on
    # surviving rows only
    from functools import reduce

    batch_cols = list(batch_df.columns)
    wrap_key = tuple(batch_cols)
    if cp._wrapped_key != wrap_key:
        # batch-independent except for the batch column list (the
        # pass-through struct) — cache per schema, not per batch
        cp._wrapped_payloads = [
            F.when(
                F.col(f"__f{i}"),
                p
                if p is not None
                else F.struct(*[F.col(c) for c in batch_cols]),
            ).alias(f"m{i}")
            for i, p in enumerate(cp.payload_cols)
        ]
        cp._wrapped_key = wrap_key
    payload_cols = cp._wrapped_payloads
    if cp._alive_filter is None:
        # name-only expression tree — batch-independent, one build per plan
        cp._alive_filter = reduce(
            lambda a, b: a | b, [F.col(f"__f{i}") for i in range(n)]
        )
    flagged = batch_df.select(F.col("*"), *cp.flag_cols)
    alive = flagged.where(cp._alive_filter).select(*payload_cols)
    caps = list(cp.caps)
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema_key = tuple(
        (f.name, f.dataType.simpleString(), f.nullable)
        for f in batch_df.schema.fields
    )
    if cp._out_schema_key != schema_key:
        # alive.schema pays a full Catalyst analysis of the wide payload
        # projection; the result depends only on the batch schema + the
        # (cached) plan, so compute it once per schema
        cp._out_schema = StructType(
            [StructField("member", IntegerType(), False)]
            + list(alive.schema.fields)
        )
        cp._out_schema_key = schema_key
    out_schema = cp._out_schema

    def take_first(pdfs):
        remaining = list(caps)
        for pdf in pdfs:
            if not any(remaining):
                break
            frames = []
            for i, col in enumerate(names):
                if remaining[i] <= 0:
                    continue
                hits = pdf[col].dropna()
                if not len(hits):
                    continue
                take = hits.iloc[: remaining[i]]
                remaining[i] -= len(take)
                frame = pd.DataFrame(
                    {"member": [i] * len(take)}
                    | {c: [None] * len(take) for c in names}
                )
                frame[col] = take.to_list()
                frames.append(frame)
            if frames:
                yield pd.concat(frames, ignore_index=True)

    folded = alive.mapInPandas(take_first, out_schema)
    if batch_df.rdd.getNumPartitions() > RAW_FOLD_FANIN:
        def re_cap(pdfs):
            # each coalesced group re-caps every member at its FULL
            # limit (caps, not current room — keeps the plan
            # batch-independent); the driver trims to room afterwards
            remaining = list(caps)
            for pdf in pdfs:
                if not any(r > 0 for r in remaining):
                    break
                keep = []
                for pos, m in enumerate(pdf["member"].to_list()):
                    if remaining[m] > 0:
                        keep.append(pos)
                        remaining[m] -= 1
                if len(keep) == len(pdf):
                    yield pdf
                elif keep:
                    yield pdf.iloc[keep]

        folded = folded.coalesce(RAW_FOLD_FANIN).mapInPandas(
            re_cap, out_schema
        )
    return folded


def _collect_raw_chunk(folded: DataFrame, cp: RawChunkPlan) -> list[list[dict]]:
    """Collect a (possibly cached) bound RAW pass; per-member rows capped
    at each member's CURRENT remaining capacity (read at call time, like
    RawState.merge's room — the capacity is driver-side, so
    the bound frame stays batch/state-independent)."""
    n = len(cp.rqs)
    rows = folded.collect()
    result: list[list[dict]] = [[] for _ in range(n)]
    room = [
        max(rq.state.size - len(rq.state.records), 0) for rq in cp.rqs
    ]
    for row in rows:
        i = row["member"]
        if len(result[i]) < room[i]:
            payload = row[f"m{i}"]
            result[i].append(payload.asDict() if payload is not None else {})
    return result


@dataclass(eq=False)
class ChunkPlan:
    """One aggregation job's batch-INDEPENDENT plan pieces: aliased
    pre-select columns, grouping key names, agg expressions, members.
    Column objects are pure expression trees (names + literals, never
    bound to a DataFrame), so a ChunkPlan is reusable across micro-batches
    — building these is ~1.5 s of driver-side Py4J calls for a 100-query
    fleet, which dominated steady-state batch time when rebuilt per batch
    (measured r6: plan_jobs 1.5 s vs 1.1 s of actual job execution)."""

    pre_cols: list
    key_names: list[str]
    aggs: list
    members: list[_Member]

    @property
    def rqs(self) -> list[Any]:
        return [m.rq for m in self.members]


def split_fleet(queries) -> tuple[list, list]:
    """THE RAW-vs-rest fleet split — the one definition both FleetPlan's
    split plan caches and ``plan_chunks`` key off. Returns
    ``(raw_queries, other_queries)`` preserving order."""
    raw = [rq for rq in queries if isinstance(rq.state, RawState)]
    rest = [rq for rq in queries if not isinstance(rq.state, RawState)]
    return raw, rest


def plan_chunks(queries) -> list:
    """plan_jobs + MAX_MEMBERS_PER_JOB chunking + per-chunk column
    pruning, as cacheable batch-independent plans (ChunkPlan for the
    key-set jobs, QuantileChunkPlan for QUANTILE fleets, RawChunkPlan for
    RAW fleets)."""
    def _is_quantile(rq):
        return (
            isinstance(rq.state, DistributionState)
            and rq.state.agg.dist_type == DistributionType.QUANTILE
        )

    raw, rest = split_fleet(queries)
    quant = [rq for rq in rest if _is_quantile(rq)]
    agg = [rq for rq in rest if not _is_quantile(rq)]
    chunks: list = list(plan_raw_chunks(raw))
    chunks.extend(_plan_quantile_chunks(quant))
    for job in plan_jobs(agg):
        # COUNT DISTINCT's collect_set / hll_sketch_agg turn a whole chunk
        # into an ObjectHashAggregate, which has no whole-stage codegen:
        # packing those members last keeps the key-set's other chunks
        # (GROUP ALL, PMF/CDF) codegen'd at the same chunk count
        ordered = sorted(
            job.members, key=lambda m: isinstance(m.rq.state, CountDistinctState)
        )
        for start in range(0, len(ordered), MAX_MEMBERS_PER_JOB):
            members = ordered[start : start + MAX_MEMBERS_PER_JOB]
            needed_values = {
                name: col
                for name, col in job.value_cols.items()
                if any(name.startswith(m.prefix) for m in members)
            }
            pre_cols = [col.alias(name) for name, col in job.key_cols.items()]
            pre_cols += [col.alias(name) for name, col in needed_values.items()]
            aggs: list[Column] = []
            for m in members:
                aggs.extend(m.agg_cols)
            chunks.append(ChunkPlan(pre_cols, list(job.key_names), aggs, members))
    return chunks


def _bind(batch_df: DataFrame, cp) -> DataFrame:
    """Attach one chunk plan to a batch frame (Catalyst analysis runs
    here, so a member referencing a missing column fails here)."""
    if isinstance(cp, RawChunkPlan):
        return _raw_chunk_folded_df(batch_df, cp)
    if isinstance(cp, QuantileChunkPlan):
        return _quantile_chunk_df(batch_df, cp)
    pre = batch_df.select(*cp.pre_cols)
    if cp.key_names:
        return pre.groupBy(*[F.col(k) for k in cp.key_names]).agg(*cp.aggs)
    return pre.agg(*cp.aggs)


def _collect(out: DataFrame, cp) -> dict[str, list[dict[str, Any]]]:
    """Run one bound chunk: its members' partial rows by query id."""
    if isinstance(cp, RawChunkPlan):
        return dict(zip([rq.id for rq in cp.rqs], _collect_raw_chunk(out, cp)))
    if isinstance(cp, QuantileChunkPlan):
        return dict(
            zip([rq.id for rq in cp.rqs], _collect_quantile_chunk(out, cp))
        )
    result: dict[str, list[dict[str, Any]]] = {m.rq.id: [] for m in cp.members}
    for r in out.collect():
        row = r.asDict()
        for m in cp.members:
            if m.keyed and not row.get(f"{m.prefix}match"):
                continue
            result[m.rq.id].append(
                {out_name: row[in_name] for in_name, out_name in m.rename.items()}
            )
    return result


class FleetPlan:
    """The engine's one plan cache: the live fleet's chunk plans plus
    their bindings to the current batch frame.

    Chunk plans are batch-independent, so they are cached keyed on the
    exact member objects. RAW members cache SEPARATELY (``split_fleet``):
    they fill and COMPLETE by design, often a few per batch, and one
    whole-fleet key made every RAW completion re-plan the stable
    aggregation fleet (measured 2.3 s/batch vs 0.5 s split, r10). A RAW
    fleet that only SHRANK keeps its plan — finished members' rows are
    skipped at collect time (room = 0) and ignored by the engine's merge
    — and is rebuilt when a new member arrives or live members drop
    below half the plan (dead flag columns still evaluate JVM-side:
    bounded waste).

    The bindings (chunk plans attached to one batch frame) let a stable
    fleet replaying one frame (bench, tests, replay tooling) skip
    Catalyst re-planning (measured r12: 0.35 s fresh bind-and-collect vs
    0.10 s re-collect per 16-member chunk; the data is re-scanned either
    way). A fresh foreachBatch frame rebinds. Only the current plan's
    chunks stay bound, so bindings never pin retired members."""

    def __init__(self) -> None:
        self.clear()

    def clear(self) -> None:
        """Drop every cached plan and binding; the next batch replans."""
        self._agg_key: tuple | None = None
        self._agg_chunks: list = []
        self._raw_chunks: list[RawChunkPlan] = []
        self._frame: DataFrame | None = None
        self._bound: dict = {}

    def chunks(self, queries) -> list:
        """Chunk plans covering ``queries``, reused per the policy above."""
        raw, rest = split_fleet(queries)
        key = tuple(map(id, rest))
        if key != self._agg_key:
            self._agg_chunks = plan_chunks(rest)
            self._agg_key = key
        live = set(map(id, raw))
        planned = {id(rq) for cp in self._raw_chunks for rq in cp.rqs}
        if not live <= planned or len(live) * 2 < len(planned):
            self._raw_chunks = plan_raw_chunks(raw)
        return self._raw_chunks + self._agg_chunks

    def shared_partials(
        self, batch_df: DataFrame, queries, pool_width: int = 8, persist: bool = True
    ) -> tuple[dict[str, list[dict[str, Any]]], dict[str, str]]:
        """``(partials, failures)`` for ``queries`` over one batch: each
        query's partial rows, and the error of each query that failed on
        its own. Chunk jobs run concurrently — on low-partition batches
        one job can't use the cluster, so concurrency across jobs
        supplies the parallelism. With ``persist``, a plan of more than
        one chunk persists the batch (unless the caller already did) and
        always unpersists it afterwards."""
        try:
            chunks = self.chunks(queries)
            broken: list[list] = []
        except Exception:  # noqa: BLE001 - some member's plan is broken
            chunks, broken = [], [list(queries)]
        persisted = (
            persist and len(chunks) > 1 and not getattr(batch_df, "is_cached", False)
        )
        if persisted:
            batch_df.persist()
        try:
            partials = self._run_chunks(batch_df, chunks, broken, pool_width)
            failures: dict[str, str] = {}
            if broken:
                # re-run each member of a failed chunk as a fleet of one,
                # so only the members that fail alone are reported; the
                # next batch replans the live fleet from scratch
                self.clear()
                live = set(map(id, queries))
                for rq in (rq for rqs in broken for rq in rqs if id(rq) in live):
                    try:
                        for cp in plan_chunks([rq]):
                            partials.update(_collect(_bind(batch_df, cp), cp))
                    except Exception as e:  # noqa: BLE001
                        failures[rq.id] = str(e)[:500]
            return partials, failures
        finally:
            if persisted:
                batch_df.unpersist()

    def _run_chunks(self, batch_df, chunks, broken, pool_width) -> dict:
        """Bind (reusing this frame's bindings) and collect every chunk,
        both steps in one pool task per chunk, so one chunk's Catalyst
        analysis overlaps the others' jobs; a chunk that fails either
        step appends its members to ``broken``."""
        from concurrent.futures import ThreadPoolExecutor

        prev = self._bound if self._frame is batch_df else {}

        def run(cp):
            out = prev.get(cp)
            try:
                if out is None:
                    out = _bind(batch_df, cp)
                return cp, out, _collect(out, cp)
            except Exception:  # noqa: BLE001
                return cp, out, None

        if len(chunks) > 1:
            with ThreadPoolExecutor(max_workers=min(len(chunks), pool_width)) as pool:
                done = list(pool.map(run, chunks))
        else:
            done = [run(cp) for cp in chunks]
        self._frame = batch_df
        self._bound = {cp: out for cp, out, _ in done if out is not None}
        partials: dict[str, list[dict[str, Any]]] = {}
        for cp, _, rows in done:
            if rows is None:
                broken.append(cp.rqs)
            else:
                partials.update(rows)
        return partials
