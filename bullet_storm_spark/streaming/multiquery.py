"""Shared-scan multi-query evaluation — N live queries, few Spark jobs.

The engine's baseline multiplexing runs one job per live query per batch.
This planner batches every *shareable* query into one aggregation job per
DISTINCT GROUPING COLUMN SET:

  pre-select: per job -> each member query's boolean filter column f_i, its
              value columns, and the job's canonical key columns (queries
              grouping on the same expression share one column and one job)
  groupBy   : the key-set's columns (no GROUPING SETS — an Expand would
              duplicate every input row once per key-set, which benchmarks
              slower than per-set jobs over the cached batch)
  agg       : per member query, its partial aggregates made conditional on
              f_i (sum(when(f_i, x)), min(when(f_i, x)), ...), plus a match
              count; groups with zero matches for a query are artifacts of
              other members' rows and are dropped at split time

The key-set rule: a member's key-set is the plain grouping columns of its
query, whatever the family. GROUP BY and TOP K on the same field are one
job — TOP K renders its key as a string (``coalesce(cast(k as string),
'null')``) per output group inside ``agg()``, and ``TopKState.merge`` sums
rows that render alike, so NULL and a literal ``'null'`` merge exactly as on
the per-query path. GROUP ALL, COUNT DISTINCT and FREQ/CUMFREQ (PMF/CDF)
are keyless: PMF/CDF members carry a pre-selected bin index and aggregate
one conditional count per bin into an ``__bins`` array, as long as the
spec has at most MAX_SHARED_BINS bins. A longer point list (a REGION spec
can yield hundreds of points, and as many conditional sums in one aggregate
would blow codegen limits) keeps a keyed job on its own bin expression.

One caveat of the shared key: Spark normalizes -0.0 to 0.0 in grouping
keys, so a TOP K over a floating-point field reports -0.0 rows under
"0.0" on this path (the per-query path renders them apart).

With Q queries over K distinct key-sets this is K jobs instead of Q — e.g.
a fleet of GROUP ALL health queries is ONE keyless aggregate regardless of
fleet size. This is the reference's QueryManager one-record-many-queries
fan-out (SURVEY.md §4 row 1 / §7.3 known-hard #1) as Catalyst plans.

Shareable: GROUP ALL / GROUP BY, TOP K, COUNT DISTINCT, DISTRIBUTION
PMF/CDF — anything whose partial is a (possibly keyless) hash aggregation;
their per-member match count doubles as the record-consumption metric, so
they stay shareable under rate limits. RAW fleets (the reference's most common
query shape, ``T/JoinBoltTest.java:340-351`` makeRawQuery) share ONE
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
filtered values into its own mergeable KLL summary (identical
compression to the per-query partial, so the paths produce the same
summaries for the same partitioning).
Not shareable: record-window queries (emission timing is per-query) —
those run on the per-query path.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from bullet_storm_spark.operators.top_k import NULL_RENDERING
from bullet_storm_spark.plans.query import (
    DistributionType,
    GroupOpType,
    SlidingRecordWindow,
)
from bullet_storm_spark.streaming.state import (
    CountDistinctState,
    DistributionState,
    GroupState,
    RawState,
    TopKState,
)


def is_shareable(rq) -> bool:
    if isinstance(rq.query.window, SlidingRecordWindow):
        return False
    # RAW: shipped rows ARE the consumed records, and the shared pass ships
    # exactly the per-query path's rows (capped at the remaining capacity
    # at split time). QUANTILE members share one mapInPandas pass building
    # each member's mergeable KLL summary. Every other family carries a
    # per-member match count, so accounting is identical under a rate
    # limit too.
    return isinstance(
        rq.state,
        (
            GroupState,
            TopKState,
            RawState,
            DistributionState,
            CountDistinctState,
        ),
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
        key_cols: dict[str, Column] = {}
        key_fields: list[tuple[str, str]] = []  # (key column, field alias)

        if isinstance(state, (GroupState, TopKState)):
            for fname in state.agg.fields:
                col, tag = resolve(fname)
                name = _canon(f"plain:{tag}")
                key_cols[name] = col
                key_fields.append((name, state.agg.alias_of(fname)))
        elif (
            isinstance(state, DistributionState)
            and len(state.points) + 1 > MAX_SHARED_BINS
        ):
            col, tag = resolve(state.agg.field)
            name = _canon(f"bin:{tag}:{','.join(map(repr, state.points))}")
            key_cols[name] = _bin_index(col, state.points)
            key_fields.append((name, "__bin"))
        # else keyless: COUNT DISTINCT, short-spec PMF/CDF (GROUP ALL has
        # no fields)

        job_key = tuple(sorted(key_cols))
        job = jobs.setdefault(job_key, _Job(key_names=sorted(key_cols)))
        job.key_cols.update(key_cols)
        member = _Member(rq=rq, prefix=f"q{i}__", keyed=bool(key_cols))
        _add_agg_cols(member, state, rq, resolve, job, key_fields)
        job.members.append(member)
    return list(jobs.values())


def _bin_index(col: Column, points) -> Column:
    """The PMF/CDF bin of a value: how many split points it reaches (NULL
    for a NULL value) — the same expression as DistributionState.partial."""
    v = col.cast("double")
    bin_idx = F.lit(0)
    for pt in points:
        bin_idx = bin_idx + (v >= F.lit(pt)).cast("int")
    return bin_idx


def _add_agg_cols(
    member: _Member, state, rq, resolve, job: _Job, key_fields
) -> None:
    p = member.prefix
    q = rq.query
    fcol = q.filter.to_column() if q.filter is not None else F.lit(True)
    fname = f"{p}f"
    job.value_cols[fname] = fcol
    f_ref = F.col(fname)
    # counts use count_if, not sum(when(...)): one Py4J call each (plan
    # building is Py4J-bound), and a NULL condition counts as false

    def add(col: Column, name: str, partial_name: str) -> None:
        member.agg_cols.append(col.alias(f"{p}{name}"))
        member.rename[f"{p}{name}"] = partial_name

    if isinstance(state, TopKState):
        # per-group string rendering of the shared plain key: the TOP K
        # partial's key shape, computed once per output group
        for j, (kname, alias) in enumerate(key_fields):
            add(
                F.coalesce(F.col(kname).cast("string"), F.lit(NULL_RENDERING)),
                f"r{j}",
                alias,
            )
        # the per-group count IS the match count the split checks
        add(F.count_if(f_ref), "match", "__c")
        return

    for kname, alias in key_fields:
        member.rename[kname] = alias

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
            # raw key values, nulls excluded — exactly the per-query
            # distinct partial's contents, so the driver-side set union
            # is path-independent
            add(F.collect_set(F.col(vname)), "ks", "__ks")
        else:
            add(F.hll_sketch_agg(F.col(vname)), "sk", "__sketch")

    elif isinstance(state, GroupState):
        for j, op in enumerate(state.agg.operations):
            t = op.op
            if t == GroupOpType.COUNT:
                add(F.count_if(f_ref), f"c{j}", f"__c{j}")
                continue
            vcol, _ = resolve(op.field)
            vname = f"{p}v{j}"
            if t == GroupOpType.COUNT_FIELD:
                job.value_cols[vname] = vcol
                has_v = f_ref & F.col(vname).isNotNull()
                add(F.count_if(has_v), f"c{j}", f"__c{j}")
            elif t in (GroupOpType.SUM, GroupOpType.AVG):
                job.value_cols[vname] = vcol.cast("double")
                has_v = f_ref & F.col(vname).isNotNull()
                add(F.sum(F.when(f_ref, F.col(vname))), f"s{j}", f"__s{j}")
                add(F.count_if(has_v), f"n{j}", f"__n{j}")
            elif t in (GroupOpType.MIN, GroupOpType.MAX):
                job.value_cols[vname] = vcol
                fn = F.min if t == GroupOpType.MIN else F.max
                add(fn(F.when(f_ref, F.col(vname))), f"m{j}", f"__m{j}")

    else:  # DistributionState PMF/CDF: null values never count in bins,
        # but they DO count as consumed records (match uses the raw filter)
        vcol, _ = resolve(state.agg.field)
        if member.keyed:
            effname = f"{p}fv"
            job.value_cols[effname] = f_ref & vcol.cast("double").isNotNull()
            add(F.count_if(F.col(effname)), "c", "__c")
        else:
            bname = f"{p}b"
            job.value_cols[bname] = F.when(
                f_ref & vcol.cast("double").isNotNull(),
                _bin_index(vcol, state.points),
            )
            add(
                F.array(
                    *[
                        F.count_if(F.col(bname) == b)
                        for b in range(len(state.points) + 1)
                    ]
                ),
                "bins",
                "__bins",
            )

    # the match count doubles as the consumed-records metric
    add(F.count_if(f_ref), "match", "__nrec")


# max queries folded into one aggregation plan: beyond this, analysis +
# codegen cost of the giant expression list dominates (measured: 93 GROUP
# ALLs in one plan ran slower than 93 small jobs)
MAX_MEMBERS_PER_JOB = 16

# most PMF/CDF bins (split points + 1) a member folds into the keyless job,
# one conditional count each; a longer spec keeps a keyed job on its bin
# index, since hundreds of conditional sums in one aggregate would blow
# the codegen limits
MAX_SHARED_BINS = 16

# RAW members per shared pass: the pre-select is one struct + no agg
# expressions per member (far cheaper to analyze than an agg chunk), so
# the cap is looser; it bounds the Arrow row width of the Python stage
MAX_RAW_MEMBERS_PER_JOB = 64


@dataclass
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


def _plan_raw_chunks(raw_queries) -> list[RawChunkPlan]:
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


@dataclass
class QuantileChunkPlan:
    """One shared QUANTILE pass: per member i a filter flag ``f{i}`` and
    a filtered double value column ``q{i}``; the Python stage folds each
    member's values into its own KLL accumulator (the same deterministic
    compression as DistributionState.partial), one row per (partition,
    member) out, tree-merged executor-side past TREE_FANIN partitions."""

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
    summaries (self-contained closures — the same deterministic
    alternate-keep compression as DistributionState.partial, so shared
    and per-query paths produce IDENTICAL summaries for the same
    partitioning), tree-merged executor-side, rows shaped exactly like
    the per-query partial (__levels/__n/__nrec) for state.merge.
    Returns the BOUND DataFrame (batch-independent closures), so the
    engine's bound cache can reuse it across replays of one frame."""
    n = len(cp.rqs)
    cap = cp.rqs[0].state.SAMPLE_CAP
    fanin = cp.rqs[0].state.TREE_FANIN
    schema = "member int, __levels array<array<double>>, __n long, __nrec long"

    def make_acc():
        levels: list[list[float]] = [[]]
        counter = [0]

        def fold(in_levels):
            for i, lvl in enumerate(in_levels):
                while len(levels) <= i:
                    levels.append([])
                levels[i].extend(float(x) for x in lvl)
            i = 0
            while i < len(levels):
                if len(levels[i]) > cap:
                    lvl = sorted(levels[i])
                    off = counter[0] & 1
                    counter[0] += 1
                    held = []
                    if len(lvl) & 1:
                        held = [lvl.pop()] if off else [lvl.pop(0)]
                    if len(levels) <= i + 1:
                        levels.append([])
                    levels[i + 1].extend(lvl[off::2])
                    levels[i] = held
                i += 1

        return levels, fold

    def build(batches):
        import pandas as pd

        accs = [make_acc() for _ in range(n)]
        nv = [0] * n
        nr = [0] * n
        for pdf in batches:
            for i in range(n):
                nr[i] += int(pdf[f"f{i}"].sum())
                vals = pdf[f"q{i}"].dropna()
                nv[i] += len(vals)
                accs[i][1]([list(vals)])
        yield pd.DataFrame(
            {
                "member": list(range(n)),
                "__levels": [accs[i][0] for i in range(n)],
                "__n": nv,
                "__nrec": nr,
            }
        )

    def tree_merge(batches):
        import pandas as pd

        accs = {}
        nv: dict = {}
        nr: dict = {}
        for pdf in batches:
            for m, lv, nn, nrec in zip(
                pdf["member"], pdf["__levels"], pdf["__n"], pdf["__nrec"]
            ):
                m = int(m)
                if m not in accs:
                    accs[m] = make_acc()
                    nv[m] = 0
                    nr[m] = 0
                accs[m][1](lv)
                nv[m] += int(nn)
                nr[m] += int(nrec)
        members = sorted(accs)
        yield pd.DataFrame(
            {
                "member": members,
                "__levels": [accs[m][0] for m in members],
                "__n": [nv[m] for m in members],
                "__nrec": [nr[m] for m in members],
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


def _run_quantile_chunk(
    batch_df: DataFrame, cp: QuantileChunkPlan
) -> list[list[dict]]:
    """Bind + collect in one call (the uncached path)."""
    return _collect_quantile_chunk(_quantile_chunk_df(batch_df, cp), cp)


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
    RawState.partial's per-batch limit — the capacity is driver-side, so
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


def _run_raw_chunk(batch_df: DataFrame, cp: RawChunkPlan) -> list[list[dict]]:
    """Execute one shared RAW pass (bind + collect in one call — the
    uncached path)."""
    return _collect_raw_chunk(_raw_chunk_folded_df(batch_df, cp), cp)


@dataclass
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


def split_fleet(queries) -> tuple[list, list]:
    """THE RAW-vs-rest fleet split — the one definition both the
    engine's split plan caches and ``plan_chunks`` key off (RAW members
    cache separately because they fill and COMPLETE per batch; one
    whole-fleet cache key made every RAW completion re-plan the stable
    aggregation fleet — measured 2.3 s/batch vs 0.5 s split, r10).
    Returns ``(raw_queries, other_queries)`` preserving order."""
    raw = [rq for rq in queries if isinstance(rq.state, RawState)]
    rest = [rq for rq in queries if not isinstance(rq.state, RawState)]
    return raw, rest


def plan_raw_chunks(raw_queries) -> list[RawChunkPlan]:
    """Public name for the RAW fleet planner (the engine's split RAW
    plan cache calls this directly on ``split_fleet``'s first half)."""
    return _plan_raw_chunks(raw_queries)


def plan_chunks(queries) -> list:
    """plan_jobs + MAX_MEMBERS_PER_JOB chunking + per-chunk column
    pruning, as cacheable batch-independent plans (ChunkPlan for the
    aggregation families, RawChunkPlan for RAW fleets). The engine caches
    the result keyed on the fleet identity and rebuilds only when a query
    is added or finishes."""
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
        for start in range(0, len(job.members), MAX_MEMBERS_PER_JOB):
            members = job.members[start : start + MAX_MEMBERS_PER_JOB]
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


def shared_partials(
    batch_df: DataFrame, queries, pool_width: int = 8, chunks=None,
    bound_cache: dict | None = None,
) -> dict[str, list[dict[str, Any]]]:
    """Compute every query's partial rows in one job per distinct key-set
    (chunked to MAX_MEMBERS_PER_JOB queries per plan). Chunk jobs execute
    concurrently — on low-partition batches a single job can't use the
    cluster, so concurrency across jobs supplies the parallelism, exactly
    like the per-query path. Pass ``chunks`` (from ``plan_chunks``, cached
    across batches for a stable fleet) to skip plan construction.

    ``bound_cache`` (engine-owned dict) additionally caches the BOUND
    DataFrames — chunk Column trees attached to a concrete batch frame —
    keyed on (chunks identity, batch frame identity). Re-collecting a
    previously bound DataFrame skips Catalyst re-planning of an identical
    plan (measured r12: 0.35 s fresh-bind-and-collect vs 0.10 s re-collect
    per 16-member chunk — the data is still fully re-scanned and
    re-aggregated on every call, only the PLAN is reused). A stable fleet
    replaying a pinned frame (the bench, tests, replay tooling) hits it
    every batch; a fresh foreachBatch frame changes the key and rebinds,
    so streaming pays exactly the old cost. The cache holds one batch's
    bindings (plus a strong ref to the keyed frame so id() stays valid)."""
    from concurrent.futures import ThreadPoolExecutor

    result: dict[str, list[dict[str, Any]]] = {rq.id: [] for rq in queries}
    if chunks is None:
        chunks = plan_chunks(queries)
    # PER-CHUNK bound entries keyed on the chunk object: RAW members fill
    # and COMPLETE by design, so the raw plan churns while the agg fleet
    # is stable — a whole-fleet key would re-bind all ~30 chunks on every
    # RAW completion (the r10 split-cache lesson, applied to bindings).
    # One batch frame's bindings are held at a time; a new frame clears
    # the map (strong refs below keep the id()-keyed objects alive, so a
    # recycled id can never false-hit).
    by_chunk = None
    if bound_cache is not None:
        if bound_cache.get("batch") != id(batch_df):
            bound_cache.clear()
            bound_cache.update(
                batch=id(batch_df), batch_ref=batch_df, by_chunk={}
            )
        by_chunk = bound_cache["by_chunk"]
    bound = []
    for cp in chunks:
        if by_chunk is not None:
            hit = by_chunk.get(id(cp))
            if hit is not None and hit[0] is cp:
                # identity re-check: the stored strong ref rules out a
                # recycled id from a GC'd plan object
                bound.append(hit[1])
                continue
        if isinstance(cp, RawChunkPlan):
            entry = ("raw", _raw_chunk_folded_df(batch_df, cp), cp)
        elif isinstance(cp, QuantileChunkPlan):
            entry = ("quant", _quantile_chunk_df(batch_df, cp), cp)
        else:
            pre = batch_df.select(*cp.pre_cols)
            if cp.key_names:
                out = pre.groupBy(
                    *[F.col(k) for k in cp.key_names]
                ).agg(*cp.aggs)
            else:
                out = pre.agg(*cp.aggs)
            entry = ("agg", out, cp.members)
        bound.append(entry)
        if by_chunk is not None:
            by_chunk[id(cp)] = (cp, entry)

    def run(chunk):
        tag, out, members = chunk
        if tag == "raw":
            return _collect_raw_chunk(out, members), members
        if tag == "quant":
            return _collect_quantile_chunk(out, members), members
        return [r.asDict() for r in out.collect()], members

    if len(bound) > 1:
        with ThreadPoolExecutor(max_workers=min(len(bound), pool_width)) as pool:
            computed = list(pool.map(run, bound))
    else:
        computed = [run(bound[0])] if bound else []
    for rows, members in computed:
        if isinstance(members, (RawChunkPlan, QuantileChunkPlan)):
            for rq, member_rows in zip(members.rqs, rows):
                result[rq.id] = member_rows
            continue
        for row in rows:
            for m in members:
                if m.keyed and not row.get(f"{m.prefix}match"):
                    continue
                result[m.rq.id].append(
                    {out_name: row[in_name] for in_name, out_name in m.rename.items()}
                )
    return result
