"""Shared-scan multi-query evaluation: every query, alone or in a fleet, is
planned and computed by the shared-scan planner. Two independent checks pin
it: a query run alone in its own engine gives the same result as in a fleet
(fleet isolation), and the batch path (``compile_query`` over the union of
the batches, the path the DuckDB oracle gates) agrees with the engine."""

import pytest

from bullet_storm_spark import (
    compile_query,
    CountDistinct,
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
from bullet_storm_spark.streaming import QueryRegistry
from engine_helpers import alone_results, frozen_engine, live_results, run_fleet


def _mixed_queries():
    return {
        "grp_all": Query(
            filter=gt("v", 10.0),
            aggregation=GroupAll(
                GroupOperation(GroupOpType.COUNT, None, "cnt"),
                GroupOperation(GroupOpType.SUM, "v", "s"),
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
        # TOP K on s shares the GROUP BY s job; s holds real NULLs AND the
        # literal string "null", which both render as "null"
        "grp_s": Query(
            aggregation=GroupBy(
                fields={"s": ""},
                operations=[GroupOperation(GroupOpType.COUNT, None, "cnt")],
            ),
            duration_ms=600_000,
        ),
        "topk_s": Query(
            aggregation=TopK(size=2, name="cnt", fields={"s": ""}),
            duration_ms=600_000,
        ),
        "topk_s_sketch": Query(
            filter=gt("n", 5),
            aggregation=TopK(
                size=2, name="cnt", fields={"s": ""}, sketch_capacity=8
            ),
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
        # longer than MAX_SHARED_BINS: keeps its own keyed bin job
        "pmf_region": Query(
            filter=gt("n", 3),
            aggregation=Distribution(
                field="v",
                dist_type=DistributionType.PMF,
                points=[2.0 * i for i in range(40)],
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


BATCH_SCHEMA = "k string, s string, v double, n int"


def _batch_rows():
    # v is NULL on every 9th row of batch 0 (PMF/CDF bin nothing but still
    # consume the record); batch 1 mixes the literal "null" into s
    rows1 = [
        (
            f"{'ab'[i % 2]}",
            ["x", "y", None][i % 3],
            None if i % 9 == 4 else float(i),
            i,
        )
        for i in range(80)
    ]
    rows2 = [("c", ["x", "null"][i % 2], float(i) + 0.5, i) for i in range(40)]
    return rows1, rows2


@pytest.fixture()
def batches(spark):
    return tuple(spark.createDataFrame(rows, BATCH_SCHEMA) for rows in _batch_rows())


@pytest.fixture()
def parquet_batches(spark, tmp_path):
    """The ``batches`` rows as parquet directories of 3 files each: a
    parquet frame's size estimate is its bytes on disk, which the
    "batch_shuffle" gate can read (an in-memory frame's is unknown, so it
    is always big), and 3 files scan as 3 partitions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("k", pa.string()), ("s", pa.string()), ("v", pa.float64()), ("n", pa.int32())]
    )
    frames = []
    for b, rows in enumerate(_batch_rows()):
        path = tmp_path / f"batch{b}"
        path.mkdir()
        for part in range(3):
            table = pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows[part::3]], schema
            )
            pq.write_table(table, path / f"part-{part}.parquet")
        frame = spark.read.schema(BATCH_SCHEMA).parquet(str(path))
        assert frame.rdd.getNumPartitions() == 3
        frames.append(frame)
    return tuple(frames)


def _outcomes(engine):
    return {qid: _outcome(rq) for qid, rq in engine.registry.queries.items()}


def _outcome(rq):
    return sorted(map(str, rq.state.result())), rq.records_consumed


def _alone_outcomes(spark, queries, batches):
    """Each query's outcome from an engine that ran it alone."""
    return {
        qid: _outcomes(run_fleet(spark, {qid: q}, batches))[qid]
        for qid, q in queries.items()
    }


def _norm(rows):
    # numbers as rounded floats: the engine sums in double, the batch path
    # in the column's type
    def num(v):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return round(float(v), 6)
        return v

    return sorted(str({k: num(v) for k, v in r.items()}) for r in rows)


def _batch_reference(query, batches):
    """The batch path's result over the union of the batches."""
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    return _norm(r.asDict() for r in compile_query(query)(union).collect())


def _has_batch_reference(query):
    # exact families only: sketches and KLL summaries estimate, and RAW
    # rows depend on scan order
    agg = query.aggregation
    if isinstance(agg, Raw):
        return False
    if isinstance(agg, TopK):
        return agg.sketch_capacity is None
    if isinstance(agg, CountDistinct):
        return agg.exact
    if isinstance(agg, Distribution):
        return agg.dist_type != DistributionType.QUANTILE
    return True


def test_shared_scan_equals_per_query(spark, batches):
    # every query in the fleet reports what it reports alone, results AND
    # records_consumed, and the exact families match the batch path
    queries = _mixed_queries()
    engine = run_fleet(spark, queries, batches)
    assert engine.shared_scan_queries == 2 * len(queries)
    fleet = _outcomes(engine)
    assert fleet == _alone_outcomes(spark, queries, batches)
    live = live_results(engine)
    checked = [qid for qid, q in queries.items() if _has_batch_reference(q)]
    assert len(checked) == 10
    for qid in checked:
        assert _norm(live[qid]) == _batch_reference(queries[qid], batches), qid


def test_lone_query_is_a_fleet_of_one(spark, batches):
    # a lone query runs on the shared-scan path and its plan is cached
    # like a fleet's
    q = _mixed_queries()["grp_by"]
    engine = frozen_engine(spark)
    engine.submit("only", q)
    engine.process_batch(batches[0])
    assert engine.shared_scan_queries == 1
    key = engine._chunk_cache_key
    assert key is not None and len(engine._chunk_cache) == 1
    engine.process_batch(batches[1])
    assert engine.shared_scan_queries == 2
    assert engine._chunk_cache_key == key
    result = engine.registry.queries["only"].state.result()
    assert _norm(result) == _batch_reference(q, batches)


def test_shared_plan_cache_invalidates_on_fleet_change(spark, batches):
    # the ChunkPlan cache must rebuild when a member leaves the fleet
    # (killed query) and keep producing what each query reports alone
    engine = frozen_engine(spark)
    for qid, q in _mixed_queries().items():
        engine.submit(qid, q)
    engine.process_batch(batches[0])
    key1 = engine._chunk_cache_key
    assert key1 is not None and engine._chunk_cache
    engine.process_batch(batches[0])
    assert engine._chunk_cache_key == key1  # stable fleet -> cache reused
    engine.kill("grp_all")
    engine.process_batch(batches[1])
    key2 = engine._chunk_cache_key
    assert key2 is not None and key2 != key1
    # survivors still aggregate all three batches as each does alone
    survivors = {k: v for k, v in _mixed_queries().items() if k != "grp_all"}
    base = _alone_outcomes(
        spark, survivors, [batches[0], batches[0], batches[1]]
    )
    assert _outcomes(engine) == base


def _raw_plan_ids(engine) -> list:
    return [[rq.id for rq in cp.rqs] for cp in engine._raw_chunk_cache]


def test_shared_plan_cache_released_when_fleet_shrinks(spark, batches):
    # the cached plans hold their members' state: a fleet that shrinks to
    # one RAW query must re-plan without the retired members, the RAW
    # survivor runs its own limit job, and an engine with no query left
    # must drop the plans
    engine = frozen_engine(spark)
    for qid, q in _mixed_queries().items():
        engine.submit(qid, q)
    engine.process_batch(batches[0])
    assert engine._chunk_cache
    assert _raw_plan_ids(engine) == [["raw"]]
    for qid in list(engine.registry.queries):
        if qid != "raw":
            engine.kill(qid)
    engine.process_batch(batches[1])
    assert engine._chunk_cache == [] and engine._chunk_cache_key == ()
    assert _raw_plan_ids(engine) == [["raw"]]
    assert engine.stats()["batch_jobs"] == 1
    engine.kill("raw")
    engine.process_batch(batches[1])
    assert engine._chunk_cache is None and engine._raw_chunk_cache is None


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
    # A RAW fleet on the shared pass (above RAW_LIMIT_JOBS_MAX members)
    # must keep the per-query contracts: each query collects EXACTLY its
    # limit of rows matching ITS filter (projected per ITS projection) and
    # early-COMPLETEs when full.
    from bullet_storm_spark.streaming.multiquery import RAW_LIMIT_JOBS_MAX

    n = RAW_LIMIT_JOBS_MAX + 2
    engine = frozen_engine(spark)
    for qid, q in _raw_fleet(n).items():
        engine.submit(qid, q)
    emitted = {}
    engine.on_result(lambda qid, clip: emitted.setdefault(qid, clip))
    engine.process_batch(batches[0])
    assert engine.shared_scan_queries == n
    assert engine.stats()["batch_jobs"] == 1  # one shared pass
    for i in range(n):
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


def _assert_raw_counts(results, n):
    # _raw_fleet(n, size=90, off=20) over both batches: member j matches
    # 59-j rows of batch 0 and 19-j of batch 1, never filling at 90
    for j in range(n):
        rows = results[f"raw{j}"]
        assert len(rows) == 78 - 2 * j, j
        key = "num" if j % 2 else "n"
        assert all(r[key] > 20 + j for r in rows), j


def test_shared_raw_fleet_equals_per_query_counts(spark, batches):
    # remaining-capacity decay across batches on the shared pass: a fleet
    # too selective to fill on batch 0 keeps accumulating on batch 1, so
    # the fleet stays live and shares BOTH batches. A lone RAW query is a
    # limit job, not the shared pass: both must ship every match (content
    # is order-dependent for RAW; counts and the filter are the contract)
    from bullet_storm_spark.streaming.multiquery import RAW_LIMIT_JOBS_MAX

    n = RAW_LIMIT_JOBS_MAX + 2
    queries = _raw_fleet(n, size=90, off=20)
    engine = run_fleet(spark, queries, batches)
    assert engine.shared_scan_queries == 2 * n
    assert engine.stats()["batch_jobs"] == 1  # one shared pass
    got = live_results(engine)
    assert got.keys() == queries.keys()
    _assert_raw_counts(got, n)
    _assert_raw_counts(alone_results(spark, queries, batches), n)


@pytest.mark.parametrize("extra", [0, 1])
def test_raw_crossover_boundary_gives_the_same_rows(spark, batches, extra):
    # at RAW_LIMIT_JOBS_MAX members the fleet runs one limit job per
    # member, one more member and it runs one shared pass; both ship every
    # member's matches across both batches
    from bullet_storm_spark.streaming.multiquery import RAW_LIMIT_JOBS_MAX

    n = RAW_LIMIT_JOBS_MAX + extra
    engine = run_fleet(spark, _raw_fleet(n, size=90, off=20), batches)
    assert engine.stats()["batch_jobs"] == (1 if extra else n)
    assert [len(cp.rqs) for cp in engine._raw_chunk_cache] == (
        [n] if extra else [1] * n
    )
    # only the pass runs a Python stage
    from bullet_storm_spark.streaming.multiquery import _raw_chunk_folded_df

    plans = [
        _raw_chunk_folded_df(batches[1], cp)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
        for cp in engine._raw_chunk_cache
    ]
    assert len(plans) == engine.stats()["batch_jobs"]
    assert all(("MapInPandas" in p) == bool(extra) for p in plans)
    _assert_raw_counts(live_results(engine), n)


def test_finished_raw_member_runs_no_job(spark, batches):
    # a 2-member RAW fleet whose first member fills and COMPLETEs on batch
    # 0: on batch 1 only the survivor's limit job runs
    engine = frozen_engine(spark)
    engine.submit("full", Query(aggregation=Raw(size=5), duration_ms=600_000))
    engine.submit(
        "open",
        Query(filter=gt("n", 20), aggregation=Raw(size=90), duration_ms=600_000),
    )
    engine.process_batch(batches[0])
    assert engine.stats()["batch_jobs"] == 2
    assert "full" not in engine.registry.queries
    engine.process_batch(batches[1])
    assert engine.stats()["batch_jobs"] == 1
    assert _raw_plan_ids(engine) == [["open"]]
    assert len(live_results(engine)["open"]) == 59 + 19


def test_shrinking_raw_pass_keeps_its_plan(spark, batches):
    # above RAW_LIMIT_JOBS_MAX the "fleet only shrank" rule still holds: a
    # member that fills and COMPLETEs leaves the cached pass in place
    from bullet_storm_spark.streaming.multiquery import RAW_LIMIT_JOBS_MAX

    n = RAW_LIMIT_JOBS_MAX + 2
    engine = frozen_engine(spark)
    engine.submit("full", Query(aggregation=Raw(size=5), duration_ms=600_000))
    for qid, q in _raw_fleet(n - 1, size=90, off=20).items():
        engine.submit(qid, q)
    engine.process_batch(batches[0])
    (cached,) = engine._raw_chunk_cache
    assert "full" not in engine.registry.queries
    engine.process_batch(batches[1])
    (raw_after,) = engine._raw_chunk_cache
    assert raw_after is cached
    assert engine.stats()["batch_jobs"] == 1
    _assert_raw_counts(live_results(engine), n - 1)


def test_raw_pass_shrinking_to_the_crossover_runs_limit_jobs(spark, batches):
    # a pass fleet of RAW_LIMIT_JOBS_MAX + 1 members, one of which fills
    # and COMPLETEs on batch 0: on batch 1 the survivors re-plan as one
    # limit job each
    from bullet_storm_spark.streaming.multiquery import RAW_LIMIT_JOBS_MAX

    engine = frozen_engine(spark)
    engine.submit("full", Query(aggregation=Raw(size=5), duration_ms=600_000))
    for qid, q in _raw_fleet(RAW_LIMIT_JOBS_MAX, size=90, off=20).items():
        engine.submit(qid, q)
    engine.process_batch(batches[0])
    assert engine.stats()["batch_jobs"] == 1
    assert "full" not in engine.registry.queries
    engine.process_batch(batches[1])
    assert engine.stats()["batch_jobs"] == RAW_LIMIT_JOBS_MAX
    assert _raw_plan_ids(engine) == [[f"raw{j}"] for j in range(RAW_LIMIT_JOBS_MAX)]
    _assert_raw_counts(live_results(engine), RAW_LIMIT_JOBS_MAX)


def test_raw_fleet_is_one_chunk_plan():
    # N > RAW_LIMIT_JOBS_MAX RAW members plan into
    # ceil(N / MAX_RAW_MEMBERS_PER_JOB) shared passes — 50 queries, ONE
    # job per batch (VERDICT r9 item 3); a smaller fleet plans one
    # limit job per member
    from bullet_storm_spark.streaming.multiquery import (
        MAX_RAW_MEMBERS_PER_JOB,
        RAW_LIMIT_JOBS_MAX,
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
    small = [_RQ(q) for q in _raw_fleet(RAW_LIMIT_JOBS_MAX).values()]
    chunks = plan_chunks(small)
    assert [cp.rqs for cp in chunks] == [[rq] for rq in small]
    assert not any(cp.flag_cols for cp in chunks)  # no pass columns


def test_shared_quantile_fleet_equals_per_query(spark, batches):
    # QUANTILE fleet on the shared KLL pass: small input (< SAMPLE_CAP)
    # is EXACT, so each query reports alone what it reports in the fleet,
    # and both are the interpolated quantiles of its matching values; the
    # fleet plans into one QuantileChunkPlan and runs one job per batch.
    from bullet_storm_spark.streaming.multiquery import (
        QuantileChunkPlan,
        plan_chunks,
    )
    from bullet_storm_spark.streaming.state import make_state

    def fleet():
        return {
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

    engine = run_fleet(spark, fleet(), batches)
    assert engine.shared_scan_queries == 10
    got = live_results(engine)
    assert got == alone_results(spark, fleet(), batches)
    rows = [r for b in batches for r in b.collect()]
    for i in range(5):
        vals = sorted(
            r["v"]
            for r in rows
            if (i == 0 or r["n"] > 10 * i) and r["v"] is not None
        )
        expected = []
        for p in (0.1, 0.5, 0.9):
            t = p * (len(vals) - 1)
            lo, hi = int(t), min(int(t) + 1, len(vals) - 1)
            expected.append(vals[lo] * (1 - (t - lo)) + vals[hi] * (t - lo))
        values = [r["value"] for r in got[f"qt{i}"]]
        assert values == pytest.approx(expected), i

    class _RQ:
        def __init__(self, q):
            self.query = q
            self.state = make_state(q)
            self.id = id(self)

    chunks = plan_chunks([_RQ(q) for q in fleet().values()])
    assert len(chunks) == 1 and isinstance(chunks[0], QuantileChunkPlan)


@pytest.mark.parametrize("seed", range(4))
def test_shared_scan_random_fleet_equivalence(spark, seed):
    # seeded random mixed fleets (every family incl. RAW + QUANTILE,
    # random filters/projections/limits/points): each query must report
    # in the fleet exactly what it reports alone across two batches, and
    # the exact families must match the batch path — the property version
    # of the fixed-fleet tests above. RAW content is order-dependent by
    # contract, so RAW compares counts; everything else compares exactly.
    import random as _random

    from bullet_storm_spark.plans.expressions import lt

    rng = _random.Random(4100 + seed)
    rows1 = [
        (
            f"{'abc'[i % 3]}",
            ["x", "y", None, "null"][i % 4],
            None if i % 13 == 5 else float(i % 97),
            i,
        )
        for i in range(120)
    ]
    rows2 = [
        ("d", ["x", "null"][i % 2], float(i % 53) + 0.5, i + 120)
        for i in range(60)
    ]
    schema = "k string, s string, v double, n int"
    batches = (
        spark.createDataFrame(rows1, schema).repartition(5),
        spark.createDataFrame(rows2, schema).repartition(3),
    )

    def rand_filter():
        return rng.choice(
            [None, gt("v", float(rng.randint(0, 90))),
             lt("n", rng.randint(10, 170)), eq("k", rng.choice("abcd"))]
        )

    def rand_query(i):
        fam = rng.randrange(7)
        f = rand_filter()
        if fam == 0:
            agg = GroupAll(
                GroupOperation(GroupOpType.COUNT, None, "cnt"),
                GroupOperation(GroupOpType.SUM, "v", "s"),
            )
        elif fam == 1:
            agg = GroupBy(
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
        elif fam == 2:
            agg = TopK(
                size=rng.randint(1, 4),
                name="cnt",
                fields={rng.choice("ks"): ""},
                sketch_capacity=rng.choice([None, 8]),
            )
        elif fam == 3:
            agg = Distribution(
                field="v",
                dist_type=rng.choice(
                    [DistributionType.PMF, DistributionType.CDF]
                ),
                points=sorted(
                    rng.sample([5.0, 20.0, 40.0, 60.0, 80.0], k=rng.randint(1, 3))
                ),
            )
        elif fam == 4:
            agg = Distribution(
                field="v",
                dist_type=DistributionType.QUANTILE,
                points=sorted(
                    rng.sample([0.1, 0.25, 0.5, 0.75, 0.9], k=rng.randint(1, 3))
                ),
            )
        elif fam == 5:
            agg = CountDistinct(fields=["s"], name="u", exact=True)
        else:
            agg = Raw(size=rng.randint(3, 400))
        return Query(filter=f, aggregation=agg, duration_ms=600_000)

    fleet = {f"rf{seed}-{i}": rand_query(i) for i in range(rng.randint(6, 14))}

    def run(queries):
        engine = run_fleet(spark, queries, batches)
        done = {}
        for qid, clip in engine.results:
            done.setdefault(qid, clip)
        out = {}
        for qid in queries:
            rq = engine.registry.queries.get(qid)
            if rq is None:  # a RAW query that filled: its final Clip
                out[qid] = (done[qid].meta.get("signal"), done[qid].records, None)
            else:
                out[qid] = (None, rq.state.result(), rq.records_consumed)
        return out

    got = run(fleet)
    alone = {}
    for qid, q in fleet.items():
        alone.update(run({qid: q}))
    for qid, q in fleet.items():
        (g_sig, g, g_consumed), (a_sig, a, a_consumed) = got[qid], alone[qid]
        assert (g_sig, g_consumed) == (a_sig, a_consumed), qid
        if isinstance(q.aggregation, Raw):
            assert len(g) == len(a), qid
        else:
            assert sorted(map(str, g)) == sorted(map(str, a)), qid
        if _has_batch_reference(q):
            assert _norm(g) == _batch_reference(q, batches), qid


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
        raw_chunk_plan,
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
    cp = raw_chunk_plan(fleet)  # the shared pass, whatever the crossover
    caps_total = sum(cp.caps)
    folded = _raw_chunk_folded_df(batch, cp)
    # the bound that matters: independent of the 128 partitions
    assert folded.count() <= RAW_FOLD_FANIN * caps_total
    # and the per-member contract is intact through the fold
    result = _collect_raw_chunk(folded, cp)
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


class _PlanRQ:  # minimal RunningQuery stand-in: .query + .state + .id
    def __init__(self, q):
        from bullet_storm_spark.streaming.state import make_state

        self.query = q
        self.state = make_state(q)
        self.id = id(self)


def _one_chunk_per_key_set_fleet():
    def freq(kind, points):
        return Query(
            aggregation=Distribution(field="v", dist_type=kind, points=points),
            duration_ms=600_000,
        )

    q = _mixed_queries()
    return {
        "grp_all": q["grp_all"],
        "cd": q["cd"],
        "cd_approx": q["cd_approx"],
        "pmf": freq(DistributionType.PMF, [10.0, 50.0]),
        "cdf": freq(DistributionType.CDF, [5.0, 20.0, 60.0]),
        "grp_by": q["grp_by"],
        "topk": Query(
            filter=gt("v", 3.0),
            aggregation=TopK(size=2, name="cnt", fields={"k": "key"}),
            duration_ms=600_000,
        ),
    }


def test_plan_one_job_per_grouping_column_set():
    # GROUP ALL, COUNT DISTINCT and FREQ/CUMFREQ with different point lists
    # share the keyless job; GROUP BY k and TOP K on k share the k job
    from bullet_storm_spark.streaming.multiquery import ChunkPlan, plan_chunks

    fleet = [_PlanRQ(q) for q in _one_chunk_per_key_set_fleet().values()]
    chunks = plan_chunks(fleet)
    assert len(chunks) == 2 and all(isinstance(c, ChunkPlan) for c in chunks)
    assert sorted(len(c.members) for c in chunks) == [2, 5]


def test_plan_long_bin_spec_keeps_keyed_job():
    # a 40-point REGION FREQ (41 bins > MAX_SHARED_BINS) stays on its own
    # keyed bin job instead of 41 conditional sums in the keyless job
    from bullet_storm_spark import bql
    from bullet_storm_spark.streaming.multiquery import (
        MAX_SHARED_BINS,
        plan_chunks,
    )

    region = bql.parse(
        "SELECT FREQ(v, REGION, 0, 390, 10) FROM STREAM(600000, TIME)"
    )
    assert len(region.aggregation.points) + 1 > MAX_SHARED_BINS
    fleet = [_PlanRQ(q) for q in _one_chunk_per_key_set_fleet().values()]
    chunks = plan_chunks(fleet + [_PlanRQ(region)])
    assert len(chunks) == 3
    (alone,) = [c for c in chunks if len(c.members) == 1]
    (key,) = alone.key_names
    assert key.startswith("k_bin_")


def test_batch_jobs_and_single_reader_skips_persist(
    spark, batches, monkeypatch
):
    # the job count decides persistence: a fleet that plans to one chunk
    # reads the batch once, so persisting it would only add a cache build
    frame_cls = type(batches[0])  # the concrete (classic) DataFrame class
    calls = []
    real_persist = frame_cls.persist
    monkeypatch.setattr(
        frame_cls,
        "persist",
        lambda self, *a, **k: calls.append(1) or real_persist(self, *a, **k),
    )
    q = _mixed_queries()
    engine = frozen_engine(spark)
    engine.submit("grp_all", q["grp_all"])
    engine.submit("pmf", q["pmf"])
    engine.submit("cd", q["cd"])
    engine.process_batch(batches[0])
    assert engine.stats()["batch_jobs"] == 1
    assert calls == []
    # one more key set -> two jobs read the batch -> persisted
    engine.submit("grp_by", q["grp_by"])
    engine.process_batch(batches[1])
    assert engine.stats()["batch_jobs"] == 2
    assert len(calls) == 1


# the "batch_shuffle" gate forced each way: 1 << 64 is above any estimate
# (small: one partition), 0 is below every estimate (big: partitions kept)
SMALL, BIG = 1 << 64, 0


def _force_batch_shuffle(monkeypatch, threshold):
    from bullet_storm_spark.operators.common import SCALE_GATE_MIN_BYTES

    monkeypatch.setitem(SCALE_GATE_MIN_BYTES, "batch_shuffle", threshold)


def _record_binds(monkeypatch, frame_cls):
    """Every aggregation job's physical plan as it is collected, and one
    entry per persist call, from here on."""
    plans, persisted = [], []
    real_to_arrow, real_persist = frame_cls.toArrow, frame_cls.persist

    def to_arrow(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real_to_arrow(self)

    monkeypatch.setattr(frame_cls, "toArrow", to_arrow)
    monkeypatch.setattr(
        frame_cls,
        "persist",
        lambda self, *a, **k: persisted.append(1) or real_persist(self, *a, **k),
    )
    return plans, persisted


def test_batch_shuffle_gate_is_result_neutral(spark, parquet_batches, monkeypatch):
    # every family, RAW as limit jobs and as a pass, gives the same
    # results and records_consumed on both branches, alone and in a fleet
    from bullet_storm_spark.streaming.multiquery import RAW_LIMIT_JOBS_MAX

    mixed = _mixed_queries()  # holds one RAW query
    limit_fleet = {**mixed, **_raw_fleet(RAW_LIMIT_JOBS_MAX - 1, size=90, off=20)}
    pass_fleet = {**mixed, **_raw_fleet(RAW_LIMIT_JOBS_MAX, size=90, off=20)}
    alone = {}
    for branch, threshold in (("small", SMALL), ("big", BIG)):
        _force_batch_shuffle(monkeypatch, threshold)
        limit_engine = run_fleet(spark, limit_fleet, parquet_batches)
        pass_engine = run_fleet(spark, pass_fleet, parquet_batches)
        assert [len(cp.rqs) for cp in limit_engine._raw_chunk_cache] == (
            [1] * RAW_LIMIT_JOBS_MAX
        )
        assert [len(cp.rqs) for cp in pass_engine._raw_chunk_cache] == [
            RAW_LIMIT_JOBS_MAX + 1
        ]
        alone[branch] = _alone_outcomes(spark, pass_fleet, parquet_batches)
        assert _outcomes(pass_engine) == alone[branch], branch
        assert _outcomes(limit_engine) == {
            qid: alone[branch][qid] for qid in limit_fleet
        }, branch
    assert alone["small"] == alone["big"]


@pytest.mark.parametrize("branch", ["small", "big"])
def test_batch_shuffle_gate_decides_exchange_and_persist(
    spark, parquet_batches, monkeypatch, branch
):
    # a small batch is one partition: no aggregation plan holds an
    # exchange and nothing is persisted; a big batch keeps the exchange
    # and is persisted when two or more jobs read it
    _force_batch_shuffle(monkeypatch, SMALL if branch == "small" else BIG)
    plans, persisted = _record_binds(monkeypatch, type(parquet_batches[0]))
    engine = run_fleet(spark, _mixed_queries(), parquet_batches)
    assert engine.stats()["batch_jobs"] > 1
    assert len(plans) > 2
    if branch == "small":
        assert not any("Exchange" in p for p in plans), plans
        assert persisted == []
    else:
        assert all("Exchange" in p for p in plans), plans
        assert len(persisted) == len(parquet_batches)


def test_batch_shuffle_gate_defaults(spark, batches, parquet_batches, monkeypatch):
    # at the default threshold a small parquet batch is small, while an
    # in-memory frame (estimate Long.MaxValue, like a Kafka batch's) is big
    from bullet_storm_spark.operators.common import scale_gate

    assert scale_gate("batch_shuffle", parquet_batches[0]) is False
    assert scale_gate("batch_shuffle", batches[0]) is True
    plans, persisted = _record_binds(monkeypatch, type(batches[0]))
    run_fleet(spark, _mixed_queries(), batches)
    assert plans and all("Exchange" in p for p in plans), plans
    assert len(persisted) == len(batches)


def test_topk_negative_zero_reports_under_zero(spark):
    # Spark normalizes -0.0 to 0.0 in grouping keys, so a TOP K over a
    # double field reports -0.0 rows under "0.0", alone and in a fleet
    rows = [(-0.0,), (0.0,), (1.0,), (-0.0,)]
    batches = [spark.createDataFrame(rows, "x double")]
    queries = {
        "topk": Query(
            aggregation=TopK(size=5, name="cnt", fields={"x": ""}),
            duration_ms=600_000,
        ),
        "grp": Query(
            aggregation=GroupBy(
                fields={"x": ""},
                operations=[GroupOperation(GroupOpType.COUNT, None, "cnt")],
            ),
            duration_ms=600_000,
        ),
    }
    expected = [{"x": "0.0", "cnt": 3}, {"x": "1.0", "cnt": 1}]
    assert alone_results(spark, {"topk": queries["topk"]}, batches)["topk"] == expected
    assert live_results(run_fleet(spark, queries, batches))["topk"] == expected


def test_exact_count_distinct_counts_nan_once(spark):
    # NaN never equals itself: each batch's NaN key must still be the one
    # NaN already counted, alone and in a fleet
    batches = [
        spark.createDataFrame([(float("nan"),), (1.0,)], "x double")
        for _ in range(3)
    ]
    queries = {
        "cd": Query(
            aggregation=CountDistinct(fields=["x"], name="u"), duration_ms=600_000
        ),
        "grp": Query(
            aggregation=GroupAll(GroupOperation(GroupOpType.COUNT, None, "cnt")),
            duration_ms=600_000,
        ),
    }
    assert alone_results(spark, {"cd": queries["cd"]}, batches)["cd"] == [{"u": 2}]
    assert live_results(run_fleet(spark, queries, batches))["cd"] == [{"u": 2}]
