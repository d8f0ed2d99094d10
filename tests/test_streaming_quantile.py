"""Streaming quantile state: exact under the cap, mergeable KLL summary
above — the reference's QuantileSketch contract (bounded state, summary
union; merge associativity mirrors JoinBoltTest.java:696-735)."""

import math

from bullet_storm_spark import Distribution, DistributionType, Query
from bullet_storm_spark.operators.sketches import KLLSummary
from bullet_storm_spark.streaming import StreamingEngine
from bullet_storm_spark.streaming.state import DistributionState


def _quantile_query(points):
    return Query(
        aggregation=Distribution(
            field="v", dist_type=DistributionType.QUANTILE, points=points
        ),
        duration_ms=600_000,
    )


def test_exact_under_cap(spark):
    engine = StreamingEngine(spark)
    engine.submit("q", _quantile_query([0.0, 0.5, 1.0]))
    engine.process_batch(spark.createDataFrame([(float(i),) for i in range(51)], "v double"))
    engine.process_batch(spark.createDataFrame([(float(i),) for i in range(51, 101)], "v double"))
    got = {r["quantile"]: r["value"] for r in engine.registry.queries["q"].state.result()}
    assert got == {0.0: 0.0, 0.5: 50.0, 1.0: 100.0}  # exact across batches


def test_bounded_summary_above_cap(spark, monkeypatch):
    monkeypatch.setattr(DistributionState, "SAMPLE_CAP", 2_000)
    engine = StreamingEngine(spark)
    engine.submit("q", _quantile_query([0.25, 0.5, 0.75]))
    # 3 batches x 4000 uniform values in [0, 100)
    for b in range(3):
        rows = [((i * 997 + b * 131) % 4000 / 40.0,) for i in range(4000)]
        engine.process_batch(spark.createDataFrame(rows, "v double"))
    state = engine.registry.queries["q"].state
    assert state.summary.n == 12_000  # every value accounted for by weight
    # bounded state: <= capacity per level, log-many levels
    assert all(len(lvl) <= 2_000 for lvl in state.summary.levels)
    assert len(state.summary.levels) <= math.ceil(math.log2(12_000 / 2_000)) + 2
    got = {r["quantile"]: r["value"] for r in state.result()}
    for frac, expect in [(0.25, 25.0), (0.5, 50.0), (0.75, 75.0)]:
        assert abs(got[frac] - expect) < 5.0  # compaction tolerance


def test_tree_merge_bounds_driver_traffic(spark, monkeypatch):
    """A scan with many partitions must NOT funnel one summary per
    partition to the driver: the coalesce+merge stage caps the partial
    frame at TREE_FANIN rows, and (exact regime) the merged result is
    identical to the unmerged path's."""
    from bullet_storm_spark.streaming.multiquery import (
        _collect_quantile_chunk,
        _quantile_chunk_df,
        plan_chunks,
    )

    monkeypatch.setattr(DistributionState, "TREE_FANIN", 4)

    class _RQ:  # minimal RunningQuery stand-in: .query + .state + .id
        def __init__(self):
            self.query = _quantile_query([0.5])
            self.state = DistributionState(self.query.aggregation)
            self.id = id(self)

    def merged(frame):
        rq = _RQ()
        (cp,) = plan_chunks([rq])  # a one-member QUANTILE plan
        part = _quantile_chunk_df(frame, cp)
        (rows,) = _collect_quantile_chunk(part, cp)
        rq.state.merge(rows)
        return rq.state, rows

    df = spark.createDataFrame(
        [(float(i),) for i in range(400)], "v double"
    ).repartition(64)
    state, rows = merged(df)
    assert len(rows) <= 4, "driver received more than TREE_FANIN summaries"
    assert sum(r["__n"] for r in rows) == 400
    # exact regime: same quantile as a no-tree (few-partition) run
    flat_state, _ = merged(df.coalesce(2))
    assert state.summary.is_exact() and flat_state.summary.is_exact()
    assert state.result() == flat_state.result()


def test_kll_merge_associative_exact_regime():
    """While nothing compacts, any merge tree over the same multiset gives
    IDENTICAL quantiles (the two-sketch merge test shape,
    JoinBoltTest.java:696-735)."""
    vals = [((i * 131) % 997) / 7.0 for i in range(900)]
    chunks = [vals[0:300], vals[300:600], vals[600:900]]

    def summarize(chunk):
        s = KLLSummary(1024)
        s.extend(chunk)
        return s

    # left-fold: ((a + b) + c)
    left = summarize(chunks[0])
    left.merge(summarize(chunks[1]))
    left.merge(summarize(chunks[2]))
    # right-fold: (a + (b + c))
    bc = summarize(chunks[1])
    bc.merge(summarize(chunks[2]))
    right = summarize(chunks[0])
    right.merge(bc)
    # single pass
    single = summarize(vals)
    assert left.is_exact() and right.is_exact() and single.is_exact()
    for p in [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]:
        assert left.quantile(p) == right.quantile(p) == single.quantile(p)
    # and the exact value matches the classic interpolation definition
    sv = sorted(vals)
    t = 0.5 * (len(sv) - 1)
    lo, hi = int(math.floor(t)), int(math.ceil(t))
    expect = sv[lo] * (1 - (t - lo)) + sv[hi] * (t - lo)
    assert single.quantile(0.5) == expect


def test_kll_merge_rank_error_bounded_after_compaction():
    """Beyond the exact regime, differently-shaped merge trees must all
    land within the summary's rank-error envelope."""
    n = 50_000
    vals = [((i * 2654435761) % n) / (n / 100.0) for i in range(n)]  # ~U[0,100)
    cap = 512

    def tree_merge(chunks):
        sums = []
        for c in chunks:
            s = KLLSummary(cap)
            s.extend(c)
            sums.append(s)
        while len(sums) > 1:  # balanced binary merge tree
            nxt = []
            for i in range(0, len(sums) - 1, 2):
                sums[i].merge(sums[i + 1])
                nxt.append(sums[i])
            if len(sums) % 2:
                nxt.append(sums[-1])
            sums = nxt
        return sums[0]

    chunked = tree_merge([vals[i : i + 5_000] for i in range(0, n, 5_000)])
    streamed = KLLSummary(cap)
    streamed.extend(vals)
    for s in (chunked, streamed):
        assert s.n == n
        assert all(len(lvl) <= cap for lvl in s.levels)
        for p in [0.1, 0.25, 0.5, 0.75, 0.9]:
            # generous envelope: a few x log(n/cap)/cap rank error
            assert abs(s.quantile(p) - p * 100.0) < 5.0
