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
from engine_helpers import live_results, run_fleet

ROWS = [(f"k{i % 6}", float(i % 37)) for i in range(300)]

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _run_split(spark, query, cut_points):
    cuts = sorted({0, *cut_points, len(ROWS)})
    batches = [
        spark.createDataFrame(ROWS[lo:hi], "k string, v double")
        for lo, hi in zip(cuts, cuts[1:])
        if hi > lo
    ]
    return live_results(run_fleet(spark, {"q": query}, batches))["q"]


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
        duration_ms=3_600_000,  # clamped to 10 s; run_fleet freezes the clock
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
        duration_ms=3_600_000,  # clamped to 10 s; run_fleet freezes the clock
    )
    assert _run_split(spark, q, []) == _run_split(spark, q, cuts)


@SETTINGS
@given(cuts=splits)
def test_distribution_state_split_invariant(spark, cuts):
    q = Query(
        aggregation=Distribution(
            field="v", dist_type=DistributionType.CDF, points=[10.0, 25.0]
        ),
        duration_ms=3_600_000,  # clamped to 10 s; run_fleet freezes the clock
    )
    assert _run_split(spark, q, []) == _run_split(spark, q, cuts)
