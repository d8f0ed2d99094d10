"""One broken query must FAIL alone; the rest of the batch proceeds
(JoinBolt init-error parity)."""

from bullet_storm_spark import GroupAll, GroupBy, GroupOperation, GroupOpType, Query, Raw
from bullet_storm_spark.plans.expressions import eq
from engine_helpers import frozen_engine

_BAD_PLAN = Query(
    filter=eq("no_such_column", 1), aggregation=Raw(size=10), duration_ms=600_000
)


def test_broken_query_fails_alone(spark):
    # the broken plan fails the shared job; each member then reruns as a
    # fleet of one, and only the offender FAILs
    engine = frozen_engine(spark)
    engine.submit("bad", _BAD_PLAN)
    engine.submit(
        "good",
        Query(
            aggregation=GroupAll(GroupOperation(GroupOpType.COUNT, None, "cnt")),
            duration_ms=600_000,
        ),
    )
    batch = spark.createDataFrame([("a", 1.0)] * 4, "k string, v double")
    engine.process_batch(batch)
    # bad query FAILed with error metadata; good one kept running
    sigs = {i: c.meta.get("signal") for i, c in engine.results}
    assert sigs.get("bad") == "FAIL"
    assert "bad" not in engine.registry.queries
    assert engine.registry.queries["good"].state.result() == [{"cnt": 4}]
    assert engine.metrics.snapshot()["queries_failed"] == 1
    # next batch unaffected
    engine.process_batch(batch)
    assert engine.registry.queries["good"].state.result() == [{"cnt": 8}]


def test_broken_lone_query_counts_as_failed(spark):
    engine = frozen_engine(spark)
    engine.submit("bad", _BAD_PLAN)
    engine.process_batch(spark.createDataFrame([("a", 1.0)], "k string, v double"))
    ((qid, clip),) = engine.results
    assert qid == "bad" and clip.meta.get("signal") == "FAIL"
    assert engine.metrics.snapshot()["queries_failed"] == 1


def test_unmergeable_partial_fails_alone(spark):
    # Arrow has no hash kernel for MIN over a list, so "bad"'s merge raises:
    # it must FAIL alone, and "good", submitted after it, must still merge
    queries = {
        "bad": Query(
            aggregation=GroupBy(
                fields={"k": ""},
                operations=[GroupOperation(GroupOpType.MIN, "xs", "mn")],
            ),
            duration_ms=600_000,
        ),
        "good": Query(
            aggregation=GroupBy(
                fields={"k": ""},
                operations=[GroupOperation(GroupOpType.COUNT, None, "cnt")],
            ),
            duration_ms=600_000,
        ),
    }
    batch = spark.createDataFrame(
        [("a", [1, 2]), ("a", [0, 5]), ("b", [3])], "k string, xs array<int>"
    )
    for fleet in ({"bad": queries["bad"]}, queries):
        engine = frozen_engine(spark)
        for qid, q in fleet.items():
            engine.submit(qid, q)
        engine.process_batch(batch)
        assert engine.shared_scan_queries == len(fleet)
        ((qid, clip),) = engine.results
        assert qid == "bad" and clip.meta.get("signal") == "FAIL"
        assert "bad" not in engine.registry.queries
        assert engine.metrics.snapshot()["queries_failed"] == 1
    engine.process_batch(batch)
    assert sorted(
        map(str, engine.registry.queries["good"].state.result())
    ) == ["{'k': 'a', 'cnt': 4}", "{'k': 'b', 'cnt': 2}"]
