"""GroupState's columnar merge: partials arrive as Arrow tables and fold in
with one hash aggregation. The group cap, NaN keys and the Row-path value
types (naive datetimes, Decimals, None) must hold for a query run alone and
in a fleet alike."""

import datetime
from decimal import Decimal

import pyarrow as pa

from bullet_storm_spark import (
    CountDistinct,
    GroupAll,
    GroupBy,
    GroupOperation,
    GroupOpType,
    Query,
)
from bullet_storm_spark.streaming.state import GroupState
from engine_helpers import alone_results, live_results, run_fleet


def _op(t, field, alias):
    return GroupOperation(t, field, alias)


def _partial(keys, counts, sums):
    # the per-query partial's shape: key alias, __c{i}, __s{i}/__n{i},
    # __nrec
    return pa.table(
        {
            "k": pa.array(keys, pa.string()),
            "__c0": pa.array(counts, pa.int64()),
            "__s1": pa.array(sums, pa.float64()),
            "__n1": pa.array(counts, pa.int64()),
            "__nrec": pa.array(counts, pa.int64()),
        }
    )


def test_merge_cap_keeps_existing_groups_and_admits_in_row_order():
    state = GroupState(
        GroupBy(
            fields={"k": ""},
            operations=[
                _op(GroupOpType.COUNT, None, "cnt"),
                _op(GroupOpType.SUM, "v", "s"),
            ],
            size=3,
        )
    )
    state.merge(_partial(["b", "a"], [1, 2], [10.0, 20.0]))
    # one slot left: d (first new key in row order) takes it, c is
    # dropped, a keeps merging
    state.merge(_partial(["d", "c", "a"], [4, 8, 16], [1.0, 2.0, 4.0]))
    # at the cap: e is dropped, b keeps merging
    state.merge(_partial(["e", "b"], [32, 64], [8.0, 16.0]))
    assert state.result() == [
        {"k": "b", "cnt": 65, "s": 26.0},
        {"k": "a", "cnt": 18, "s": 24.0},
        {"k": "d", "cnt": 4, "s": 1.0},
    ]
    assert state.consumed(_partial(["e", "b"], [32, 64], [8.0, 16.0])) == 96


def test_group_all_without_data_emits_one_row():
    state = GroupState(
        GroupAll(
            _op(GroupOpType.COUNT, None, "cnt"),
            _op(GroupOpType.SUM, "v", "s"),
            _op(GroupOpType.AVG, "v", "av"),
            _op(GroupOpType.MAX, "v", "mx"),
        )
    )
    assert state.result() == [{"cnt": 0, "s": None, "av": None, "mx": None}]


def _run(spark, alone, queries, batches):
    """Each query's live result, from one engine per query (``alone``) or
    from one engine running the whole fleet."""
    if alone:
        return alone_results(spark, queries, batches)
    engine = run_fleet(spark, queries, batches)
    assert engine.shared_scan_queries == len(queries) * len(batches)
    return live_results(engine)


def test_nan_key_is_one_group_on_both_paths(spark):
    # NaN keys of different batches are one SQL group (Spark normalizes
    # NaN; Python NaN objects neither hash alike nor compare equal)
    rows = [(float("nan"), 1.0), (1.0, 2.0), (float("nan"), 3.0)]
    batches = [spark.createDataFrame(rows, "x double, v double") for _ in range(3)]
    queries = {
        "by_x": Query(
            aggregation=GroupBy(
                fields={"x": ""},
                operations=[
                    _op(GroupOpType.COUNT, None, "cnt"),
                    _op(GroupOpType.MAX, "v", "mx"),
                ],
            ),
            duration_ms=600_000,
        ),
        "all": Query(
            aggregation=GroupAll(_op(GroupOpType.COUNT, None, "cnt")),
            duration_ms=600_000,
        ),
    }
    for alone in (True, False):
        out = _run(spark, alone, queries, batches)
        groups = out["by_x"]
        assert len(groups) == 2, (alone, groups)
        (nan,) = [g for g in groups if g["x"] != g["x"]]
        assert (nan["cnt"], nan["mx"]) == (6, 3.0), alone
        assert [g for g in groups if g["x"] == 1.0] == [
            {"x": 1.0, "cnt": 3, "mx": 2.0}
        ]
        assert out["all"] == [{"cnt": 9}]


def test_nan_values_order_like_sql_in_min_max(spark):
    # Spark orders NaN above every number: MAX is NaN once any batch saw
    # one, MIN is NaN only when the group has nothing else
    batches = [
        spark.createDataFrame(rows, "k string, v double")
        for rows in (
            [("a", 1.0), ("b", float("nan")), ("c", float("nan"))],
            [("a", float("nan")), ("b", 2.0), ("c", None)],
        )
    ]
    q = Query(
        aggregation=GroupBy(
            fields={"k": ""},
            operations=[
                _op(GroupOpType.MIN, "v", "mn"),
                _op(GroupOpType.MAX, "v", "mx"),
            ],
        ),
        duration_ms=600_000,
    )
    (out,) = _run(spark, True, {"q": q}, batches).values()
    got = {r["k"]: (r["mn"], r["mx"]) for r in out}
    assert got["a"][0] == 1.0 and got["a"][1] != got["a"][1]
    assert got["b"][0] == 2.0 and got["b"][1] != got["b"][1]
    assert all(v != v for v in got["c"])


def test_value_types_match_row_path(spark):
    # timestamp and decimal keys, NULL keys and MIN/MAX over a timestamp
    # render exactly as collected Rows do: naive datetimes, Decimals, None
    ts = [datetime.datetime(2024, 3, d, 12, 30, 15, 250) for d in (1, 2)]
    schema = "ts timestamp, dec decimal(10,2), t timestamp, v double"
    batches = [
        spark.createDataFrame(
            [
                (ts[0], Decimal("1.50"), ts[1], 1.0),
                (ts[0], None, None, None),
                (None, Decimal("1.50"), ts[0], 2.0),
            ],
            schema,
        ),
        spark.createDataFrame(
            [
                (ts[1], Decimal("-0.25"), None, 3.0),
                (None, None, ts[1], None),
            ],
            schema,
        ),
    ]
    ops = [
        _op(GroupOpType.COUNT, None, "cnt"),
        _op(GroupOpType.MIN, "t", "first"),
        _op(GroupOpType.MAX, "t", "last"),
        _op(GroupOpType.AVG, "v", "av"),
    ]
    queries = {
        "by_ts": Query(
            aggregation=GroupBy(fields={"ts": "when"}, operations=ops),
            duration_ms=600_000,
        ),
        "by_dec": Query(
            aggregation=GroupBy(fields={"dec": ""}, operations=ops),
            duration_ms=600_000,
        ),
    }
    union = batches[0].unionByName(batches[1])

    def rows_path(key, alias):
        from pyspark.sql import functions as F

        out = union.groupBy(F.col(key).alias(alias)).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("t").alias("first"),
            F.max("t").alias("last"),
            F.avg("v").alias("av"),
        )
        return sorted(repr(r.asDict()) for r in out.collect())

    expected = {"by_ts": rows_path("ts", "when"), "by_dec": rows_path("dec", "dec")}
    for alone in (True, False):
        out = _run(spark, alone, queries, batches)
        got = {qid: sorted(map(repr, rows)) for qid, rows in out.items()}
        assert got == expected, alone
        by_ts = {r["when"]: r for r in out["by_ts"]}
        assert set(by_ts) == {ts[0], ts[1], None}
        assert all(k is None or k.tzinfo is None for k in by_ts)
        assert by_ts[ts[1]]["first"] is None and by_ts[None]["last"] == ts[1]
        assert {r["dec"] for r in out["by_dec"]} == {
            Decimal("1.50"),
            Decimal("-0.25"),
            None,
        }


def test_binary_values_match_row_path(spark):
    # binary keys and MIN/MAX over binary render as collect() gives them
    # (bytes), and an exact COUNT DISTINCT can hash them, alone and in a
    # fleet
    schema = "b binary, v double"
    batches = [
        spark.createDataFrame([(b"ab", 1.0), (b"cd", 2.0), (None, 3.0)], schema),
        spark.createDataFrame([(b"ab", 4.0), (b"ef", 5.0)], schema),
    ]
    queries = {
        "by_b": Query(
            aggregation=GroupBy(
                fields={"b": ""},
                operations=[
                    _op(GroupOpType.COUNT, None, "cnt"),
                    _op(GroupOpType.MAX, "b", "mx"),
                ],
            ),
            duration_ms=600_000,
        ),
        "cd_b": Query(
            aggregation=CountDistinct(fields=["b"], name="u"), duration_ms=600_000
        ),
    }
    from pyspark.sql import functions as F

    union = batches[0].unionByName(batches[1])
    expected = sorted(
        repr(r.asDict())
        for r in union.groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("b").alias("mx"))
        .collect()
    )
    for alone in (True, False):
        out = _run(spark, alone, queries, batches)
        assert sorted(map(repr, out["by_b"])) == expected, alone
        assert out["cd_b"] == [{"u": 3}], alone
