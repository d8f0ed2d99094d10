"""Seeded input frames and the query fleets of the three workloads.

Every frame follows the ``events`` schema of the repository's test data
(event_id, ts, user_id, event_type, value, props). A workload's frames and
fleet depend only on the seed, so the same seed gives the same inputs.

Each query is a ``Spec``: the BQL text the engine receives, plus the DuckDB
SQL the correctness check runs over the slices a Clip covers (``None`` for
families without an exact answer). ``{src}`` in the SQL stands for those
slices.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
N_USERS = 1500  # 1500 users x 5 event types = 7.5k (user_id, event_type) groups
MAX_VALUE = 500.0
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])
T0_US = 1_700_000_000_000_000

# Virtual engine time per batch. The engine's tick (its trigger interval,
# EngineConfig.tick_interval_ms) is set to the 10 ms minimum, so the
# smallest tumbling window is 4 ticks = one batch. A long-lived query lives
# max_query_duration_ms = 10 s = 250 batches.
STEP_MS = 40
TICK_MS = 10
LONG_MS = 10_000


@dataclass
class Spec:
    qid: str
    family: str
    bql: str
    oracle: str | None = None
    limit: int | None = None  # group cap (GROUP BY) or k (TOP K) or RAW size
    keys: tuple[str, ...] = ()
    submit_batch: int = 0  # submitted just before this batch arrives


@dataclass
class Workload:
    name: str
    rows: int  # records per frame
    warm: int  # unmeasured batches in each set-up
    batches: int  # measured batches
    fleet: list[Spec]  # submitted during set-up
    arrivals_per_batch: int = 0  # open-loop submissions per batch

    def arrivals(self, batch: int, rng: np.random.Generator) -> list[Spec]:
        return adhoc_arrivals(batch, rng) if self.arrivals_per_batch else []


def write_slices(directory: str, seed: int, rows: int, count: int) -> list[str]:
    """Write ``count`` parquet slices of ``rows`` events each."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    paths = []
    for i in range(count):
        ids = np.arange(i * rows, (i + 1) * rows, dtype=np.int64)
        table = pa.table(
            {
                "event_id": ids,
                "ts": pa.array(T0_US + ids * 1000, pa.timestamp("us", tz="UTC")),
                "user_id": rng.integers(0, N_USERS, rows),
                "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)],
                "value": np.round(rng.uniform(0.0, MAX_VALUE, rows), 2),
                "props": PROPS[rng.integers(0, len(PROPS), rows)],
            }
        )
        path = os.path.join(directory, f"slice-{i:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def _window(batches: int | None) -> str:
    return f" WINDOWING TUMBLING({batches * STEP_MS}, TIME)" if batches else ""


def group_all(qid, x, duration=LONG_MS, window=None) -> Spec:
    where = f"value > {x}"
    return Spec(
        qid,
        "group_all",
        "SELECT COUNT(*) AS cnt, SUM(value) AS s, MAX(value) AS mx "
        f"FROM STREAM({duration}, TIME) WHERE {where}{_window(window)}",
        "SELECT COUNT(*) AS cnt, SUM(value) AS s, MAX(value) AS mx "
        f"FROM {{src}} WHERE {where}",
    )


def group_by(qid, keys, x, cap=None, duration=LONG_MS, window=None) -> Spec:
    cols = ", ".join(keys)
    where = f"value > {x}"
    limit = f" LIMIT {cap}" if cap else ""
    return Spec(
        qid,
        "group_by",
        f"SELECT {cols}, COUNT(*) AS cnt, SUM(value) AS s, MAX(value) AS mx "
        f"FROM STREAM({duration}, TIME) WHERE {where} GROUP BY {cols}{limit}"
        f"{_window(window)}",
        f"SELECT {cols}, COUNT(*) AS cnt, SUM(value) AS s, MAX(value) AS mx "
        f"FROM {{src}} WHERE {where} GROUP BY {cols}",
        limit=cap or 500,  # DEFAULT_AGGREGATION_SIZE, the group cap without LIMIT
        keys=tuple(keys),
    )


def top_k(qid, k, x, duration=LONG_MS, window=None) -> Spec:
    where = f"value > {x}"
    return Spec(
        qid,
        "top_k",
        f"SELECT TOP({k}, event_type) AS cnt FROM STREAM({duration}, TIME) "
        f"WHERE {where}{_window(window)}",
        f"SELECT event_type, COUNT(*) AS cnt FROM {{src}} WHERE {where} "
        f"GROUP BY event_type ORDER BY cnt DESC, event_type LIMIT {k}",
        limit=k,
        keys=("event_type",),
    )


def freq(qid, lo, duration=LONG_MS, window=None) -> Spec:
    return Spec(
        qid,
        "freq",
        f"SELECT FREQ(value, MANUAL, {lo}, 100, 250, 400) "
        f"FROM STREAM({duration}, TIME){_window(window)}",
    )


def count_distinct(qid, x, duration=LONG_MS, window=None) -> Spec:
    where = f"value > {x}"
    return Spec(
        qid,
        "count_distinct",
        "SELECT COUNT(DISTINCT user_id) AS u FROM "
        f"STREAM({duration}, TIME) WHERE {where}{_window(window)}",
        f"SELECT COUNT(DISTINCT user_id) AS u FROM {{src}} WHERE {where}",
    )


def raw(qid, lo, hi, size, duration=LONG_MS) -> Spec:
    where = f"value > {lo} AND value <= {hi}"
    return Spec(
        qid,
        "raw",
        "SELECT event_id, user_id, value FROM "
        f"STREAM({duration}, TIME) WHERE {where} LIMIT {size}",
        f"SELECT event_id FROM {{src}} WHERE {where}",
        limit=size,
    )


def steady_fleet(rng: np.random.Generator, per_family: int) -> list[Spec]:
    """Long-lived queries over every aggregation family. Query 0 of GROUP
    ALL, GROUP BY user_id and COUNT DISTINCT accumulates for the whole run;
    the rest are on 2-batch tumbling windows, half of them submitted one
    batch later so that windows close on every batch."""
    fleet = []
    for i in range(per_family):
        x = lambda: int(rng.integers(0, 400))  # noqa: E731
        whole = None if i == 0 else 2
        fleet += [
            group_all(f"all-{i}", x(), window=whole),
            group_by(f"type-{i}", ["event_type"], x(), window=2),
            group_by(f"user-{i}", ["user_id"], x(), cap=2000, window=whole),
            top_k(f"top-{i}", 2 + i % 3, x(), window=2),
            freq(f"freq-{i}", 10 + i, window=2),
            count_distinct(f"cd-{i}", x(), window=whole),
        ]
    windowed = [s for s in fleet if "WINDOWING" in s.bql]
    for j, spec in enumerate(windowed):
        spec.submit_batch = j % 2
    return fleet


def wide_fleet(rng: np.random.Generator, n: int) -> list[Spec]:
    """GROUP BY (user_id, event_type) with the group cap raised past the
    7.5k groups, on 2-batch tumbling windows staggered by one batch."""
    fleet = []
    for i in range(n):
        spec = group_by(
            f"wide-{i}",
            ["user_id", "event_type"],
            int(rng.integers(0, 100)),
            cap=10_000,
            window=2,
        )
        spec.submit_batch = i % 2
        fleet.append(spec)
    return fleet


def adhoc_arrivals(batch: int, rng: np.random.Generator) -> list[Spec]:
    """Two new queries per batch, one RAW and one aggregation, whose final
    Clips land after a fixed number of batches. Even batches bring a RAW
    query that fills in its first batch and an aggregation expiring after
    one batch; odd batches a RAW query that needs two batches and an
    aggregation expiring after three. Submit-to-Clip latency is then 1, 2,
    2 and 4 batches, which keeps the median and the p90 inside a cluster."""
    x = int(rng.integers(0, 400))
    aggs = [
        lambda q, d: group_all(q, x, duration=d),
        lambda q, d: group_by(q, ["event_type"], x, duration=d),
        lambda q, d: count_distinct(q, x, duration=d),
        lambda q, d: top_k(q, 3, x, duration=d),
        lambda q, d: group_by(q, ["user_id"], x, cap=2000, duration=d),
        lambda q, d: freq(q, 5 + batch % 50, duration=d),
    ]
    # the aggregation family changes every 4 batches, so about two
    # families (two shared jobs) are live at a time
    make = aggs[(batch // 4) % len(aggs)]
    if batch % 2 == 0:
        # ~30% of 2k rows match: full at 50 in the first batch
        lo = round(float(rng.uniform(0, MAX_VALUE - 150)), 2)
        specs = [
            raw(f"raw-{batch}", lo, round(lo + 150, 2), 50),
            make(f"agg-{batch}", STEP_MS),
        ]
    else:
        # ~3.75% match: 75 rows expected per batch, full at 100 in the second
        lo = round(float(rng.uniform(0, MAX_VALUE - 20)), 2)
        specs = [
            raw(f"raw-{batch}", lo, round(lo + 18.75, 2), 100),
            make(f"agg-{batch}", 3 * STEP_MS),
        ]
    for spec in specs:
        spec.submit_batch = batch
    return specs


def build(name: str, seed: int, tiny: bool) -> Workload:
    """The workload ``name`` for ``seed``. ``tiny`` shrinks frames and
    fleets for the smoke test."""
    rng = np.random.default_rng([seed, 2])
    if name == "steady_fleet":
        return Workload(
            name,
            rows=500 if tiny else 5_000,
            warm=2,
            batches=8 if tiny else 36,
            fleet=steady_fleet(rng, 1 if tiny else 2),
        )
    if name == "adhoc_churn":
        return Workload(
            name,
            rows=2_000,
            warm=2,
            batches=8 if tiny else 28,
            fleet=[],
            arrivals_per_batch=2,
        )
    if name == "wide_groups":
        return Workload(
            name,
            rows=2_000 if tiny else 10_000,
            warm=2,
            batches=8 if tiny else 26,
            fleet=wide_fleet(rng, 2 if tiny else 4),
        )
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("steady_fleet", "adhoc_churn", "wide_groups")
