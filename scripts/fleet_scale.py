#!/usr/bin/env python
"""Fleet-scale probe for the shared-scan multiplexer + query partitioner.

Measures, at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]:

1. steady per-batch cost of 100/200/500 concurrent live queries (the
   bench.py fleet mix: all five aggregation families via BQL, varied
   filters) and the marginal cost per query between the points — the
   QueryManager one-record-many-queries posture (SURVEY.md §4 row 1) at
   fleet scale;
2. Spark JOB COUNT per batch at each fleet size (via statusTracker job-group
   deltas), to catch superlinear job growth from key-set chunking;
3. the predicate partitioner's hit rate on an equality-filtered fleet where
   a known fraction of the fleet's constants are absent from the batch
   (reference: SimpleEqualityPartitioner / FilterBolt categorize,
   FilterBolt.java:148-155);
4. the RAW crossover: fleets of 1-48 RAW members, each bound both ways on a
   fresh 2k-row parquet slice through the ``multiquery`` functions — one
   limit job per member (the slice persisted when more than one job reads
   it, as the engine does for a batch at or above its "batch_shuffle"
   gate; also unpersisted) against one shared mapInPandas pass, for fresh
   fleets and for plan-cached ones — which sets
   ``multiquery.RAW_LIMIT_JOBS_MAX``;
5. the batch_shuffle crossover: the perfbench steady_fleet (3 jobs a
   batch) and wide_groups (1 job) fleets on fresh 4-file parquet batches
   of ~0.3-45 MiB, each batch run through ``StreamingEngine.process_batch``
   with the "batch_shuffle" gate forced each way — coalesced to one
   partition, or partitioned, shuffled and (2+ jobs) persisted — which
   sets ``SCALE_GATE_MIN_BYTES["batch_shuffle"]``.

``python scripts/fleet_scale.py raw_crossover`` runs series 4 alone and
``python scripts/fleet_scale.py batch_shuffle`` series 5. Prints one JSON
line; SCALING.md records the series.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bullet_storm_spark import get_spark
from bullet_storm_spark.bql import parse
from bullet_storm_spark.sources.tables import load_table
from bullet_storm_spark.streaming import QueryRegistry, StreamingEngine
from bullet_storm_spark.streaming.multiquery import (
    RAW_LIMIT_JOBS_MAX,
    raw_chunk_plan,
    shared_partials,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fleet(n: int) -> list[str]:
    # same family mix as bench.py (keep the series comparable)
    families = [
        lambda i: "SELECT COUNT(*) AS cnt, SUM(value) AS s FROM "
        f"STREAM(600000, TIME) WHERE value > {(i * 7) % 200}",
        lambda i: "SELECT event_type, COUNT(*) AS cnt FROM "
        f"STREAM(600000, TIME) WHERE value > {(i * 13) % 100}",
        lambda i: "SELECT user_id, COUNT(*) AS cnt FROM "
        f"STREAM(600000, TIME) WHERE value > {(i * 11) % 100}",
        lambda i: f"SELECT TOP({3 + i % 5}, event_type) AS cnt FROM "
        "STREAM(600000, TIME)",
        lambda i: f"SELECT FREQ(value, MANUAL, {10 + i % 7}, 50, 100) "
        "FROM STREAM(600000, TIME)",
        lambda i: "SELECT COUNT(DISTINCT user_id) AS u FROM "
        f"STREAM(600000, TIME) WHERE value > {(i * 17) % 100}",
        lambda i: "SELECT * FROM STREAM(600000, TIME) "
        f"WHERE value > {300 + i} LIMIT 50",
    ]
    return [families[i % len(families)](i) for i in range(n)]


def steady(run) -> tuple[float, list[float]]:
    runs: list[float] = []
    while True:
        t0 = time.perf_counter()
        run()
        runs.append(time.perf_counter() - t0)
        if len(runs) >= 2 and runs[-1] <= min(runs) * 1.15:
            break
        if len(runs) >= 5:
            break
    return min(runs), runs


def _probe_job_id(spark, tag: str) -> int:
    sc = spark.sparkContext
    group = f"fleet-probe-{tag}"
    sc.setJobGroup(group, "job-id probe")
    spark.range(1).count()
    sc.setJobGroup("", "")
    return max(sc.statusTracker().getJobIdsForGroup(group))


RAW_FLEETS = (1, 2, 4, 8, 12, 16, 24, 32, 48)
# fresh: a new fleet each rep, planned inside the timing (adhoc RAW
# queries); steady: one fleet planned once and bound to a fresh slice
# each rep (a long-lived RAW fleet)
RAW_SIDES = (
    "limit_jobs",
    "limit_jobs_unpersisted",
    "pass",
    "limit_jobs_steady",
    "pass_steady",
)


def raw_bql(i: int) -> str:
    # the two adhoc_churn RAW shapes (perfbench/workloads.py): ~30% of
    # rows match with LIMIT 50, ~3.75% with LIMIT 100
    lo = (i * 37) % 330
    width, size = (150, 50) if i % 2 == 0 else (18.75, 100)
    return (
        "SELECT event_id, user_id, value FROM STREAM(600000, TIME) "
        f"WHERE value > {lo} AND value <= {lo + width} LIMIT {size}"
    )


def raw_crossover(spark, reps: int = 7) -> dict:
    """Median ms per batch of a RAW fleet of each size in RAW_FLEETS bound
    and collected as one limit job per member or as one shared pass, each
    rep on a fresh 2k-row slice, the sides interleaved. A side persists the
    slice when more than one job reads it, as the engine does for a batch
    at or above the "batch_shuffle" gate, except
    ``limit_jobs_unpersisted``. The sides bind the slice as read, so this
    prices the partitioned branch, not the coalesced one a slice this
    small takes in the engine."""
    from perfbench.workloads import write_slices

    frozen = lambda: 1.0  # noqa: E731

    def fleet(n: int) -> list:
        registry = QueryRegistry(clock=frozen)
        return [registry.submit(f"raw{i}", parse(raw_bql(i))) for i in range(n)]

    def plan(rqs: list, side: str) -> list:
        if side.startswith("pass"):
            return [raw_chunk_plan(rqs)]
        return [raw_chunk_plan([rq]) for rq in rqs]

    steady: dict = {}
    times: dict = {(n, side): [] for n in RAW_FLEETS for side in RAW_SIDES}
    with tempfile.TemporaryDirectory() as tmp:
        paths = iter(write_slices(tmp, 7, 2000, 1 + len(times) * reps))

        def bind(n: int, side: str) -> float:
            frame = spark.read.parquet(next(paths))
            if side.endswith("_steady"):
                if (n, side) not in steady:
                    rqs = fleet(n)
                    steady[(n, side)] = rqs, plan(rqs, side)
                rqs, chunks = steady[(n, side)]
                t0 = time.perf_counter()
            else:
                rqs = fleet(n)
                t0 = time.perf_counter()
                chunks = plan(rqs, side)
            persist = side != "limit_jobs_unpersisted" and len(chunks) > 1
            if persist:
                frame.persist()
            try:
                shared_partials(frame, rqs, chunks=chunks)
            finally:
                if persist:
                    frame.unpersist()
            return time.perf_counter() - t0

        bind(4, "pass")  # warm the JVM and the Python worker
        for rep in range(reps):
            for n in RAW_FLEETS:
                sides = RAW_SIDES if (rep + n) % 2 else RAW_SIDES[::-1]
                for side in sides:
                    times[(n, side)].append(bind(n, side))
    out: dict = {"rows": 2000, "reps": reps, "fleets": {}}
    for n in RAW_FLEETS:
        out["fleets"][str(n)] = {
            f"{side}_ms": round(1000 * statistics.median(times[(n, side)]), 1)
            for side in RAW_SIDES
        }
    for kind in ("", "_steady"):
        out[f"limit_jobs{kind}_ahead_at"] = [
            n
            for n in RAW_FLEETS
            if out["fleets"][str(n)][f"limit_jobs{kind}_ms"]
            < out["fleets"][str(n)][f"pass{kind}_ms"]
        ]
    out["RAW_LIMIT_JOBS_MAX"] = RAW_LIMIT_JOBS_MAX
    return out


# batch sizes of the batch_shuffle series, in perfbench events rows
# (15-24 bytes a row on disk): ~0.3 to ~45 MiB, each written as
# SHUFFLE_FILES files so that it scans as several partitions
SHUFFLE_ROWS = (
    12_500, 25_000, 50_000, 100_000, 200_000, 400_000, 800_000, 1_600_000, 3_200_000
)
SHUFFLE_FILES = 4
# the gate forced each way: above any estimate, below every estimate
SHUFFLE_SIDES = {"one_partition": 1 << 64, "partitioned": 0}


def batch_shuffle(spark, reps: int = 5) -> dict:
    """Median ms per batch on batches of each size in SHUFFLE_ROWS, with
    the "batch_shuffle" gate forced each way, for two perfbench fleets:
    steady_fleet (12 long-lived queries over every aggregation family, 3
    jobs a batch, so the partitioned side persists) and wide_groups (4
    GROUP BYs on one key set, 1 job, no persist). One engine per fleet and
    side; each rep reads the batch as a fresh frame, the sides
    interleaved."""
    import numpy as np

    from bullet_storm_spark.config import EngineConfig
    from bullet_storm_spark.operators.common import SCALE_GATE_MIN_BYTES
    from perfbench.run import SCHEMA
    from perfbench.workloads import TICK_MS, steady_fleet, wide_fleet, write_slices

    frozen = lambda: 1.0  # noqa: E731
    rng = np.random.default_rng([7, 2])
    fleets = {"steady_fleet": steady_fleet(rng, 2), "wide_groups": wide_fleet(rng, 4)}
    engines = {}
    for name, specs in fleets.items():
        for side in SHUFFLE_SIDES:
            # perfbench's engine tick, which admits its 2-batch windows
            engine = StreamingEngine(
                spark, clock=frozen, config=EngineConfig(tick_interval_ms=TICK_MS)
            )
            for spec in specs:
                engine.submit(spec.qid, parse(spec.bql))
            engines[(name, side)] = engine

    def run(name: str, side: str, path: str) -> float:
        SCALE_GATE_MIN_BYTES["batch_shuffle"] = SHUFFLE_SIDES[side]
        frame = spark.read.schema(SCHEMA).parquet(path)
        t0 = time.perf_counter()
        engines[(name, side)].process_batch(frame)
        return time.perf_counter() - t0

    default = SCALE_GATE_MIN_BYTES["batch_shuffle"]
    out: dict = {"files": SHUFFLE_FILES, "reps": reps, "batches": {}}
    times: dict = {key: {rows: [] for rows in SHUFFLE_ROWS} for key in engines}
    try:
        with tempfile.TemporaryDirectory() as tmp:
            paths = {}
            for rows in SHUFFLE_ROWS:
                paths[rows] = os.path.join(tmp, str(rows))
                write_slices(paths[rows], rows, rows // SHUFFLE_FILES, SHUFFLE_FILES)
            for key in engines:  # warm the JVM and the plan caches
                run(*key, paths[SHUFFLE_ROWS[0]])
            keys = list(engines)
            for rep in range(reps):
                for rows in SHUFFLE_ROWS:
                    for key in keys if (rep + rows) % 2 else keys[::-1]:
                        times[key][rows].append(run(*key, paths[rows]))
            for rows, path in paths.items():
                rec = {
                    "bytes": sum(
                        os.path.getsize(os.path.join(path, f))
                        for f in os.listdir(path)
                    ),
                    "partitions": spark.read.parquet(path).rdd.getNumPartitions(),
                }
                for name, side in keys:
                    rec[f"{name}_{side}_ms"] = round(
                        1000 * statistics.median(times[(name, side)][rows]), 1
                    )
                out["batches"][str(rows)] = rec
                print(f"# batch_shuffle {rows} rows: {rec}", file=sys.stderr)
    finally:
        SCALE_GATE_MIN_BYTES["batch_shuffle"] = default
    for name in fleets:
        engine = engines[(name, "partitioned")]
        out[f"{name}_live_queries"] = len(engine.registry.active())
        out[f"{name}_jobs_per_batch"] = engine.batch_jobs
        out[f"{name}_one_partition_ahead_at_bytes"] = [
            rec["bytes"]
            for rec in out["batches"].values()
            if rec[f"{name}_one_partition_ms"] < rec[f"{name}_partitioned_ms"]
        ]
    out["batch_shuffle_min_bytes"] = default
    return out


def main() -> None:
    spark = get_spark(app_name="bullet-storm-spark-fleet-scale")
    spark.sparkContext.setLogLevel("ERROR")
    series = {"raw_crossover": raw_crossover, "batch_shuffle": batch_shuffle}
    if len(sys.argv) == 2 and sys.argv[1] in series:
        out = {sys.argv[1]: series[sys.argv[1]](spark)}
        print(json.dumps(out))
        spark.stop()
        return

    batch = load_table(spark, SF_DIR, "events").persist()
    batch.count()

    out: dict = {"sf": SF_DIR.rstrip("/").split("sf")[-1], "fleet": {}}
    # FROZEN engine clock: the registry clamps every query to
    # MAX_QUERY_DURATION_MS (10 s), so a wall clock would expire the
    # fleet mid-measurement (observed: the 500q phase's later batches
    # ran against an empty registry in 6 ms). The probe measures batch
    # throughput, not lifecycle — pin time so queries stay live.
    frozen = lambda: 1.0  # noqa: E731
    prev_q, prev_t = None, None
    for n_q in (100, 200, 500):
        engine = StreamingEngine(spark, clock=frozen)
        t0 = time.perf_counter()
        for i, b in enumerate(fleet(n_q)):
            engine.submit(f"fleet-{n_q}-{i}", parse(b))
        submit_s = time.perf_counter() - t0
        engine.process_batch(batch)  # warm plans + chunk cache
        # count Spark jobs for one steady batch: job IDs are monotone, so
        # bracket the batch with tagged probe jobs and diff the IDs (a
        # job-group tag alone would miss jobs the engine submits from its
        # chunk thread pool — job groups are thread-local)
        jobs_before = _probe_job_id(spark, f"pre-{n_q}")
        engine.process_batch(batch)
        jobs = _probe_job_id(spark, f"post-{n_q}") - jobs_before - 1
        dt, runs = steady(lambda: engine.process_batch(batch))
        rec = {
            "submit_s": round(submit_s, 3),
            "steady_batch_s": round(dt, 3),
            "runs": [round(r, 3) for r in runs],
            "spark_jobs_per_batch": jobs,
            "ms_per_query": round(1000.0 * dt / n_q, 3),
        }
        if prev_q is not None:
            rec["marginal_ms_per_query"] = round(
                1000.0 * (dt - prev_t) / (n_q - prev_q), 3
            )
        prev_q, prev_t = n_q, dt
        out["fleet"][str(n_q)] = rec
        print(f"# {n_q}q: {rec}", file=sys.stderr)

    # partitioner hit rate: 200 equality-filtered queries, half on
    # event_type values that exist in the batch, half on values that
    # cannot exist -> expect ~50% pruned and a visibly cheaper batch
    present = [
        r[0]
        for r in batch.select("event_type").distinct().limit(5).collect()
    ]
    n_eq = 200
    bqls = []
    for i in range(n_eq):
        et = present[i % len(present)] if i % 2 == 0 else f"__absent_{i}"
        bqls.append(
            "SELECT COUNT(*) AS cnt FROM STREAM(600000, TIME) "
            f"WHERE event_type = '{et}'"
        )
    for enabled in (False, True):
        engine = StreamingEngine(
            spark,
            clock=frozen,
            enable_query_partitioner=enabled,
        )
        for i, b in enumerate(bqls):
            engine.submit(f"eq-{enabled}-{i}", parse(b))
        engine.process_batch(batch)  # warm
        pruned0 = engine.queries_pruned
        dt, runs = steady(lambda: engine.process_batch(batch))
        batches = len(runs)
        key = "eq_fleet_partitioner_on" if enabled else "eq_fleet_partitioner_off"
        out[key] = {
            "n_queries": n_eq,
            "steady_batch_s": round(dt, 3),
            "runs": [round(r, 3) for r in runs],
            "pruned_per_batch": (
                round((engine.queries_pruned - pruned0) / batches, 1)
                if enabled
                else 0
            ),
        }
        print(f"# {key}: {out[key]}", file=sys.stderr)
    if out["eq_fleet_partitioner_on"].get("pruned_per_batch"):
        out["partitioner_hit_rate"] = round(
            out["eq_fleet_partitioner_on"]["pruned_per_batch"] / n_eq, 3
        )

    batch.unpersist()
    out["raw_crossover"] = raw_crossover(spark)
    out["batch_shuffle"] = batch_shuffle(spark)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
