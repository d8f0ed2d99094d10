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
   /root/reference src/main/java/com/yahoo/bullet/storm/FilterBolt.java:148-155).

Prints one JSON line; SCALING.md records the series.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bullet_storm_spark import get_spark
from bullet_storm_spark.bql import parse
from bullet_storm_spark.sources.tables import load_table
from bullet_storm_spark.streaming import StreamingEngine

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


def main() -> None:
    spark = get_spark(app_name="bullet-storm-spark-fleet-scale")
    spark.sparkContext.setLogLevel("ERROR")

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
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
