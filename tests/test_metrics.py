"""Pluggable metrics consumers — the BulletMetrics analogue (reference
ReflectionUtils.java:52-99, AbsoluteCountMetric/MapCountMetric): per-query
lifecycle counters fan out to registered consumers, and a
StreamingQueryListener bridge forwards Spark's own streaming telemetry."""

import time

from bullet_storm_spark import Distribution, DistributionType, Query, Raw
from bullet_storm_spark.config import EngineConfig
from bullet_storm_spark.plans.query import TumblingWindow
from bullet_storm_spark.streaming import QueryRegistry, StreamingEngine
from bullet_storm_spark.streaming import metrics as M


class Recorder:
    def __init__(self):
        self.events = []

    def __call__(self, name, key, value):
        self.events.append((name, key, value))

    def total(self, name):
        return sum(v for n, _, v in self.events if n == name)


def _batch(spark, n):
    return spark.createDataFrame([(float(i),) for i in range(n)], "v double")


def test_lifecycle_counters_fan_out(spark):
    clockbox = [1000.0]
    engine = StreamingEngine(
        spark,
        registry=QueryRegistry(clock=lambda: clockbox[0]),
        clock=lambda: clockbox[0],
        config=EngineConfig(rate_limit_records_per_s=100),
    )
    rec = Recorder()
    engine.add_metrics_consumer(rec)

    engine.submit("a", Query(aggregation=Raw(size=3), duration_ms=60_000))
    engine.submit("a", Query(aggregation=Raw(size=3), duration_ms=60_000))  # dup
    engine.submit(
        "bad",
        Query(
            aggregation=Raw(size=3),
            duration_ms=60_000,
            window=TumblingWindow(emit_every_ms=1),  # below floor -> improper
        ),
    )
    engine.process_batch(_batch(spark, 0))  # registers 'a' (drain at batch)
    clockbox[0] += 1.0  # give the rate limiter headroom: 3 records / 1 s
    engine.process_batch(_batch(spark, 3))  # fills 'a' -> COMPLETE
    assert rec.total(M.QUERIES_CREATED) == 1
    assert rec.total(M.QUERIES_DUPLICATED) == 1
    assert rec.total(M.QUERIES_IMPROPER) == 1
    assert rec.total(M.QUERIES_COMPLETED) == 1
    assert rec.total(M.BATCHES_PROCESSED) == 2
    assert rec.total(M.RECORDS_CONSUMED) == 3

    # rate-exceeded: a huge batch right after submission
    engine.submit("rl", Query(aggregation=Raw(size=100_000), duration_ms=60_000))
    clockbox[0] += 0.1
    engine.process_batch(_batch(spark, 5_000))
    assert rec.total(M.QUERIES_RATE_EXCEEDED) == 1
    assert rec.total(M.QUERIES_FAILED) == 1

    # kill path
    engine.submit("k", Query(aggregation=Raw(size=100), duration_ms=60_000))
    engine.kill("k")
    engine.tick()
    assert rec.total(M.QUERIES_KILLED) == 1
    # snapshot mirrors the push totals
    snap = engine.stats()["metrics"]
    assert snap[M.QUERIES_CREATED] == 3 and snap[M.QUERIES_KILLED] == 1


def test_broken_consumer_never_breaks_the_engine(spark):
    engine = StreamingEngine(spark)

    def boom(name, key, value):
        raise RuntimeError("consumer bug")

    engine.add_metrics_consumer(boom)
    engine.submit("q", Query(aggregation=Raw(size=1), duration_ms=60_000))
    engine.process_batch(_batch(spark, 2))
    assert engine.metrics.counts[M.QUERIES_COMPLETED] == 1


def test_spark_listener_bridge_forwards_progress(spark, tmp_path):
    src = str(tmp_path / "src")
    import os

    os.makedirs(src)
    engine = StreamingEngine(spark)
    rec = Recorder()
    engine.add_metrics_consumer(rec)
    engine.submit(
        "q",
        Query(
            aggregation=Distribution(
                field="value", dist_type=DistributionType.QUANTILE, points=[0.5]
            ),
            duration_ms=600_000,
        ),
    )
    base = _batch(spark, 50).withColumnRenamed("v", "value")
    base.write.mode("append").parquet(src)
    stream = spark.readStream.schema(base.schema).parquet(src)
    q = engine.attach(stream, trigger_ms=100)
    try:
        q.processAllAvailable()
        deadline = time.time() + 20
        while rec.total(M.STREAM_INPUT_ROWS) < 50:  # listener events are async
            assert time.time() < deadline, "listener progress never arrived"
            time.sleep(0.2)
    finally:
        engine.shutdown()
    assert rec.total(M.STREAM_INPUT_ROWS) >= 50
    assert any(n == M.STREAM_STARTED for n, _, _ in rec.events)
    assert rec.total(M.RECORDS_CONSUMED) == 50  # engine-side counter agrees
