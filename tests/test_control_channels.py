"""Out-of-process control plane tests — queries arriving from OUTSIDE the
engine process while the stream runs (the QuerySpout/PubSub contract,
reference QuerySpout.java:113-148)."""

import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

from bullet_storm_spark.clip import SIGNAL_KEY
from bullet_storm_spark.plans.query import Query, Raw
from bullet_storm_spark.streaming import (
    FileControlChannel,
    FileControlClient,
    Signal,
    StreamingEngine,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spool_roundtrip_order_and_kinds(tmp_path):
    spool = str(tmp_path / "spool")
    client = FileControlClient(spool)
    channel = FileControlChannel(spool)
    client.submit("q1", Query(aggregation=Raw(size=3)))  # serde dict
    client.submit("q2", "SELECT COUNT(*) AS cnt FROM STREAM(60000, TIME)")  # BQL
    client.kill("q1")
    msgs = channel.drain()
    assert [m.id for m in msgs] == ["q1", "q2", "q1"]
    assert isinstance(msgs[0].content, Query)
    assert isinstance(msgs[1].content, Query)  # parsed from BQL
    assert msgs[2].signal == Signal.KILL
    assert channel.drain() == []  # consumed exactly once


def test_spool_quarantines_garbage(tmp_path):
    spool = str(tmp_path / "spool")
    channel = FileControlChannel(spool)
    FileControlClient(spool).submit("ok", Query(aggregation=Raw(size=1)))
    with open(os.path.join(spool, "00000000000000000000-000000-1.json"), "w") as f:
        f.write("{not json")
    msgs = channel.drain()
    assert [m.id for m in msgs] == ["ok"]
    assert any(n.endswith(".bad") for n in os.listdir(spool))
    assert channel.drain() == []  # bad file quarantined, not re-read


def test_submit_and_kill_from_separate_process_while_attached(spark, tmp_path):
    """Full service shape: the engine runs attach() over a live stream; a
    SEPARATE OS PROCESS submits a query by dropping a spool file, sees it
    execute, then kills it — no engine object in hand."""
    spool = str(tmp_path / "spool")
    src = str(tmp_path / "stream-src")
    os.makedirs(src)
    engine = StreamingEngine(spark, channel=FileControlChannel(spool))

    base = spark.range(100).select(
        F.col("id").cast("double").alias("value"),
        (F.col("id") % 5).cast("string").alias("event_type"),
    )
    base.write.mode("append").parquet(src)
    stream = spark.readStream.schema(base.schema).parquet(src)
    query = engine.attach(stream, trigger_ms=100)

    def run_client(code: str) -> None:
        subprocess.run(
            [sys.executable, "-c", code],
            check=True,
            env={**os.environ, "PYTHONPATH": REPO},
            cwd=str(tmp_path),  # foreign cwd: catches import assumptions
        )

    try:
        run_client(
            "from bullet_storm_spark.streaming import FileControlClient\n"
            f"FileControlClient({spool!r}).submit('ext1',\n"
            "    'SELECT COUNT(*) AS cnt FROM STREAM(600000, TIME) '\n"
            "    'WINDOWING EVERY(500, TIME)')\n"
        )
        # per-phase deadlines: each phase includes a cold python -c
        # subprocess import of pyspark (~10s loaded) and a 100ms-trigger
        # stream that can fall multi-second behind when another Spark
        # session saturates the machine — generous wall-clock budgets,
        # this is an integration test of ordering, not latency
        deadline = time.time() + 120
        while time.time() > 0 and "ext1" not in engine.registry.queries:
            assert time.time() < deadline, "external submission never arrived"
            base.limit(0).write.mode("append").parquet(src)  # tick
            time.sleep(0.2)
        # wait for a windowed emission that counted rows: a window that
        # closed before the first data file arrived emits [{'cnt': 0}]
        def counted():
            return [
                c
                for i, c in engine.results
                if i == "ext1" and c.records and c.records[0]["cnt"] > 0
            ]

        deadline = time.time() + 120
        while not counted():
            assert time.time() < deadline, "no windowed result emitted"
            base.write.mode("append").parquet(src)
            time.sleep(0.2)
        run_client(
            "from bullet_storm_spark.streaming import FileControlClient\n"
            f"FileControlClient({spool!r}).kill('ext1')\n"
        )
        deadline = time.time() + 120
        while "ext1" in engine.registry.queries:
            assert time.time() < deadline, "external kill never applied"
            base.limit(0).write.mode("append").parquet(src)
            time.sleep(0.2)
    finally:
        query.stop()

    signals = [c.meta.get(SIGNAL_KEY) for i, c in engine.results if i == "ext1"]
    assert signals[-1] == "KILL"
    assert counted()
