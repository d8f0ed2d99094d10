"""Engine set-up shared by the streaming tests."""

from bullet_storm_spark.streaming import StreamingEngine


def frozen_clock() -> float:
    # a fixed engine clock keeps every query live for the whole test:
    # EngineConfig clamps each duration to MAX_QUERY_DURATION_MS = 10 s,
    # which a cold JVM can outlive mid-test
    return 1_000.0


def frozen_engine(spark, **kwargs) -> StreamingEngine:
    return StreamingEngine(spark, clock=frozen_clock, **kwargs)


def run_fleet(spark, queries: dict, batches) -> StreamingEngine:
    """A frozen-clock engine that has run every batch over the fleet."""
    engine = frozen_engine(spark)
    for qid, q in queries.items():
        engine.submit(qid, q)
    for b in batches:
        engine.process_batch(b)
    return engine


def live_results(engine: StreamingEngine) -> dict:
    return {qid: rq.state.result() for qid, rq in engine.registry.queries.items()}


def alone_results(spark, queries: dict, batches) -> dict:
    """Each query's live result from an engine that ran it alone."""
    return {
        qid: live_results(run_fleet(spark, {qid: q}, batches))[qid]
        for qid, q in queries.items()
    }
