"""StreamingEngine — one always-on loop evaluating every live query per
micro-batch (the SURVEY.md §3 'Spark lifecycle mapping').

Dataflow per batch (reference parity, FilterBolt.java:148-175 +
JoinBolt.java:130-259):

  1. drain the control channel (QuerySpout): submissions + signals
  2. for each active query: filter -> project the batch (raw-name filter
     semantics), compute the bounded partial aggregate IN SPARK, merge into
     the query's driver-side state
  3. lifecycle tick: RAW-full -> done; duration expired -> done; rate limit
     exceeded -> FAIL with partial result; window closed -> emit + reset
  4. emit Clips (records + metadata: query id, receive/finish time, window
     number, signal) to the result sink (ResultBolt)

Windows (SURVEY.md §2.5):
  * None        -> single final emission when done
  * TumblingWindow(ms)      -> emit + reset when the window elapses
    (processing-time, batch-tick resolution — the micro-batch trigger IS
    the reference's 100 ms tick clock)
  * SlidingRecordWindow(n)  -> emit + reset every n records consumed

The batch work stays fully distributed (Catalyst plans each query's
filter+partial-agg over the batch); only bounded partial tables reach the
driver — the same wire discipline as FilterBolt->JoinBolt sketch bytes.
Scale note: with N concurrent queries the shared-scan multiplexer
(streaming/multiquery.py) folds every aggregation family into one job per
distinct grouping column set, RAW fleets into one mapInPandas pass per 64
members, and QUANTILE fleets into one KLL-partial pass per 16; the
query-predicate partitioner (streaming/partitioner.py) prunes
provably-non-matching queries before any job runs. Batch caching
amortizes whatever remains per-query.
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from bullet_storm_spark.clip import (
    Clip,
    ERRORS_KEY,
    QUERY_FINISH_TIME_KEY,
    QUERY_ID_KEY,
    QUERY_RECEIVE_TIME_KEY,
    SIGNAL_KEY,
    WINDOW_NUMBER_KEY,
)
from bullet_storm_spark.plans.query import (
    Query,
    SlidingRecordWindow,
    TumblingWindow,
)
from bullet_storm_spark.streaming.registry import (
    ControlChannel,
    PubSubMessage,
    QueryRegistry,
    QueryStatus,
    Signal,
)

ResultHandler = Callable[[str, Clip], None]


class StreamingEngine:
    def __init__(
        self,
        spark: SparkSession,
        registry: QueryRegistry | None = None,
        channel: ControlChannel | None = None,
        clock: Callable[[], float] = time.time,
        rate_limit_records_per_s: int | None = None,
        cache_batches: bool = True,
        config: "EngineConfig | None" = None,
        enable_query_partitioner: bool = False,
        enable_shared_scan: bool = True,
    ) -> None:
        from bullet_storm_spark.config import EngineConfig

        self.spark = spark
        self.clock = clock
        self.config = config or EngineConfig()
        self.registry = registry or QueryRegistry(
            clock=clock, max_duration_ms=self.config.max_query_duration_ms
        )
        self.channel = channel or ControlChannel()
        self.rate_limit = (
            rate_limit_records_per_s
            if rate_limit_records_per_s is not None
            else self.config.rate_limit_records_per_s
        )
        self.cache_batches = cache_batches
        self.enable_query_partitioner = enable_query_partitioner
        self.enable_shared_scan = enable_shared_scan
        self.queries_pruned = 0  # partitioner effectiveness counter
        self.shared_scan_queries = 0  # queries served by shared-scan jobs
        self.batches_processed = 0
        self.batch_jobs = 0  # Spark jobs the last batch's partials ran
        self.results: list[tuple[str, Clip]] = []  # in-memory ResultBolt
        self.result_handlers: list[ResultHandler] = []
        self._query = None  # live StreamingQuery when attached
        from bullet_storm_spark.streaming.metrics import EngineMetrics

        self.metrics = EngineMetrics()
        self._listener = None  # Spark listener bridge once attached
        # concurrent job-submission width: each per-query/chunk partial is
        # a tiny job (AQE coalesces its shuffle), so the binding cost is
        # submission round-trips, not cores — measured on local[32]:
        # 100-query batch 4.9s at width 8, 3.0s at width 24
        try:
            cores = spark.sparkContext.defaultParallelism
        except Exception:  # pragma: no cover - no context yet
            cores = 8
        self.job_pool_width = max(8, cores - 8)
        # shared-scan plan cache: ChunkPlans are batch-independent Column
        # trees, and rebuilding them per micro-batch cost ~1.5 s/batch at
        # 100 queries (more than the jobs themselves). Keyed on the exact
        # member objects in order; any fleet change rebuilds. RAW members
        # cache SEPARATELY: RAW queries fill and COMPLETE by design
        # (often one per batch), and keying one cache on the whole fleet
        # made every RAW completion re-plan the (stable) aggregation
        # fleet too — measured 2.3 s/batch on the 100-query bench mix vs
        # 0.5 s once split (r10).
        self._chunk_cache_key: tuple | None = None
        self._chunk_cache = None
        self._raw_chunk_cache_key: tuple | None = None
        self._raw_chunk_cache = None
        # bound-DataFrame cache (multiquery.shared_partials): chunk plans
        # attached to a concrete batch frame. Hits when a stable fleet
        # replays one frame (bench/tests/replay); a fresh foreachBatch
        # frame misses by key and rebinds. Invalidated with the plan
        # caches above.
        self._bound_cache: dict = {}

    def add_metrics_consumer(self, consumer) -> None:
        """Register a pluggable metrics consumer (BulletMetrics analogue,
        reference ReflectionUtils.java:52-99): a callable
        (name, key_or_None, delta) invoked on every counter increment."""
        self.metrics.add_consumer(consumer)

    # -- control plane -------------------------------------------------------

    def submit(self, query_id: str, query: Query) -> None:
        self.channel.submit(query_id, query)

    def kill(self, query_id: str) -> None:
        self.channel.signal(query_id, Signal.KILL)

    def on_result(self, handler: ResultHandler) -> None:
        self.result_handlers.append(handler)

    def _emit(self, query_id: str, clip: Clip) -> None:
        self.results.append((query_id, clip))
        for handler in self.result_handlers:
            handler(query_id, clip)

    def _drain_control(self) -> None:
        from bullet_storm_spark.streaming import metrics as M

        for msg in self.channel.drain():
            if msg.signal in (Signal.KILL, Signal.COMPLETE):
                rq = self.registry.remove(
                    msg.id,
                    QueryStatus.KILLED if msg.signal == Signal.KILL else QueryStatus.DONE,
                )
                if rq is not None:
                    if msg.signal == Signal.KILL:
                        self.metrics.increment(M.QUERIES_KILLED)
                    else:
                        self.metrics.increment(M.QUERIES_COMPLETED)
                    self._emit(
                        msg.id,
                        Clip.of([], **self._meta(rq, signal=msg.signal.value)),
                    )
            elif msg.content is not None:
                cap = self.config.max_concurrent_queries
                if cap is not None and len(self.registry.queries) >= cap:
                    self.metrics.increment(M.QUERIES_IMPROPER)
                    self._emit(
                        msg.id,
                        Clip.error(
                            msg.id,
                            [f"engine at max concurrent queries ({cap})"],
                        ),
                    )
                    continue
                errors = self.config.validate_query(msg.content)
                if errors:
                    # init-error path: FAIL clip with error metadata
                    # (JoinBolt.java:261-268,304-306)
                    self.metrics.increment(M.QUERIES_IMPROPER)
                    self._emit(msg.id, Clip.error(msg.id, errors))
                    continue
                if self.registry.submit(msg.id, msg.content) is not None:
                    self.metrics.increment(M.QUERIES_CREATED)
                else:
                    self.metrics.increment(M.QUERIES_DUPLICATED)

    # -- data plane ----------------------------------------------------------

    def _meta(self, rq, signal: str | None = None, windowed: bool = False) -> dict:
        if not self.config.result_meta_enable:
            # metadata disabled: signals still flow (control correctness),
            # enrichment concepts are dropped (RESULT_METADATA_ENABLE=false)
            return {SIGNAL_KEY: signal} if signal is not None else {}
        meta: dict[str, Any] = {
            QUERY_ID_KEY: rq.id,
            QUERY_RECEIVE_TIME_KEY: rq.receive_time_ms,
        }
        if windowed:
            meta[WINDOW_NUMBER_KEY] = rq.window_number
        if signal is not None:
            meta[SIGNAL_KEY] = signal
            if signal in (Signal.COMPLETE.value, Signal.FAIL.value, Signal.KILL.value):
                meta[QUERY_FINISH_TIME_KEY] = int(self.clock() * 1000)
        remap = self.config.result_meta_keys
        if remap:
            meta = {remap.get(k, k): v for k, v in meta.items()}
        return meta

    def _finish(self, rq, signal: Signal, errors: list | None = None) -> None:
        from bullet_storm_spark.streaming import metrics as M

        self.registry.remove(
            rq.id,
            QueryStatus.FAILED if signal == Signal.FAIL else QueryStatus.DONE,
        )
        self.metrics.increment(
            M.QUERIES_FAILED if signal == Signal.FAIL else M.QUERIES_COMPLETED
        )
        clip = Clip.of(rq.state.result(), **self._meta(rq, signal=signal.value))
        if errors:
            clip.add_meta(**{ERRORS_KEY: errors})
        self._emit(rq.id, clip)

    def _window_tick(self, rq, now_ms: int) -> None:
        """Emit + reset on window close (JoinBolt.java:252-259 emitWindow)."""
        win = rq.query.window
        if isinstance(win, TumblingWindow):
            if rq.last_window_close_ms == 0:
                rq.last_window_close_ms = rq.receive_time_ms
            if now_ms - rq.last_window_close_ms >= win.emit_every_ms:
                rq.window_number += 1
                self._emit(
                    rq.id,
                    Clip.of(rq.state.result(), **self._meta(rq, windowed=True)),
                )
                if not win.include_all:  # include=ALL -> additive window
                    rq.state.reset()
                rq.last_window_close_ms = now_ms
        elif isinstance(win, SlidingRecordWindow):
            from bullet_storm_spark.streaming.state import RawState

            if isinstance(rq.state, RawState):
                # RAW record windows emit exactly emit_every records per
                # window (RECORD,1 -> one emit per record consumed,
                # FilterBoltTest.java:396-411; batch granularity here)
                while len(rq.state.records) >= win.emit_every:
                    chunk = rq.state.records[: win.emit_every]
                    rq.state.records = rq.state.records[win.emit_every :]
                    rq.window_number += 1
                    self._emit(
                        rq.id, Clip.of(chunk, **self._meta(rq, windowed=True))
                    )
                    rq.window_record_marker += win.emit_every
            else:
                # aggregate record windows: emit + reset at each n-record
                # boundary (batch-granular: a batch spanning k boundaries
                # closes k windows, later ones empty)
                while rq.records_consumed - rq.window_record_marker >= win.emit_every:
                    rq.window_number += 1
                    self._emit(
                        rq.id,
                        Clip.of(rq.state.result(), **self._meta(rq, windowed=True)),
                    )
                    if not win.include_all:
                        rq.state.reset()
                    rq.window_record_marker += win.emit_every

    def _compute_partial(self, rq, cached: DataFrame):
        """Filter -> project -> bounded partial aggregate for one query over
        the batch. Pure Spark job; safe to run concurrently across queries
        (the Spark scheduler interleaves jobs; FAIR mode recommended for
        many live queries)."""
        q = rq.query
        df = cached
        if q.filter is not None:
            df = df.where(q.filter.to_column())
        if q.projection.fields is not None:
            df = df.select(
                *[f.expression.to_column().alias(f.name) for f in q.projection.fields]
            )
        return [r.asDict() for r in rq.state.partial(df).collect()]

    def process_batch(
        self, batch_df: DataFrame, batch_id: int = 0, source: str | None = None
    ) -> None:
        """The foreachBatch body. Also the deterministic test surface —
        exactly how the reference tests drive bolts with hand-built tuples.

        ``source`` names the stream this batch came from (multi-stream
        topologies attach one engine to several streams): only queries whose
        Query.source matches consume the batch; everyone's window/duration
        lifecycle still advances. ``source=None`` (the reference's
        single-stream model) feeds every live query.

        With multiple live queries the per-query partial jobs are submitted
        from a thread pool so Spark schedules them concurrently over the
        (cached) batch — the multi-query multiplexing the reference got from
        independent bolts (SURVEY.md §7.3 known-hard #1); state merge and
        lifecycle stay single-threaded in stable submission order."""
        self._drain_control()
        self.batches_processed += 1
        from bullet_storm_spark.streaming import metrics as M

        self.metrics.increment(M.BATCHES_PROCESSED)
        active = self.registry.active()
        now_ms = int(self.clock() * 1000)
        self.batch_jobs = 0
        if len(active) < 2:
            # fleet shrank below any possible shareable threshold: drop
            # the cached ChunkPlans so retired queries' state can be
            # collected (the later shared-scan check also clears this,
            # but never runs when the batch short-circuits here)
            self._drop_shared_plans()
        if not active:
            return
        if source is not None:
            lifecycle_only = [rq for rq in active if rq.query.source != source]
            active = [rq for rq in active if rq.query.source == source]
            for rq in lifecycle_only:
                self._window_tick(rq, now_ms)
                if rq.is_expired(now_ms):
                    self._finish(rq, Signal.COMPLETE)
            if not active:
                return
        # query-predicate partitioner (QueryManager.categorize analogue,
        # SURVEY.md §4 row 1): one stats job over the batch prunes queries
        # whose equality filter provably cannot match. Pruned queries skip
        # the scan only — their window/duration lifecycle still advances.
        scan = active
        if self.enable_query_partitioner and len(active) > 1:
            from bullet_storm_spark.streaming.partitioner import BatchPartitioner

            part = BatchPartitioner(active)
            if part.fields:
                values = part.batch_values(batch_df)
                scan = [rq for rq in active if part.should_scan(rq.id, values)]
                self.queries_pruned += len(active) - len(scan)
        # shared scan (multiquery.py): collapse shareable queries into one
        # job per distinct grouping column set; the rest run per-query
        shared: list = []
        if self.enable_shared_scan and len(scan) > 1:
            from bullet_storm_spark.streaming.multiquery import is_shareable

            shared = [rq for rq in scan if is_shareable(rq)]
            if len(shared) < 2:
                shared = []
            else:
                scan = [rq for rq in scan if rq not in shared]
        chunks: list = []
        if not shared:
            # fleet shrank below the shareable threshold: drop the cached
            # plans so the retired queries' RunningQuery objects (and their
            # accumulated state) can be collected
            self._drop_shared_plans()
        else:
            try:
                chunks = self._shared_chunks(shared)
            except Exception:
                # planning failure (e.g. one member's plan is broken): run
                # the fleet on the fault-isolated per-query path so only
                # the offender FAILs
                self._drop_shared_plans()
                scan, shared = scan + shared, []
        # the Spark jobs that will read the batch: one per per-query
        # partial, one per shared chunk
        self.batch_jobs = len(scan) + len(chunks)
        # persist the batch only if the caller hasn't already: a pre-
        # normalized, pre-persisted batch (bench.py, replayed batches)
        # passes straight through, while a fresh foreachBatch frame is
        # persisted for the multi-job fan-out and ALWAYS unpersisted after
        # — cache() returns self in PySpark, so the old `cached is not
        # batch_df` guard never fired and every micro-batch's cache entry
        # leaked for the life of the stream
        we_persisted = False
        if (
            self.cache_batches
            and self.batch_jobs > 1
            and not getattr(batch_df, "is_cached", False)
        ):
            batch_df.persist()
            we_persisted = True
        cached = batch_df
        try:
            failed: dict[str, str] = {}

            def safe_partial(rq):
                # per-query fault isolation: a broken plan FAILs that query
                # only (JoinBolt error path, JoinBolt.java:261-268) — the
                # rest of the batch proceeds
                try:
                    return self._compute_partial(rq, cached)
                except Exception as e:  # noqa: BLE001
                    failed[rq.id] = str(e)[:500]
                    return None

            if len(scan) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(len(scan), self.job_pool_width)
                ) as pool:
                    partials = dict(
                        zip([rq.id for rq in scan], pool.map(safe_partial, scan))
                    )
            elif scan:
                partials = {scan[0].id: safe_partial(scan[0])}
            else:
                partials = {}
            partials = {k: v for k, v in partials.items() if v is not None}
            if shared:
                from bullet_storm_spark.streaming.multiquery import (
                    shared_partials,
                )

                try:
                    for qid, rows in shared_partials(
                        cached,
                        shared,
                        pool_width=self.job_pool_width,
                        chunks=chunks,
                        bound_cache=self._bound_cache,
                    ).items():
                        partials[qid] = rows
                    self.shared_scan_queries += len(shared)
                except Exception:
                    # execution failure: fall back to the fault-isolated
                    # per-query path so only the offender FAILs; drop the
                    # cached plans so the next batch re-plans from scratch
                    self._drop_shared_plans()
                    for rq in shared:
                        out = safe_partial(rq)
                        if out is not None:
                            partials[rq.id] = out
            for rq in list(active):
                if rq.id in failed:
                    self.registry.remove(rq.id, QueryStatus.FAILED)
                    self._emit(rq.id, Clip.error(rq.id, [failed[rq.id]]))
                    active = [a for a in active if a.id != rq.id]
            for rq in active:
                if rq.id in partials:
                    partial_rows = partials[rq.id]
                    # record-consumption accounting rides the partial job
                    # itself (state.consumed reads count columns the
                    # partial already computed — never an extra job)
                    rq.state.merge(partial_rows)
                    consumed = rq.state.consumed(partial_rows)
                    rq.records_consumed += consumed
                    if consumed:
                        from bullet_storm_spark.streaming import metrics as M

                        self.metrics.increment(M.RECORDS_CONSUMED, consumed)

                # rate limiting (JoinBolt.java:159-160,194-208): FAIL with
                # partial results + a structured RateLimitError object in
                # the Clip meta (FilterBolt.java:111,191-193 error stream)
                if self.rate_limit is not None:
                    elapsed_s = max((now_ms - rq.receive_time_ms) / 1000.0, 0.001)
                    rate = rq.records_consumed / elapsed_s
                    if rate > self.rate_limit:
                        from bullet_storm_spark.streaming import metrics as M

                        self.metrics.increment(M.QUERIES_RATE_EXCEEDED)
                        self._finish(
                            rq,
                            Signal.FAIL,
                            errors=[
                                {
                                    "error": (
                                        "Query exceeded the maximum record "
                                        f"rate: {rate:.1f} records/s > "
                                        f"{self.rate_limit} records/s limit"
                                    ),
                                    "resolutions": [
                                        "Make the query filter more selective",
                                        "Raise rate_limit_records_per_s",
                                    ],
                                }
                            ],
                        )
                        continue

                # early termination: RAW full (FilterBoltTest.java:712-738)
                if rq.state.is_full() and rq.query.window is None:
                    self._finish(rq, Signal.COMPLETE)
                    continue

                self._window_tick(rq, now_ms)

                if rq.is_expired(now_ms):
                    self._finish(rq, Signal.COMPLETE)
        finally:
            if we_persisted:
                batch_df.unpersist()

    def _drop_shared_plans(self) -> None:
        self._chunk_cache_key = None
        self._chunk_cache = None
        self._raw_chunk_cache_key = None
        self._raw_chunk_cache = None
        self._bound_cache.clear()

    def _shared_chunks(self, shared: list) -> list:
        """The shared fleet's chunk plans (RAW passes first), from the plan
        caches; a cache rebuilds only when its half of the fleet changed."""
        from bullet_storm_spark.streaming.multiquery import (
            plan_chunks,
            plan_raw_chunks,
            split_fleet,
        )

        # the one split definition (multiquery.split_fleet) keys BOTH
        # caches, so the cache layout can't drift from the planner's own
        # split
        raw_fleet, agg_fleet = split_fleet(shared)
        key = tuple((rq.id, id(rq)) for rq in agg_fleet)
        if key != self._chunk_cache_key:
            self._chunk_cache = plan_chunks(agg_fleet)
            self._chunk_cache_key = key
        raw_key = tuple((rq.id, id(rq)) for rq in raw_fleet)
        if raw_key != self._raw_chunk_cache_key:
            # RAW members fill and COMPLETE by design, often a few per
            # batch — rebuilding the plan (and its bound frame) on every
            # completion kept the bench fleet in permanent plan churn
            # (~0.8 s/batch, r12). A fleet that only SHRANK keeps the
            # cached plan: completed members' rows are skipped at collect
            # time (room = 0) and ignored by the active-query merge, so
            # results are identical. Rebuild on NEW members, or once live
            # members drop below half the plan (dead flag columns still
            # evaluate JVM-side — bounded waste).
            cached_ids = {
                (rq.id, id(rq))
                for cp in (self._raw_chunk_cache or [])
                for rq in cp.rqs
            }
            live = set(raw_key)
            if (
                self._raw_chunk_cache is None
                or not live <= cached_ids
                or len(live) * 2 < len(cached_ids)
            ):
                self._raw_chunk_cache = plan_raw_chunks(raw_fleet)
            self._raw_chunk_cache_key = raw_key
        return self._raw_chunk_cache + self._chunk_cache

    def stats(self) -> dict[str, Any]:
        """Engine statistics — the FilterBolt periodic stats report
        (M/FilterBolt.java:153-158,177-185) as a pull-based surface."""
        return {
            "active_queries": len(self.registry.active()),
            "batches_processed": self.batches_processed,
            "results_emitted": len(self.results),
            "duplicates_ignored": self.registry.duplicates_ignored,
            "queries_pruned": self.queries_pruned,
            "shared_scan_queries": self.shared_scan_queries,
            "batch_jobs": self.batch_jobs,
            "records_consumed": sum(
                rq.records_consumed for rq in self.registry.queries.values()
            ),
            "metrics": self.metrics.snapshot(),
        }

    def shutdown(self) -> None:
        """Graceful engine shutdown: stop the attached stream (if any) and
        finish every live query with its current result and a COMPLETE
        signal — no in-flight work is dropped on topology teardown."""
        if self._query is not None:
            try:
                self._query.stop()
            except Exception:
                pass
            self._query = None
        if self._listener is not None:
            try:
                self.spark.streams.removeListener(self._listener)
            except Exception:
                pass
            self._listener = None
        self._drain_control()
        for rq in list(self.registry.active()):
            self._finish(rq, Signal.COMPLETE)

    def tick(self) -> None:
        """Clock-only tick with no data (TickSpout analogue): advances
        window/duration lifecycle between batches."""
        self._drain_control()
        now_ms = int(self.clock() * 1000)
        for rq in list(self.registry.active()):
            self._window_tick(rq, now_ms)
            if rq.is_expired(now_ms):
                self._finish(rq, Signal.COMPLETE)

    # -- structured-streaming attachment --------------------------------------

    def attach(
        self,
        stream_df: DataFrame,
        trigger_ms: int = 100,
        checkpoint_dir: str | None = None,
        source: str | None = None,
    ):
        """Run the engine over a streaming DataFrame via foreachBatch. The
        trigger interval is the engine clock (reference tick = 100 ms,
        bullet_storm_defaults.yaml:143-148). Pass ``source`` when attaching
        several streams to one engine — queries bind to their
        Query.source."""
        if self._listener is None:
            # bridge Spark's own streaming telemetry (input rows, batch
            # durations, lifecycle) into the pluggable metrics fan-out
            from bullet_storm_spark.streaming.metrics import make_listener_bridge

            self._listener = make_listener_bridge(self.metrics)
            self.spark.streams.addListener(self._listener)
        writer = (
            stream_df.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid, source=source)
            )
            .trigger(processingTime=f"{trigger_ms} milliseconds")
            .outputMode("append")
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        self._query = writer.start()
        return self._query
