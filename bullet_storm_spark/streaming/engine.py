"""StreamingEngine — one always-on loop evaluating every live query per
micro-batch (the SURVEY.md §3 'Spark lifecycle mapping').

Dataflow per batch (reference parity, FilterBolt.java:148-175 +
JoinBolt.java:130-259):

  1. drain the control channel (QuerySpout): submissions + signals
  2. compute every active query's bounded partial IN SPARK with the
     shared-scan planner (filter -> project -> aggregate, raw-name filter
     semantics; a lone query is a fleet of one), and merge each into its
     query's driver-side state
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

The batch work stays fully distributed (Catalyst plans every query's
filter+partial-agg over the batch); only bounded partial tables reach the
driver — the same wire discipline as FilterBolt->JoinBolt sketch bytes.
The shared-scan planner (streaming/multiquery.py) folds every aggregation
family into one job per distinct grouping column set, RAW fleets of up to
multiquery.RAW_LIMIT_JOBS_MAX members into one concurrent limit job per
member and larger RAW fleets into one mapInPandas pass per 64 members, and
QUANTILE fleets into one KLL-partial pass per 16; the query-predicate
partitioner (streaming/partitioner.py) prunes provably-non-matching
queries before any job runs. A batch below the "batch_shuffle" scale gate
is coalesced to one partition, so each job is one task and every
aggregation plans without an exchange; a larger batch (or one whose size
is unknown) keeps its partitions and is persisted when more than one job
reads it.
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
from bullet_storm_spark.operators.common import scale_gate
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
        config: "EngineConfig | None" = None,
        enable_query_partitioner: bool = False,
    ) -> None:
        from bullet_storm_spark.config import EngineConfig

        self.spark = spark
        self.clock = clock
        self.config = config or EngineConfig()
        self.registry = registry or QueryRegistry(
            clock=clock, max_duration_ms=self.config.max_query_duration_ms
        )
        self.channel = channel or ControlChannel()
        self.enable_query_partitioner = enable_query_partitioner
        self.queries_pruned = 0  # partitioner effectiveness counter
        self.shared_scan_queries = 0  # queries the batch scans served
        self.batches_processed = 0
        self.batch_jobs = 0  # Spark jobs the last batch's partials ran
        self.results: list[tuple[str, Clip]] = []  # in-memory ResultBolt
        self.result_handlers: list[ResultHandler] = []
        self._query = None  # live StreamingQuery when attached
        from bullet_storm_spark.streaming.metrics import EngineMetrics

        self.metrics = EngineMetrics()
        self._listener = None  # Spark listener bridge once attached
        # concurrent job-submission width: each chunk partial is a tiny
        # job (one task on a small batch; AQE coalesces a large batch's
        # shuffle), so the binding cost is submission round-trips, not
        # cores — measured on local[32]: 100-query batch 4.9s at width 8,
        # 3.0s at width 24
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

    def _fail(self, rq, error: str) -> None:
        """FAIL a query whose plan or merge raised (JoinBolt error path,
        JoinBolt.java:261-268); the rest of the batch proceeds."""
        from bullet_storm_spark.streaming import metrics as M

        self.registry.remove(rq.id, QueryStatus.FAILED)
        self.metrics.increment(M.QUERIES_FAILED)
        self._emit(rq.id, Clip.error(rq.id, [error]))

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

        Every scanned query's partial comes from the shared-scan planner,
        whose chunk jobs Spark runs concurrently over the batch — the
        multi-query multiplexing the reference got from independent bolts
        (SURVEY.md §7.3 known-hard #1); state merge and lifecycle stay
        single-threaded in stable submission order."""
        self._drain_control()
        self.batches_processed += 1
        from bullet_storm_spark.streaming import metrics as M

        self.metrics.increment(M.BATCHES_PROCESSED)
        active = self.registry.active()
        now_ms = int(self.clock() * 1000)
        self.batch_jobs = 0
        if not active:
            # drop the cached plans so retired queries' state can be
            # collected
            self._drop_shared_plans()
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
        # one partition-shape decision per batch, before any job reads it:
        # a batch below the "batch_shuffle" gate runs every job as ONE task
        # (one partition satisfies every aggregation's distribution, so no
        # exchange) and is never persisted; a larger or unsized batch keeps
        # its partitions, its shuffles and the multi-reader persist below
        small = not scale_gate("batch_shuffle", batch_df)
        if small:
            batch_df = batch_df.coalesce(1)
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
        try:
            chunks = self._shared_chunks(scan)
        except Exception:  # noqa: BLE001 - each member re-plans alone below
            self._drop_shared_plans()
            chunks = None
        # the Spark jobs that will read the batch: one per chunk (the
        # fault-isolated rerun below plans at least one per query)
        self.batch_jobs = len(scan) if chunks is None else len(chunks)
        # persist a large batch that several jobs read, unless the caller
        # already has (bench.py, replayed batches); a fresh foreachBatch
        # frame persisted here is ALWAYS unpersisted after. A small batch is
        # one task per job, cheaper to re-scan than to cache.
        cached = getattr(batch_df, "is_cached", False)
        we_persisted = not small and self.batch_jobs > 1 and not cached
        if we_persisted:
            batch_df.persist()
        try:
            from bullet_storm_spark.streaming.multiquery import shared_partials

            failed: dict[str, str] = {}
            partials: dict = {}
            if chunks is not None:
                try:
                    partials = shared_partials(
                        batch_df,
                        scan,
                        pool_width=self.job_pool_width,
                        chunks=chunks,
                    )
                except Exception:  # noqa: BLE001 - each member reruns alone
                    self._drop_shared_plans()
                    chunks = None
            if chunks is None:
                # planning or a shared job raised: rerun each member as a
                # fleet of one, so only the offender FAILs (JoinBolt error
                # path, JoinBolt.java:261-268)
                for rq in scan:
                    try:
                        partials.update(shared_partials(batch_df, [rq]))
                    except Exception as e:  # noqa: BLE001
                        failed[rq.id] = str(e)[:500]
            self.shared_scan_queries += len(scan)
            for rq in active:
                if rq.id not in partials:
                    continue
                partial_rows = partials[rq.id]
                # record-consumption accounting rides the partial job
                # itself (state.consumed reads count columns the partial
                # already computed — never an extra job)
                try:
                    rq.state.merge(partial_rows)
                    consumed = rq.state.consumed(partial_rows)
                except Exception as e:  # noqa: BLE001
                    # a partial the state cannot fold (e.g. a nested-type
                    # GROUP BY key: Arrow has no hash kernel for it) FAILs
                    # that query only, like a broken plan
                    failed[rq.id] = str(e)[:500]
                    continue
                rq.records_consumed += consumed
                if consumed:
                    self.metrics.increment(M.RECORDS_CONSUMED, consumed)
            for rq in active:
                if rq.id in failed:
                    self._fail(rq, failed[rq.id])
            active = [rq for rq in active if rq.id not in failed]
            rate_limit = self.config.rate_limit_records_per_s
            for rq in active:
                # rate limiting (JoinBolt.java:159-160,194-208): FAIL with
                # partial results + a structured RateLimitError object in
                # the Clip meta (FilterBolt.java:111,191-193 error stream)
                if rate_limit is not None:
                    elapsed_s = max((now_ms - rq.receive_time_ms) / 1000.0, 0.001)
                    rate = rq.records_consumed / elapsed_s
                    if rate > rate_limit:
                        self.metrics.increment(M.QUERIES_RATE_EXCEEDED)
                        self._finish(
                            rq,
                            Signal.FAIL,
                            errors=[
                                {
                                    "error": (
                                        "Query exceeded the maximum record "
                                        f"rate: {rate:.1f} records/s > "
                                        f"{rate_limit} records/s limit"
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

    def _shared_chunks(self, fleet: list) -> list:
        """The fleet's chunk plans (RAW passes first), from the plan caches;
        a cache re-plans only when its half of the fleet changed, and a
        RAW pass fleet that only shrank keeps its passes
        (``multiquery.plan_raw_chunks``)."""
        from bullet_storm_spark.streaming.multiquery import (
            plan_chunks,
            plan_raw_chunks,
            split_fleet,
        )

        # the one split definition (multiquery.split_fleet) keys BOTH
        # caches, so the cache layout can't drift from the planner's own
        # split
        raw_fleet, agg_fleet = split_fleet(fleet)
        key = tuple((rq.id, id(rq)) for rq in agg_fleet)
        if key != self._chunk_cache_key:
            self._chunk_cache = plan_chunks(agg_fleet)
            self._chunk_cache_key = key
        raw_key = tuple((rq.id, id(rq)) for rq in raw_fleet)
        if raw_key != self._raw_chunk_cache_key:
            self._raw_chunk_cache = plan_raw_chunks(
                raw_fleet, cached=self._raw_chunk_cache or ()
            )
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
