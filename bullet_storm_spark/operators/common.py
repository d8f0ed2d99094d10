"""Shared helpers for operator lowerings: post-aggregation application and
SQL assembly used by every aggregation type, and the scale gates."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from bullet_storm_spark.plans.expressions import Dialect
from bullet_storm_spark.plans.query import (
    Computation,
    Culling,
    Having,
    OrderBy,
    PostAggregation,
)


def split_post(post: Sequence[PostAggregation]):
    """Post-aggregations are applied in a fixed order:
    HAVING -> COMPUTATION -> CULLING -> ORDER BY (then the aggregation's own
    size cap). bullet-core applies its post-aggregation list in submission
    order; the fixed order covers every combination its BQL can produce and
    keeps the SQL oracle assembly simple."""
    having = [p for p in post if isinstance(p, Having)]
    comp = [p for p in post if isinstance(p, Computation)]
    cull = [p for p in post if isinstance(p, Culling)]
    order = [p for p in post if isinstance(p, OrderBy)]
    return having, comp, cull, order


def apply_post(df: DataFrame, post: Sequence[PostAggregation], limit: int | None) -> DataFrame:
    having, comp, cull, order = split_post(post)
    for h in having:
        df = df.where(h.expression.to_column())
    for c in comp:
        for f in c.fields:
            df = df.withColumn(f.name, f.expression.to_column())
    for c in cull:
        df = df.drop(*c.fields)
    for o in order:
        cols = [
            F.col(name).asc() if asc else F.col(name).desc() for name, asc in o.keys
        ]
        df = df.orderBy(*cols)
    if limit is not None:
        df = df.limit(limit)
    return df


def post_sql(inner: str, post: Sequence[PostAggregation], limit: int | None) -> str:
    """Wrap ``inner`` SQL with the post-aggregation steps (DuckDB dialect).

    Null ordering is pinned to Spark's defaults (ASC -> NULLS FIRST,
    DESC -> NULLS LAST) so LIMIT truncation agrees between engines.
    """
    having, comp, cull, order = split_post(post)
    sql = inner
    for h in having:
        sql = f"SELECT * FROM ({sql}) WHERE {h.expression.to_sql(Dialect.DUCKDB)}"
    for c in comp:
        exprs = ", ".join(
            f"{f.expression.to_sql(Dialect.DUCKDB)} AS {f.name}" for f in c.fields
        )
        sql = f"SELECT *, {exprs} FROM ({sql})"
    for c in cull:
        cols = ", ".join(c.fields)
        sql = f"SELECT * EXCLUDE ({cols}) FROM ({sql})"
    order_clause = ""
    if order:
        keys = []
        for name, asc in order[-1].keys:
            keys.append(f"{name} ASC NULLS FIRST" if asc else f"{name} DESC NULLS LAST")
        order_clause = " ORDER BY " + ", ".join(keys)
    limit_clause = f" LIMIT {limit}" if limit is not None else ""
    if order_clause or limit_clause:
        sql = f"SELECT * FROM ({sql}){order_clause}{limit_clause}"
    return sql


# ---------------------------------------------------------------------------
# Scale gates: branches that pay only past a measured input size
# ---------------------------------------------------------------------------
# Codegen'd JVM code and interpreted per-row code, one task and many,
# one lineage run and a checkpoint: each pair costs differently at
# different sizes, so an operator with such a choice asks scale_gate()
# which branch this frame takes. Both branches return identical rows
# (tests/test_scale_gates.py; batch_shuffle in tests/test_multiquery.py).
# Thresholds are bytes of the optimizer's size estimate, compared with >=
# and read at call time.
SCALE_GATE_MIN_BYTES = {
    # Unrolled fixed-dim vector chains (functions.vectors *_fixed) vs the
    # compact HOF trees. The unrolled chains trade PER-ROW cost (compiled
    # arithmetic instead of interpreted lambda frames) for PER-TASK and
    # PER-ACTION cost: a dim-64 chain is a few thousand Expression nodes
    # that every task Java-deserializes while the driver re-pays physical
    # planning, codegen and task-binary serialization on each action.
    # Measured at sf0.1 (local[32], r11): ~0.1 s tree overhead PER TASK
    # (UI REST executorDeserializeTime: 3.8 s over 37 tasks on
    # embed_cos_histogram_capped, plus 2.3 s GC) against milliseconds of
    # per-row compute — the unrolled form LOST 1.7-2.7x on every
    # bucket-join entry. At >= ~100k rows per task the interpreted HOF
    # walk (~5 us/row for a 64-dim cosine) costs seconds per task and the
    # ledger flips. 32 MB ~ 60k+ 64-dim rows, past the crossover on
    # either side.
    "unroll": 32 << 20,
    # Eager localCheckpoint of a multi-consumer hub (hub_checkpoint) vs
    # re-running its lineage per consumer. The checkpoint costs an extra
    # job, hub serialization and a pipeline barrier, which below this
    # source size exceeds the duplicate lineage it saves (measured r11 at
    # sf0.1: events_acf 0.52 s re-deriving the hourly cells twice vs
    # 0.86 s checkpointing them; text_kn_doc_score 1.67 vs 2.26).
    "hub": 32 << 20,
    # Spreading a scan narrower than the cores before a codegen'd SQL
    # pair sweep (spread_if_narrow). Below this the exchange plus 32-task
    # scheduling costs more than the single-task sweep (measured: the
    # sf0.1 2000-row arm 1.2 s spread vs 0.8 s unspread).
    "spread": 8 << 20,
    # The same spread before an Arrow/BLAS matmul sweep. numpy computes
    # ~100x more dot products per second than the codegen'd SQL chain,
    # so the exchange (which shuffles the whole vector table) overtakes
    # the parallelism it buys far later. Measured at the sf10
    # weak-scaling point (53 MB embeddings, 200k x 64): the SQL
    # brute-force spread WINS 3.5x (2.3-3.7 s vs 7.5-10.1 s) while the
    # Arrow matmul spread LOSES ~15% (9.2-11.5 s unspread vs 9.3-15.1 s
    # spread) — WEAK_SCALING.json gate_crossovers_r12. Parquet row-group
    # splits bound a cluster scan task near 128 MB (~0.3 s of BLAS), so
    # the exchange stays a net loss until per-row work grows.
    "arrow_spread": 1 << 30,
    # A streaming batch's scan partitions kept, shuffled and (read by 2+
    # jobs) persisted vs the batch coalesced to one partition (engine
    # process_batch). One partition satisfies every aggregation's
    # distribution, so each job is one task with no exchange and nothing
    # is cached: 3 jobs per steady_fleet batch instead of 9. Measured
    # (fleet_scale.py batch_shuffle, 4-file batches, local[4], SCALING.md):
    # the 3-job steady_fleet fleet runs faster on one partition at every
    # size up to 47 MB (1496 vs 1983 ms there), but the 1-job wide_groups
    # fleet, which then uses one core, wins only up to 4.2 MB (167 vs
    # 182 ms) and loses from 8 MB (222 vs 174). 4 MiB is also Spark's
    # default openCostInBytes, below which a single file is one split.
    "batch_shuffle": 4 << 20,
}

# Long.MaxValue: the estimate an in-memory (LogicalRDD) frame reports
_UNKNOWN_SIZE = (1 << 63) - 1


def scale_gate(name: str, df: DataFrame) -> bool:
    """True when ``df``'s optimizer size estimate (parquet footer stats,
    a driver-side call, never an action) reaches
    ``SCALE_GATE_MIN_BYTES[name]``. An estimate that cannot be read
    counts as Long.MaxValue, as an in-memory frame's already does, so
    unknown means big; forcing the small branch on such a frame takes a
    threshold above Long.MaxValue."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - stats unavailable -> big
        size = _UNKNOWN_SIZE
    return size >= SCALE_GATE_MIN_BYTES[name]


def hub_checkpoint(df: DataFrame, src: DataFrame) -> DataFrame:
    """Size-gated multi-consumer hub materialization (guide §3.3).

    An eager ``localCheckpoint`` replaces N re-runs of the hub's lineage
    with one — the right trade when each re-run re-scans a large source.
    Gated on the SOURCE's size, the thing each extra lineage run would
    re-scan: below the "hub" threshold the frame is returned
    unmaterialized and the optimizer re-derives it. Sites whose hub wins
    at ANY scale (measured: the session-basket and kn-bigram hubs) keep
    an unconditional localCheckpoint instead of this gate."""
    return df.localCheckpoint() if scale_gate("hub", src) else df


def spread_if_narrow(
    base: DataFrame, src: DataFrame, gate: str, *keys: str
) -> DataFrame:
    """``base`` repartitioned to the cores when ``src`` passes ``gate``
    and scans narrower than the cores, else ``base`` itself (guide §2.5
    input skew: a single-file table runs a whole pair sweep in ONE
    task). ``base`` must be a narrow projection of ``src``, so the
    partition count is read from ``src``. The size gate runs first: it
    is a cheap driver-side read, while ``rdd.getNumPartitions()`` pays a
    physical-planning pass of the frame."""
    if scale_gate(gate, src):
        par = src.sparkSession.sparkContext.defaultParallelism
        if src.rdd.getNumPartitions() < par:
            return base.repartition(par, *keys)
    return base


def fmt_point(x: float) -> str:
    """Canonical split-point rendering for DISTRIBUTION range labels,
    identical in both generated programs ('0.0', '50.0', ...)."""
    return repr(float(x))


_US_PER_HOUR = 3_600_000_000


def hourly_cells(df: DataFrame, key_col: str) -> DataFrame:
    """(__key, hour, cnt): per-key hourly event counts DENSIFIED onto
    the key's min..max hour spine (zero hours materialized) — the
    shared first stage of every span-bounded series operator (EWMA,
    changepoint, Theil-Sen, Mann-Kendall, Holt, forecast backtests).
    One corpus collapse; everything downstream is calendar-bounded.
    The spine carries the key's first hour as ``__h0`` so consumers
    needing a relative axis don't re-aggregate."""
    observed = (
        df.select(
            F.col(key_col).alias("__key"),
            # integer div end-to-end (matches the DuckDB twin's `//` and
            # the intervals/forecast convention); double division is only
            # coincidentally exact for current-era epoch-µs magnitudes
            F.expr(f"(ts_ns div 1000) div {_US_PER_HOUR}").alias("hour"),
        )
        .groupBy("__key", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # the observed cells feed TWO consumers (the min/max spine and the
    # densifying join) — materialize the keys × hours frame once so every
    # series operator's event collapse runs once, not twice (guide §3.3;
    # this is the shared first stage of the whole EWMA/changepoint/
    # Theil-Sen/Holt/forecast family). Size-gated: below the "hub" gate
    # the checkpoint job costs more than the second collapse (measured
    # events_acf 0.52 s ungated-small vs 0.86 s checkpointed at sf0.1).
    observed = hub_checkpoint(observed, df)
    spine = (
        observed.groupBy("__key")
        .agg(F.min("hour").alias("__h0"), F.max("hour").alias("__h1"))
        .select(
            "__key",
            "__h0",
            F.explode(F.sequence("__h0", "__h1")).alias("hour"),
        )
    )
    return spine.join(observed, ["__key", "hour"], "left").select(
        "__key",
        "__h0",
        "hour",
        F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
    )


def hourly_cells_sql(table: str, key_col: str) -> str:
    """DuckDB twin of hourly_cells: emits CTEs __obs/__spine/__cells;
    consumers SELECT from __cells (key, h0, hour, cnt)."""
    return f"""__obs AS (
  SELECT {key_col} AS key, epoch_us(ts) // {_US_PER_HOUR} AS hour,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {table} GROUP BY key, hour
),
__spine AS (
  SELECT o.key, o.h0, UNNEST(range(o.h0, o.h1 + 1)) AS hour
  FROM (SELECT key, MIN(hour) AS h0, MAX(hour) AS h1
        FROM __obs GROUP BY key) o
),
__cells AS (
  SELECT s.key, s.h0, s.hour, CAST(COALESCE(o.cnt, 0) AS BIGINT) AS cnt
  FROM __spine s LEFT JOIN __obs o ON s.key = o.key AND s.hour = o.hour
)"""
