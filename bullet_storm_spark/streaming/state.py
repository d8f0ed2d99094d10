"""Mergeable per-query aggregation state — the Querier PARTITION/ALL split.

The reference runs every aggregation in two phases: FilterBolt's Querier
consumes records and emits serialized partial state, JoinBolt's Querier
merges partials (/root/reference src/main/java/com/yahoo/bullet/storm/
FilterBolt.java:187-189, JoinBolt.java:154-155; associativity proven by
JoinBoltTest.java:696-735).

Spark translation: the *partial* phase is the shared-scan planner's
(streaming/multiquery.py) Spark jobs over each micro-batch, whether a query
runs alone or in a fleet; what crosses to the driver is one bounded
partial per query per batch — the same wire contract as the reference's
sketch bytes. The *merge* phase runs on the driver, bounded by each
aggregation's size cap exactly like Bullet's sketches bound their state.
Aggregation partials reach the driver as Arrow tables: GROUP ALL / GROUP
BY fold one in with one pyarrow hash aggregation per batch; the other
families' partials are few rows, turned into row dicts and folded in
Python. RAW and QUANTILE partials are collected as Rows.

Each QueryState implements:
  from_arrow(t)-> partial     (merge()'s form of a partial's Arrow table:
                               the table for GroupState, else row dicts)
  merge(rows)  -> None        (fold the partial into state, driver-side)
  result()     -> list[dict]  (current emission, reference output shape)
  reset()      -> None        (window close — Querier.reset analogue)
  is_full()    -> bool        (RAW early-termination contract)
  consumed(p)  -> int         (records the partial's batch consumed)
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import from_arrow_schema

from bullet_storm_spark.operators.distribution import cdf_labels, pmf_labels
from bullet_storm_spark.plans.query import (
    CountDistinct,
    Distribution,
    DistributionType,
    GroupBy,
    GroupOpType,
    Query,
    Raw,
    TopK,
)


# the one NaN an exact COUNT DISTINCT keeps: a set finds an object by
# identity first, and NaN never equals itself
_NAN = float("nan")


def arrow_rows(table: pa.Table) -> list[dict[str, Any]]:
    """The rows as ``Row.asDict()`` gives them."""
    names = table.column_names
    return [dict(zip(names, r)) for r in zip(*map(_pylist, table.columns))]


def _pylist(col: pa.ChunkedArray) -> list:
    # numbers, booleans and strings go through numpy: to_pylist() builds
    # one Arrow scalar per value, several times slower than a Row collect
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return col.to_numpy().tolist()
    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_boolean(t):
        values = pc.fill_null(col, pa.scalar(0).cast(t)).to_numpy().tolist()
        for i in np.flatnonzero(col.is_null().to_numpy()):
            values[i] = None
        return values
    # pyspark's own conversion turns toArrow()'s tz-aware UTC datetimes into
    # the naive local datetimes a Row holds; binary stays bytes, as collect()
    # gives it under spark.sql.execution.pyspark.binaryAsBytes' default
    rows = ArrowTableToRowsConversion.convert(
        pa.table([col], ["v"]),
        from_arrow_schema(pa.schema([("v", t)])),
        return_as_tuples=True,
        binary_as_bytes=True,
    )
    return [r[0] for r in rows]


class QueryState:
    def from_arrow(self, table: pa.Table):
        # the one conversion of an aggregation partial
        return arrow_rows(table)

    def merge(self, rows: list[dict[str, Any]]) -> None:  # pragma: no cover
        raise NotImplementedError

    def result(self) -> list[dict[str, Any]]:  # pragma: no cover
        raise NotImplementedError

    def reset(self) -> None:  # pragma: no cover
        raise NotImplementedError

    def is_full(self) -> bool:
        return False

    def consumed(self, rows: list[dict[str, Any]]) -> int:
        """Records this batch's partial consumed — derived from count
        columns that RIDE the partial job (rate limiting / record-window
        accounting must never cost an extra Spark job per query)."""
        return 0


class RawState(QueryState):
    """Collect up to n records; full -> query done (JoinBoltTest.java:
    340-351; early termination FilterBoltTest.java:712-738)."""

    def __init__(self, agg: Raw):
        self.size = agg.size
        self.records: list[dict[str, Any]] = []

    def merge(self, rows: list[dict[str, Any]]) -> None:
        room = self.size - len(self.records)
        self.records.extend(rows[:room])

    def result(self) -> list[dict[str, Any]]:
        return list(self.records)

    def reset(self) -> None:
        self.records = []

    def is_full(self) -> bool:
        return len(self.records) >= self.size

    def consumed(self, rows: list[dict[str, Any]]) -> int:
        # RAW forwards at most its remaining capacity — shipped rows ARE
        # the consumed records (FilterBolt max-forwarding semantics)
        return len(rows)


class GroupState(QueryState):
    """GROUP ALL / GROUP BY: metrics are merged as (count, sum, min, max)
    partials; AVG derives at result time — numeric-add merge semantics
    exactly like GroupData (JoinBoltTest.java:663-693). The groups are one
    Arrow table in first-seen order, and each partial folds in with one
    hash aggregation."""

    _SUPPORTED = {
        GroupOpType.COUNT,
        GroupOpType.COUNT_FIELD,
        GroupOpType.SUM,
        GroupOpType.MIN,
        GroupOpType.MAX,
        GroupOpType.AVG,
    }
    _COUNTS = (GroupOpType.COUNT, GroupOpType.COUNT_FIELD)

    def __init__(self, agg: GroupBy):
        for op in agg.operations:
            if op.op not in self._SUPPORTED:
                raise ValueError(
                    f"group operation {op.op.name} is batch-only (no "
                    "streaming merge implemented)"
                )
        self.agg = agg
        self.key_aliases = [agg.alias_of(f) for f in agg.fields]
        self.groups: pa.Table | None = None

    def from_arrow(self, table: pa.Table) -> pa.Table:
        return table

    def merge(self, partial: pa.Table) -> None:
        aggs = []
        for i, op in enumerate(self.agg.operations):
            t = op.op
            if t in self._COUNTS:
                aggs.append((f"__c{i}", "sum"))
            elif t in (GroupOpType.SUM, GroupOpType.AVG):
                aggs += [(f"__s{i}", "sum"), (f"__n{i}", "sum")]
            else:
                aggs.append((f"__m{i}", "min" if t == GroupOpType.MIN else "max"))
        cols = {c: partial[c] for c in self.key_aliases + [c for c, _ in aggs]}
        for c, fn in list(aggs):
            if fn in ("min", "max") and pa.types.is_floating(cols[c].type):
                # Arrow's min/max skip NaN where SQL orders it above every
                # number: merge NaN-free, with an any-NaN flag beside
                nan = pc.is_nan(cols[c])
                cols[c] = pc.if_else(nan, None, cols[c])
                cols[f"{c}_nan"] = pc.fill_null(nan, False)
                aggs.append((f"{c}_nan", "any"))
        table = pa.table(cols)
        if self.groups is not None:
            table = pa.concat_tables([self.groups, table], promote_options="default")
        # with use_threads=False groups come out in first-seen order: the
        # slice keeps every existing group and admits new keys in partial
        # row order until the cap (reference caps sketch entries)
        out = table.group_by(self.key_aliases, use_threads=False).aggregate(aggs)
        names = {f"{name}_{fn}": name for name, fn in aggs}
        out = out.rename_columns([names.get(c, c) for c in out.column_names])
        self.groups = out.slice(0, self.agg.size)

    def result(self) -> list[dict[str, Any]]:
        g = self.groups
        if g is None or not g.num_rows:
            # GROUP ALL emits one row even with no data (operator tests)
            ops = self.agg.operations
            row = {op.alias: 0 if op.op in self._COUNTS else None for op in ops}
            return [] if self.agg.fields else [row]
        cols = {a: g[a] for a in self.key_aliases}
        for i, op in enumerate(self.agg.operations):
            t = op.op
            if t in self._COUNTS:
                cols[op.alias] = g[f"__c{i}"]
            elif t == GroupOpType.SUM:
                cols[op.alias] = g[f"__s{i}"]
            elif t == GroupOpType.AVG:
                n = pc.cast(g[f"__n{i}"], pa.float64())
                avg = pc.divide(pc.fill_null(g[f"__s{i}"], 0.0), n)
                cols[op.alias] = pc.if_else(pc.greater(n, 0), avg, None)
            else:
                m = g[f"__m{i}"]
                if f"__m{i}_nan" in g.column_names:
                    nan = g[f"__m{i}_nan"]
                    if t == GroupOpType.MIN:  # NaN only when nothing else
                        nan = pc.and_(nan, pc.is_null(m))
                    m = pc.if_else(nan, pa.scalar(float("nan"), m.type), m)
                cols[op.alias] = m
        return arrow_rows(pa.table(cols))

    def reset(self) -> None:
        self.groups = None

    def consumed(self, partial: pa.Table) -> int:
        return pc.sum(partial["__nrec"]).as_py() or 0


class CountDistinctState(QueryState):
    """Exact: per-batch distinct keys merged into a driver set (matches the
    reference's own small-cardinality exactness tests). Approx: per-batch
    HyperLogLog sketch bytes merged with hll_union — bounded state at any
    cardinality, the Theta-sketch contract (FilterBoltTest.java:680-710)."""

    def __init__(self, agg: CountDistinct):
        self.agg = agg
        self.keys: set = set()
        self.sketch: bytes | None = None

    @staticmethod
    def _session():
        # the session for the tiny sketch-merge jobs
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()

    def merge(self, rows: list[dict[str, Any]]) -> None:
        if self.agg.exact:
            # one collect_set list per partial row (NULL keys never count)
            for r in rows:
                self.keys.update(_NAN if k != k else k for k in r["__ks"] or [])
            return
        for r in rows:
            new = r["__sketch"]
            if new is None:
                continue
            if self.sketch is None:
                self.sketch = bytes(new)
            else:
                merged = self._session().createDataFrame(
                    [(self.sketch, bytes(new))], "a binary, b binary"
                ).select(
                    F.hll_union("a", "b").alias("u")
                ).collect()[0]["u"]
                self.sketch = bytes(merged)

    def result(self) -> list[dict[str, Any]]:
        if self.agg.exact:
            return [{self.agg.name: len(self.keys)}]
        if self.sketch is None:
            return [{self.agg.name: 0}]
        est = self._session().createDataFrame([(self.sketch,)], "s binary").select(
            F.hll_sketch_estimate("s").alias("e")
        ).collect()[0]["e"]
        return [{self.agg.name: int(est)}]

    def reset(self) -> None:
        self.keys = set()
        self.sketch = None

    def consumed(self, rows: list[dict[str, Any]]) -> int:
        return sum(r["__nrec"] or 0 for r in rows)


class TopKState(QueryState):
    """Frequency merge with the frequent-items output shape (stringified
    values, 'null' rendering, count desc — FilterBoltTest.java:788-832).

    agg.sketch_capacity=None -> exact dict (state ∝ distinct keys seen);
    otherwise a SpaceSaving summary bounds state to m counters at any key
    cardinality — the reference's frequent-items-sketch contract."""

    def __init__(self, agg: TopK):
        self.agg = agg
        self.aliases = [agg.alias_of(f) for f in agg.fields]
        self.counts: dict[tuple, int] = {}
        self.sketch = None
        if agg.sketch_capacity is not None:
            from bullet_storm_spark.operators.sketches import SpaceSavingSketch

            self.sketch = SpaceSavingSketch(agg.sketch_capacity)

    def merge(self, rows: list[dict[str, Any]]) -> None:
        for row in rows:
            key = tuple(row[a] for a in self.aliases)
            if self.sketch is not None:
                self.sketch.offer(key, row["__c"])
            else:
                self.counts[key] = self.counts.get(key, 0) + row["__c"]

    def result(self) -> list[dict[str, Any]]:
        if self.sketch is not None:
            out = []
            for key, est, _err in self.sketch.top(self.agg.size, self.agg.threshold):
                row = dict(zip(self.aliases, key))
                row[self.agg.name] = est
                out.append(row)
            return out
        items = sorted(self.counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out = []
        for key, cnt in items[: self.agg.size]:
            if self.agg.threshold is not None and cnt < self.agg.threshold:
                continue
            row = dict(zip(self.aliases, key))
            row[self.agg.name] = cnt
            out.append(row)
        return out

    def reset(self) -> None:
        self.counts = {}
        if self.sketch is not None:
            from bullet_storm_spark.operators.sketches import SpaceSavingSketch

            self.sketch = SpaceSavingSketch(self.agg.sketch_capacity)

    def consumed(self, rows: list[dict[str, Any]]) -> int:
        return sum(r["__c"] or 0 for r in rows)


class DistributionState(QueryState):
    """PMF/CDF: per-split conditional counts merge exactly (numeric add).
    QUANTILE: a mergeable KLL-style summary (operators/sketches.KLLSummary)
    — bounded, ASSOCIATIVE state exactly like the reference's
    QuantileSketch union (JoinBoltTest.java:696-735), exact while the
    stream fits one compactor (<= SAMPLE_CAP values — the reference's own
    small-input exactness posture).

    The QUANTILE pass (multiquery._quantile_chunk_df) builds one summary
    per member PER PARTITION in Spark (Arrow batches; self-contained
    closures) and ships levels — the sketch-bytes
    wire contract. When the scan has more than TREE_FANIN partitions, a
    coalesce + merge stage unions summaries EXECUTOR-SIDE first, so
    driver traffic is O(TREE_FANIN x capacity) floats no matter how many
    partitions the batch scan has (a 10k-partition scan must not funnel
    10k raw summaries to the driver); coalesce moves no shuffle — each
    merge task folds its co-located partition summaries."""

    SAMPLE_CAP = 100_000
    TREE_FANIN = 32

    def __init__(self, agg: Distribution):
        from bullet_storm_spark.operators.sketches import KLLSummary

        self.agg = agg
        self.points = [float(p) for p in agg.points]
        self.bin_counts = [0] * (len(self.points) + 1)
        self.total = 0
        self.summary = KLLSummary(self.SAMPLE_CAP)

    def merge(self, rows: list[dict[str, Any]]) -> None:
        if self.agg.dist_type == DistributionType.QUANTILE:
            from bullet_storm_spark.operators.sketches import KLLSummary

            for r in rows:
                self.summary.merge(
                    KLLSummary.from_levels(r["__levels"], self.SAMPLE_CAP)
                )
            return
        if rows and "__bins" in rows[0]:
            # keyless-job rows: one count per bin
            for r in rows:
                for b, c in enumerate(r["__bins"]):
                    self.bin_counts[b] += c
                    self.total += c
            return
        # keyed-job rows (a spec longer than MAX_SHARED_BINS): one per bin
        for r in rows:
            if r["__bin"] is None:  # null-value bin: counted only by consumed()
                continue
            self.bin_counts[r["__bin"]] += r["__c"]
            self.total += r["__c"]

    def _round(self, x: float) -> float:
        return round(x, self.agg.round_to) if self.agg.round_to is not None else x

    def result(self) -> list[dict[str, Any]]:
        t = self.agg.dist_type
        if t == DistributionType.QUANTILE:
            out = []
            for p in self.points:
                v = self.summary.quantile(p)
                out.append(
                    {"quantile": p, "value": None if v is None else self._round(v)}
                )
            return out
        total = self.total or 1
        if t == DistributionType.PMF:
            labels = pmf_labels(self.points)
            return [
                {
                    "range": lbl,
                    "count": c,
                    "probability": self._round(c / total),
                }
                for lbl, c in zip(labels, self.bin_counts)
            ]
        # CDF: mass strictly below each split = cumulative of lower bins
        labels = cdf_labels(self.points)
        out = []
        cum = 0
        for i, p in enumerate(self.points):
            cum = sum(self.bin_counts[: i + 1])
            out.append(
                {
                    "range": labels[i],
                    "count": cum,
                    "probability": self._round(cum / total),
                }
            )
        out.append(
            {
                "range": labels[-1],
                "count": self.total,
                "probability": self._round(self.total / total) if self.total else 0.0,
            }
        )
        return out

    def reset(self) -> None:
        from bullet_storm_spark.operators.sketches import KLLSummary

        self.bin_counts = [0] * (len(self.points) + 1)
        self.total = 0
        self.summary = KLLSummary(self.SAMPLE_CAP)

    def consumed(self, rows: list[dict[str, Any]]) -> int:
        return sum(r["__nrec"] or 0 for r in rows)


def make_state(query: Query) -> QueryState:
    agg = query.aggregation
    if isinstance(agg, Raw):
        return RawState(agg)
    if isinstance(agg, GroupBy):
        return GroupState(agg)
    if isinstance(agg, CountDistinct):
        return CountDistinctState(agg)
    if isinstance(agg, TopK):
        return TopKState(agg)
    if isinstance(agg, Distribution):
        return DistributionState(agg)
    raise ValueError(f"unsupported aggregation {type(agg).__name__}")
