"""Mergeable per-query aggregation state — the Querier PARTITION/ALL split.

The reference runs every aggregation in two phases: FilterBolt's Querier
consumes records and emits serialized partial state, JoinBolt's Querier
merges partials (/root/reference src/main/java/com/yahoo/bullet/storm/
FilterBolt.java:187-189, JoinBolt.java:154-155; associativity proven by
JoinBoltTest.java:696-735).

Spark translation: the *partial* phase is a compiled DataFrame aggregation
over each micro-batch (Catalyst's own partial+final machinery runs inside
the batch, fully distributed); what crosses to the driver is one bounded
partial-result table per query per batch — the same wire contract as the
reference's sketch bytes. The *merge* phase is the small pure-Python
fold below, bounded by each aggregation's size cap exactly like Bullet's
sketches bound their state.

Each QueryState implements:
  partial(df)  -> DataFrame   (batch -> bounded partial table, runs in Spark)
  merge(rows)  -> None        (fold partial rows into state, driver-side)
  result()     -> list[dict]  (current emission, reference output shape)
  reset()      -> None        (window close — Querier.reset analogue)
  is_full()    -> bool        (RAW early-termination contract)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from bullet_storm_spark.operators import top_k as top_k_op
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


class QueryState:
    def partial(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

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

    def partial(self, df: DataFrame) -> DataFrame:
        # per-batch limit: never ship more than the remaining capacity
        return df.limit(max(self.size - len(self.records), 0))

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
    exactly like GroupData (JoinBoltTest.java:663-693)."""

    _SUPPORTED = {
        GroupOpType.COUNT,
        GroupOpType.COUNT_FIELD,
        GroupOpType.SUM,
        GroupOpType.MIN,
        GroupOpType.MAX,
        GroupOpType.AVG,
    }

    def __init__(self, agg: GroupBy):
        for op in agg.operations:
            if op.op not in self._SUPPORTED:
                raise ValueError(
                    f"group operation {op.op.name} is batch-only (no "
                    "streaming merge implemented)"
                )
        self.agg = agg
        self.key_aliases = [agg.alias_of(f) for f in agg.fields]
        self.groups: dict[tuple, dict[str, Any]] = {}

    def partial(self, df: DataFrame) -> DataFrame:
        keys = [F.col(f).alias(self.agg.alias_of(f)) for f in self.agg.fields]
        aggs = []
        for i, op in enumerate(self.agg.operations):
            f = F.col(op.field) if op.field else None
            t = op.op
            if t == GroupOpType.COUNT:
                aggs.append(F.count(F.lit(1)).alias(f"__c{i}"))
            elif t == GroupOpType.COUNT_FIELD:
                aggs.append(F.count(f).alias(f"__c{i}"))
            elif t in (GroupOpType.SUM, GroupOpType.AVG):
                aggs.append(F.sum(f.cast("double")).alias(f"__s{i}"))
                aggs.append(F.count(f).alias(f"__n{i}"))
            elif t == GroupOpType.MIN:
                aggs.append(F.min(f).alias(f"__m{i}"))
            elif t == GroupOpType.MAX:
                aggs.append(F.max(f).alias(f"__m{i}"))
        # input-record count rides the same aggregation (consumed())
        aggs.append(F.count(F.lit(1)).alias("__nrec"))
        return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

    def merge(self, rows: list[dict[str, Any]]) -> None:
        for row in rows:
            key = tuple(row[a] for a in self.key_aliases)
            g = self.groups.get(key)
            if g is None:
                if len(self.groups) >= self.agg.size and key not in self.groups:
                    continue  # group cap (reference caps sketch entries)
                g = self.groups[key] = {}
            for i, op in enumerate(self.agg.operations):
                t = op.op
                if t in (GroupOpType.COUNT, GroupOpType.COUNT_FIELD):
                    g[f"c{i}"] = g.get(f"c{i}", 0) + (row[f"__c{i}"] or 0)
                elif t in (GroupOpType.SUM, GroupOpType.AVG):
                    s, n = row[f"__s{i}"], row[f"__n{i}"] or 0
                    if s is not None:
                        g[f"s{i}"] = g.get(f"s{i}", 0.0) + s
                    g[f"n{i}"] = g.get(f"n{i}", 0) + n
                elif t == GroupOpType.MIN:
                    m = row[f"__m{i}"]
                    if m is not None:
                        cur = g.get(f"m{i}")
                        g[f"m{i}"] = m if cur is None else min(cur, m)
                elif t == GroupOpType.MAX:
                    m = row[f"__m{i}"]
                    if m is not None:
                        cur = g.get(f"m{i}")
                        g[f"m{i}"] = m if cur is None else max(cur, m)

    def result(self) -> list[dict[str, Any]]:
        if not self.agg.fields and not self.groups:
            # GROUP ALL emits one row even with no data (operator tests)
            self.groups[()] = {}
        out = []
        for key, g in self.groups.items():
            row = dict(zip(self.key_aliases, key))
            for i, op in enumerate(self.agg.operations):
                t = op.op
                if t in (GroupOpType.COUNT, GroupOpType.COUNT_FIELD):
                    row[op.alias] = g.get(f"c{i}", 0)
                elif t == GroupOpType.SUM:
                    row[op.alias] = g.get(f"s{i}")
                elif t == GroupOpType.AVG:
                    n = g.get(f"n{i}", 0)
                    row[op.alias] = (g.get(f"s{i}", 0.0) / n) if n else None
                else:
                    row[op.alias] = g.get(f"m{i}")
            out.append(row)
        return out

    def reset(self) -> None:
        self.groups = {}

    def consumed(self, rows: list[dict[str, Any]]) -> int:
        if rows and "__nrec" in rows[0]:
            return sum(r["__nrec"] or 0 for r in rows)
        # shared-scan rows: the per-member match count serves as __nrec;
        # fall back to a COUNT metric if present
        for i, op in enumerate(self.agg.operations):
            if op.op == GroupOpType.COUNT:
                return sum(r.get(f"__c{i}", 0) or 0 for r in rows)
        return 0


class CountDistinctState(QueryState):
    """Exact: per-batch distinct keys merged into a driver set (matches the
    reference's own small-cardinality exactness tests). Approx: per-batch
    HyperLogLog sketch bytes merged with hll_union — bounded state at any
    cardinality, the Theta-sketch contract (FilterBoltTest.java:680-710)."""

    def __init__(self, agg: CountDistinct):
        self.agg = agg
        self.keys: set = set()
        self.sketch: bytes | None = None
        self._spark = None

    def _key_col(self):
        if len(self.agg.fields) == 1:
            return F.col(self.agg.fields[0])
        return F.concat_ws("\x1f", *[F.col(f).cast("string") for f in self.agg.fields])

    def partial(self, df: DataFrame) -> DataFrame:
        self._spark = df.sparkSession
        if self.agg.exact:
            # groupBy instead of distinct: same shuffle shape, and the
            # per-key counts sum to the batch record count (consumed())
            return df.groupBy(self._key_col().alias("__k")).agg(
                F.count(F.lit(1)).alias("__nrec")
            )
        return df.agg(
            F.hll_sketch_agg(self._key_col()).alias("__sketch"),
            F.count(F.lit(1)).alias("__nrec"),
        )

    def _session(self):
        if self._spark is not None:
            return self._spark
        # shared-scan path never calls partial(); fall back to the active
        # session for the tiny sketch-merge jobs
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession()

    def merge(self, rows: list[dict[str, Any]]) -> None:
        if self.agg.exact:
            if rows and "__ks" in rows[0]:
                # shared-scan rows: one collect_set list per partial row
                for r in rows:
                    self.keys.update(r["__ks"] or [])
                return
            # COUNT DISTINCT never counts a NULL key (batch operator and
            # both SQL dialects agree; multi-field concat keys are never
            # null, matching too)
            self.keys.update(r["__k"] for r in rows if r["__k"] is not None)
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
        return sum(r.get("__nrec", 0) or 0 for r in rows)


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

    def partial(self, df: DataFrame) -> DataFrame:
        keys = [
            F.coalesce(F.col(f).cast("string"), F.lit(top_k_op.NULL_RENDERING)).alias(
                self.agg.alias_of(f)
            )
            for f in self.agg.fields
        ]
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))

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
        return sum(r.get("__c", 0) or 0 for r in rows)


class DistributionState(QueryState):
    """PMF/CDF: per-split conditional counts merge exactly (numeric add).
    QUANTILE: a mergeable KLL-style summary (operators/sketches.KLLSummary)
    — bounded, ASSOCIATIVE state exactly like the reference's
    QuantileSketch union (JoinBoltTest.java:696-735), exact while the
    stream fits one compactor (<= SAMPLE_CAP values — the reference's own
    small-input exactness posture).

    The partial job builds one summary PER PARTITION in Spark (Arrow
    batches; self-contained closure) and ships levels — the sketch-bytes
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

    def partial(self, df: DataFrame) -> DataFrame:
        v = F.col(self.agg.field).cast("double")
        if self.agg.dist_type == DistributionType.QUANTILE:
            cap = self.SAMPLE_CAP
            schema = "__levels array<array<double>>, __n long, __nrec long"

            # self-contained closures (cloudpickle ships them by value; no
            # package import on workers) mirroring KLLSummary._compress
            # deterministically; the accumulator is shared by the build
            # and the tree-merge stages
            def make_acc():
                levels: list[list[float]] = [[]]
                counter = [0]

                def fold(in_levels):
                    for i, lvl in enumerate(in_levels):
                        while len(levels) <= i:
                            levels.append([])
                        levels[i].extend(float(x) for x in lvl)
                    i = 0
                    while i < len(levels):
                        if len(levels[i]) > cap:
                            lvl = sorted(levels[i])
                            off = counter[0] & 1
                            counter[0] += 1
                            held = []
                            if len(lvl) & 1:
                                held = [lvl.pop()] if off else [lvl.pop(0)]
                            if len(levels) <= i + 1:
                                levels.append([])
                            levels[i + 1].extend(lvl[off::2])
                            levels[i] = held
                        i += 1

                return levels, fold

            def build(batches):
                import pandas as pd

                levels, fold = make_acc()
                nval = 0
                nrec = 0
                for pdf in batches:
                    col = pdf["__v"]
                    nrec += len(col)
                    vals = col.dropna()
                    nval += len(vals)
                    fold([list(vals)])
                yield pd.DataFrame(
                    {"__levels": [levels], "__n": [nval], "__nrec": [nrec]}
                )

            def tree_merge(batches):
                import pandas as pd

                levels, fold = make_acc()
                nval = 0
                nrec = 0
                for pdf in batches:
                    for lv, nn, nr in zip(
                        pdf["__levels"], pdf["__n"], pdf["__nrec"]
                    ):
                        fold(lv)
                        nval += int(nn)
                        nrec += int(nr)
                yield pd.DataFrame(
                    {"__levels": [levels], "__n": [nval], "__nrec": [nrec]}
                )

            out = df.select(v.alias("__v")).mapInPandas(build, schema)
            if df.rdd.getNumPartitions() > self.TREE_FANIN:
                out = out.coalesce(self.TREE_FANIN).mapInPandas(
                    tree_merge, schema
                )
            return out
        # null values land in a NULL bin (never binned/totaled, but they
        # keep the batch record count riding this job for consumed())
        bin_idx = F.lit(0)
        for p in self.points:
            bin_idx = bin_idx + (v >= F.lit(p)).cast("int")
        return df.groupBy(bin_idx.alias("__bin")).agg(F.count(F.lit(1)).alias("__c"))

    def merge(self, rows: list[dict[str, Any]]) -> None:
        if self.agg.dist_type == DistributionType.QUANTILE:
            from bullet_storm_spark.operators.sketches import KLLSummary

            for r in rows:
                self.summary.merge(
                    KLLSummary.from_levels(r["__levels"], self.SAMPLE_CAP)
                )
            return
        if rows and "__bins" in rows[0]:
            # shared-scan rows: one count per bin
            for r in rows:
                for b, c in enumerate(r["__bins"]):
                    self.bin_counts[b] += c
                    self.total += c
            return
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
        if self.agg.dist_type == DistributionType.QUANTILE:
            return sum(r.get("__nrec", 0) or 0 for r in rows)
        if rows and "__nrec" in rows[0]:  # shared-scan rows
            return sum(r["__nrec"] or 0 for r in rows)
        return sum(r.get("__c", 0) or 0 for r in rows)  # incl. the NULL bin


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
