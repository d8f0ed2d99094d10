"""Per-layer tracing for the traced run.

The tracer wraps, in place, the public functions through which a batch
enters each layer of the engine, so the program itself carries no tracing
code. Spans are kept in memory as (name, start, end, parent, batch, count)
and written as JSON lines when the run ends.

A span opened on a worker thread with no span of its own (the engine runs
its Spark collects on a thread pool) takes as parent the span the main
thread is in at that moment: the one waiting on the pool.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict

NAME, START, END, PARENT, BATCH, COUNT = range(6)

# layers whose per-batch time is the wall-clock union of their spans
# (concurrent collects overlap); every other layer reports self time
UNION_LAYERS = {"spark.collect"}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _rows(value) -> int:
    if value is None:
        return 0
    rows = getattr(value, "num_rows", None)  # pyarrow.Table
    if rows is not None:
        return int(rows)
    try:
        return len(value)
    except TypeError:
        return 0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.batch = -1
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = self._stack()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> int | None:
        """Start a span; returns its index, or None when not recording
        (tracing off, or the same layer re-entered on this thread)."""
        if not self.enabled:
            return None
        stack = self._stack()
        if stack and self.spans[stack[-1]][NAME] == name:
            return None
        if stack:
            parent = stack[-1]
        else:
            main = self._main_stack
            parent = main[-1] if main and stack is not main else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, self.batch, 0])
        stack.append(idx)
        return idx

    def close(self, idx: int | None, count: int = 0) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span[END] = time.perf_counter()
        span[COUNT] = count
        self._stack().pop()

    def wrap(self, name: str, fn, count=None):
        """``fn`` recorded as a span of layer ``name``; ``count(args,
        result)`` gives the span's work count."""

        def traced(*args, **kwargs):
            idx = self.open(name)
            if idx is None:
                return fn(*args, **kwargs)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                self.close(idx, count(args, result) if count else 0)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str, count=None) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original, count))

    def install(self) -> None:
        """Wrap each layer's public entry points."""
        from pyspark.sql.classic.dataframe import DataFrame

        from bullet_storm_spark import bql
        from bullet_storm_spark.streaming import multiquery, registry, state

        rows_out = lambda args, result: _rows(result)  # noqa: E731
        rows_in = lambda args, result: _rows(args[1]) if len(args) > 1 else 0  # noqa: E731

        self.patch(bql, "parse", "bql.parse")
        self.patch(registry.ControlChannel, "drain", "registry.control")
        self.patch(registry.QueryRegistry, "submit", "registry.control")
        self.patch(registry.QueryRegistry, "remove", "registry.control")
        self.patch(multiquery, "plan_chunks", "multiquery.plan")
        self.patch(multiquery, "plan_raw_chunks", "multiquery.plan")
        self.patch(multiquery, "shared_partials", "multiquery.bind")
        for attr in ("collect", "toArrow", "toPandas"):
            self.patch(DataFrame, attr, "spark.collect", rows_out)
        for attr in ("persist", "unpersist"):
            self.patch(DataFrame, attr, "engine.persist")
        seen = set()
        todo = list(state.QueryState.__subclasses__())
        while todo:
            cls = todo.pop()
            if cls in seen:
                continue
            seen.add(cls)
            todo.extend(cls.__subclasses__())
            if "merge" in cls.__dict__:
                self.patch(cls, "merge", "state.merge", rows_in)
            if "result" in cls.__dict__:
                self.patch(cls, "result", "state.result", rows_out)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def per_batch(self, batches: list[int]) -> dict[str, float]:
        """Mean per traced batch of each layer's time (ms) and counts."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for span in self.spans:
            if span[PARENT] is not None and span[END] is not None:
                children[span[PARENT]].append((span[START], span[END]))
        times: dict[str, float] = defaultdict(float)
        counts: dict[str, float] = defaultdict(float)
        calls: dict[str, float] = defaultdict(float)
        unions: dict[tuple[str, int], list] = defaultdict(list)
        plan_batches = set()
        wanted = set(batches)
        for idx, span in enumerate(self.spans):
            name, start, end, _, batch, count = span
            if batch not in wanted or end is None:
                continue
            calls[name] += 1
            counts[name] += count
            if name == "multiquery.plan":
                plan_batches.add(batch)
            if name in UNION_LAYERS:
                unions[(name, batch)].append((start, end))
                continue
            inner = [
                (max(s, start), min(e, end))
                for s, e in children.get(idx, ())
                if e > start and s < end
            ]
            times[name] += (end - start) - _union(inner)
        for (name, _), intervals in unions.items():
            times[name] += _union(intervals)
        n = len(batches) or 1
        out = {f"{name}_ms": 1000.0 * t / n for name, t in times.items()}
        out["multiquery.plan_calls"] = calls["multiquery.plan"] / n
        out["multiquery.plan_hit_ratio"] = 1.0 - len(plan_batches) / n
        out["spark.collect_calls"] = calls["spark.collect"] / n
        out["spark.partial_rows"] = counts["spark.collect"] / n
        out["state.merge_rows"] = counts["state.merge"] / n
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(
                    json.dumps(
                        dict(zip(("name", "start", "end", "parent", "batch", "count"), span))
                    )
                    + "\n"
                )
