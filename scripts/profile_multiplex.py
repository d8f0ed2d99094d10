#!/usr/bin/env python
"""Profile the streaming multiplex batch path: where does a 500-query
batch spend its 2.26 s? Splits per-chunk DataFrame BIND (select/groupBy/
agg construction), Catalyst-inclusive COLLECT, and the RAW/quantile
passes; reports chunk counts and per-phase totals.

Usage: python scripts/profile_multiplex.py [N_QUERIES ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: F401

from bullet_storm_spark import get_spark
from bullet_storm_spark.bql import parse
from bullet_storm_spark.sources.tables import load_table
from bullet_storm_spark.streaming import StreamingEngine

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fleet(n: int) -> list[str]:
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


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [500]
    spark = get_spark(app_name="profile-multiplex")
    spark.sparkContext.setLogLevel("ERROR")
    events = load_table(spark, SF_DIR, "events").persist()
    nrows = events.count()
    print(f"# events rows: {nrows}")

    import bullet_storm_spark.streaming.multiquery as mq

    for n in ns:
        engine = StreamingEngine(spark, clock=lambda: 1.0)
        for i, b in enumerate(fleet(n)):
            engine.submit(f"prof-{n}-{i}", parse(b))
        engine.process_batch(events)  # warm + build chunk caches

        # instrument shared_partials phases
        orig_sp = mq.shared_partials
        phase = {"bind": 0.0, "collect": 0.0, "raw": 0.0, "quant": 0.0,
                 "n_agg": 0, "n_raw": 0, "n_quant": 0}

        def timed_sp(batch_df, queries, pool_width=8, chunks=None, bound_cache=None):
            from concurrent.futures import ThreadPoolExecutor

            result = {rq.id: [] for rq in queries}
            assert chunks is not None
            t0 = time.perf_counter()
            by_chunk = None
            if bound_cache is not None:
                if bound_cache.get("batch") != id(batch_df):
                    bound_cache.clear()
                    bound_cache.update(batch=id(batch_df), batch_ref=batch_df, by_chunk={})
                by_chunk = bound_cache["by_chunk"]
            bound = []
            for cp in chunks:
                if by_chunk is not None:
                    hit = by_chunk.get(id(cp))
                    if hit is not None and hit[0] is cp:
                        bound.append(hit[1])
                        phase["cache_hit"] = phase.get("cache_hit", 0) + 1
                        continue
                if isinstance(cp, mq.RawChunkPlan):
                    entry = ("raw", mq._raw_chunk_folded_df(batch_df, cp), cp)
                elif isinstance(cp, mq.QuantileChunkPlan):
                    entry = ("quant", mq._quantile_chunk_df(batch_df, cp), cp)
                else:
                    pre = batch_df.select(*cp.pre_cols)
                    if cp.key_names:
                        out = pre.groupBy(
                            *[F.col(k) for k in cp.key_names]
                        ).agg(*cp.aggs)
                    else:
                        out = pre.agg(*cp.aggs)
                    entry = ("agg", out, cp.members)
                bound.append(entry)
                if by_chunk is not None:
                    by_chunk[id(cp)] = (cp, entry)
            phase["n_agg"] = sum(1 for b in bound if b[0] == "agg")
            phase["bind"] += time.perf_counter() - t0

            def run(chunk):
                t = time.perf_counter()
                tag, out, members = chunk
                if tag == "raw":
                    r = mq._collect_raw_chunk(out, members), members
                    phase["raw"] += time.perf_counter() - t
                    phase["n_raw"] += 1
                    return r
                if tag == "quant":
                    r = mq._collect_quantile_chunk(out, members), members
                    phase["quant"] += time.perf_counter() - t
                    phase["n_quant"] += 1
                    return r
                r = out.toArrow(), members
                phase["collect"] += time.perf_counter() - t
                return r

            if len(bound) > 1:
                with ThreadPoolExecutor(
                    max_workers=min(len(bound), pool_width)
                ) as pool:
                    computed = list(pool.map(run, bound))
            else:
                computed = [run(bound[0])] if bound else []
            for rows, members in computed:
                if isinstance(members, (mq.RawChunkPlan, mq.QuantileChunkPlan)):
                    for rq, member_rows in zip(members.rqs, rows):
                        result[rq.id] = member_rows
                    continue
                result.update(mq.split_members(rows, members))
            return result

        import bullet_storm_spark.streaming.engine as eng_mod

        mq.shared_partials = timed_sp
        eng_mod.shared_partials = timed_sp  # in case of from-import
        runs = []
        for _ in range(3):
            for k in ("bind", "collect", "raw", "quant"):
                phase[k] = 0.0
            phase["n_agg"] = phase["n_raw"] = phase["n_quant"] = 0
            t0 = time.perf_counter()
            engine.process_batch(events)
            wall = time.perf_counter() - t0
            runs.append((wall, dict(phase)))
        mq.shared_partials = orig_sp
        best = min(runs, key=lambda x: x[0])
        wall, ph = best
        print(
            f"# {n}q: wall {wall:.3f}s | agg chunks {ph['n_agg']} "
            f"bind {ph['bind']:.3f}s collect(sum-across-threads) "
            f"{ph['collect']:.3f}s | raw {ph['n_raw']} {ph['raw']:.3f}s | "
            f"quant {ph['n_quant']} {ph['quant']:.3f}s"
        )
        for wall, ph in runs:
            print(f"#   run wall={wall:.3f} bind={ph['bind']:.3f} "
                  f"collect={ph['collect']:.3f} raw={ph['raw']:.3f}")
    events.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
