"""Benchmark of the streaming engine on fresh, seeded micro-batches.

    python3 perfbench/run.py --workload steady_fleet --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run drives ``StreamingEngine`` the way
a foreachBatch stream does, through public calls only (``bql.parse``,
``submit``, ``on_result``, ``process_batch``, ``shutdown``):

1. Launch Spark pinned to the machine: ``local[<usable cores>]`` and a
   driver heap that fits in memory.
2. Set up ``SETUPS`` times (``setup_s`` is their median). A set-up starts a
   Spark session, writes the workload's seeded parquet slices, submits its
   fleet and runs a few warm batches. The last set-up's engine is measured.
3. Closed loop over the workload's fixed number of batches, cut short at
   ``--seconds``: each batch reads the next fresh slice and is sent when
   the previous one returns. The engine clock is virtual and advances a
   fixed step per batch, so the same windows close and the same queries
   expire in every run.
4. ``shutdown()``, then the correctness check (``oracle.py``) compares the
   Clips against DuckDB over the same slices.

``--trace 1`` wraps each layer's public functions (``tracing.py``), records
spans on every other measured batch (the batches in between give the
untraced time of the same run), and then measures the same workload on
``local[1]`` as the single-threaded baseline. It prints the per-layer
metrics instead of the end-to-end ones and writes the spans under
``.perfbench_run/traces/``.

The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it records the run's environment.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SETUPS = 3
DRIVER_MEM = "2g"
# C2 thresholds a tenth of the defaults: the driver's planning code reaches
# compiled steady state within the warm-up a short run can afford, instead
# of drifting down through the whole measurement
JIT_OPTIONS = (
    "-XX:Tier3InvocationThreshold=50 -XX:Tier3MinInvocationThreshold=20 "
    "-XX:Tier3CompileThreshold=200 -XX:Tier4InvocationThreshold=500 "
    "-XX:Tier4MinInvocationThreshold=100 -XX:Tier4CompileThreshold=1000"
)
BASELINE_BATCHES = 12
SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

END_TO_END_UNITS = {
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
    "records_per_s": "1/s",
    "clip_latency_p50_ms": "ms",
    "clip_latency_p90_ms": "ms",
    "driver_peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER_UNITS = {
    "bql.parse_ms": "ms",
    "registry.control_ms": "ms",
    "multiquery.plan_ms": "ms",
    "multiquery.plan_calls": "count",
    "multiquery.plan_hit_ratio": "ratio",
    "multiquery.bind_ms": "ms",
    "spark.collect_ms": "ms",
    "spark.collect_calls": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.partial_rows": "count",
    "state.merge_ms": "ms",
    "state.merge_rows": "count",
    "state.result_ms": "ms",
    "engine.persist_ms": "ms",
    "engine.self_ms": "ms",
    "sinks.clips": "count",
    "sinks.records": "count",
    "trace.traced_batch_p50_ms": "ms",
    "trace.untraced_batch_p50_ms": "ms",
    "baseline.local1_batch_p50_ms": "ms",
}


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) by ``statistics.quantiles``."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


class VirtualClock:
    """Engine clock: integer milliseconds, one tick per batch. Half a
    millisecond is added so that ``int(clock() * 1000)`` reads back the
    exact millisecond despite float rounding."""

    T0_MS = 1_000_000_000

    def __init__(self, step_ms: int) -> None:
        self.step_ms = step_ms
        self.batch = 0

    def __call__(self) -> float:
        return (self.T0_MS + self.batch * self.step_ms + 0.5) / 1000.0


class Run:
    """One set-up: a Spark session, an engine with its fleet, and the
    record of every Clip the engine emits."""

    def __init__(self, bench: "Bench", spark) -> None:
        import numpy as np

        from bullet_storm_spark.config import EngineConfig
        from bullet_storm_spark.streaming import StreamingEngine

        from perfbench import workloads

        self.bench = bench
        self.spark = spark
        self.wl = workloads.build(bench.args.workload, bench.args.seed, bench.args.tiny)
        self.rng = np.random.default_rng([bench.args.seed, 3])
        self.clock = VirtualClock(workloads.STEP_MS)
        self.engine = StreamingEngine(
            spark,
            clock=self.clock,
            config=EngineConfig(tick_interval_ms=workloads.TICK_MS),
        )
        self.engine.on_result(self._on_clip)
        self.specs: dict = {}
        self.pending = {}
        for spec in self.wl.fleet:
            self.pending.setdefault(spec.submit_batch, []).append(spec)
        self.first: dict[str, int] = {}  # first slice of a query's next Clip
        self.submitted_at: dict[str, float] = {}
        self.clips: list = []  # (query id, first slice, last slice, Clip)
        self.batch = -1
        self.batch_start = 0.0
        self.measuring = False
        self.latencies: list[float] = []
        self.batch_clips: dict[int, list[int]] = {}  # batch -> [clips, records]
        self.final_latency = bool(self.wl.arrivals_per_batch)
        self.paths: list[str] = []

    def _on_clip(self, qid: str, clip) -> None:
        now = time.perf_counter()
        first = self.first.get(qid, self.batch)
        self.clips.append((qid, first, self.batch, clip))
        self.first[qid] = self.batch + 1
        tally = self.batch_clips.setdefault(self.batch, [0, 0])
        tally[0] += 1
        tally[1] += len(clip.records)
        if not self.measuring:
            return
        if self.final_latency:
            # submit-to-final-Clip, for queries submitted while measuring
            t = self.submitted_at.get(qid)
            if t is not None and "signal" in clip.meta:
                self.latencies.append(now - t)
        elif "window_number" in clip.meta and "signal" not in clip.meta:
            # arrival of the batch that closed the window, to its Clip
            self.latencies.append(now - self.batch_start)

    def batch_once(self, i: int) -> float:
        """Submit what arrives before batch ``i``, then send the batch.
        Returns the ``process_batch`` wall time in seconds."""
        from bullet_storm_spark import bql

        tracer = self.bench.tracer
        for spec in self.pending.pop(i, []) + self.wl.arrivals(i, self.rng):
            self.specs[spec.qid] = spec
            self.first[spec.qid] = i
            if self.measuring:
                self.submitted_at[spec.qid] = time.perf_counter()
            self.engine.submit(spec.qid, bql.parse(spec.bql))
        self.clock.batch = i
        frame = self.spark.read.schema(SCHEMA).parquet(self.paths[i])
        self.batch = i
        root = tracer.open("engine.self") if tracer else None
        self.batch_start = t0 = time.perf_counter()
        self.engine.process_batch(frame, i)
        elapsed = time.perf_counter() - t0
        if tracer:
            tracer.close(root)
        return elapsed

    def warm(self) -> None:
        from perfbench import workloads

        self.paths = workloads.write_slices(
            str(self.bench.data), self.bench.args.seed, self.wl.rows,
            self.wl.warm + self.wl.batches,
        )
        for i in range(self.wl.warm):
            self.batch_once(i)

    def shutdown(self) -> None:
        self.engine.shutdown()


class Bench:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.data = work / "data"
        self.tracer = None
        self.env: dict = {}

    def session(self, cores: int):
        from bullet_storm_spark.session import get_spark

        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        return get_spark(
            extra_conf={
                "spark.local.dir": str(self.work / "spark"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData {JIT_OPTIONS}"
                ),
            }
        )

    def setup(self, cores: int) -> Run:
        spark = self.session(cores)
        run = Run(self, spark)
        run.warm()
        return run

    def measure(self, run: Run, seconds: float, max_batches: int, trace: bool):
        """Closed loop over fresh slices; returns per-batch wall times and,
        when tracing, the traced batch ids and job/stage counts."""
        sc = run.spark.sparkContext
        times: list[float] = []
        traced: list[int] = []
        jobs = stages = 0
        run.measuring = True
        t_end = time.perf_counter() + seconds
        i = run.wl.warm
        while time.perf_counter() < t_end and len(times) < max_batches:
            on = trace and len(times) % 2 == 0
            if self.tracer:
                self.tracer.enabled = on
                self.tracer.batch = i
            if on:
                before = set(sc.statusTracker().getJobIdsForGroup())
            times.append(run.batch_once(i))
            if on:
                traced.append(i)
                new = set(sc.statusTracker().getJobIdsForGroup()) - before
                jobs += len(new)
                for job in new:
                    info = sc.statusTracker().getJobInfo(job)
                    stages += len(info.stageIds) if info else 0
            i += 1
        run.measuring = False
        if self.tracer:
            self.tracer.enabled = False
        return times, traced, jobs, stages

    def run(self) -> dict:
        args = self.args
        cores = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM

        t0 = time.perf_counter()
        spark = self.session(cores)
        spark.range(1).count()
        spark.stop()
        launch_s = time.perf_counter() - t0

        setup_times = []
        run = None
        for k in range(SETUPS):
            t0 = time.perf_counter()
            run = self.setup(cores)
            setup_times.append(time.perf_counter() - t0)
            if k < SETUPS - 1:
                run.shutdown()
                run.spark.stop()
                shutil.rmtree(self.data, ignore_errors=True)

        if args.trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        times, traced, jobs, stages = self.measure(
            run, args.seconds, run.wl.batches, bool(args.trace)
        )
        measured = len(times)
        run.shutdown()
        python_mb, jvm_mb = peak_rss_mb(run.spark)

        from perfbench import oracle

        failed, checked = oracle.check(run.specs, run.clips, run.paths)
        attempted = len(run.specs)

        self.env = {
            "workload": args.workload,
            "seed": args.seed,
            "master": run.spark.sparkContext.master,
            "cores": cores,
            "driver_memory": run.spark.sparkContext.getConf().get("spark.driver.memory"),
            "jit_options": JIT_OPTIONS,
            "frame_rows": run.wl.rows,
            "fleet_size": len(run.wl.fleet),
            "arrivals_per_batch": run.wl.arrivals_per_batch,
            "clock_step_ms": run.clock.step_ms,
            "run_seconds": args.seconds,
            "measured_batches": measured,
            "latency_samples": len(run.latencies),
            "jvm_launch_s": round(launch_s, 3),
            "setup_samples_s": [round(t, 3) for t in setup_times],
            "peak_rss_mb": {"python": round(python_mb), "jvm": round(jvm_mb)},
            "queries_attempted": attempted,
            "queries_checked": checked,
            "queries_failed": failed,
            "failed_share": failed / attempted if attempted else 0.0,
            "trace": args.trace,
        }

        if args.trace:
            metrics = self.layer_metrics(run, times, traced, jobs, stages)
            trace_dir = ROOT / ".perfbench_run" / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            self.tracer.write(str(trace_dir / f"{args.workload}-seed{args.seed}.jsonl"))
            self.tracer.uninstall()
            self.tracer = None
            metrics["baseline.local1_batch_p50_ms"] = self.baseline(run)
            units = PER_LAYER_UNITS
        else:
            rows = run.wl.rows * measured
            metrics = {
                "batch_p50_ms": 1000 * statistics.median(times),
                "batch_p90_ms": 1000 * percentile(times, 90),
                "records_per_s": rows / sum(times),
                "clip_latency_p50_ms": 1000 * statistics.median(run.latencies),
                "clip_latency_p90_ms": 1000 * percentile(run.latencies, 90),
                "driver_peak_rss_mb": python_mb + jvm_mb,
                "setup_s": statistics.median(setup_times),
            }
            units = END_TO_END_UNITS
        run.spark.stop()
        return {
            "correct": failed == 0 and checked > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                name: {"value": metrics[name], "unit": unit} for name, unit in units.items()
            },
        }

    def layer_metrics(self, run: Run, times, traced, jobs, stages) -> dict:
        metrics = {name: 0.0 for name in PER_LAYER_UNITS}
        metrics.update(self.tracer.per_batch(traced))
        n = len(traced) or 1
        metrics["spark.jobs"] = jobs / n
        metrics["spark.stages"] = stages / n
        metrics["sinks.clips"] = sum(run.batch_clips.get(b, [0, 0])[0] for b in traced) / n
        metrics["sinks.records"] = sum(run.batch_clips.get(b, [0, 0])[1] for b in traced) / n
        metrics["trace.traced_batch_p50_ms"] = 1000 * statistics.median(times[0::2])
        metrics["trace.untraced_batch_p50_ms"] = 1000 * statistics.median(times[1::2] or times)
        return metrics

    def baseline(self, run: Run) -> float:
        """The same workload on ``local[1]``: p50 batch time in ms."""
        run.spark.stop()
        shutil.rmtree(self.data, ignore_errors=True)
        base = self.setup(1)
        times, _, _, _ = self.measure(base, self.args.seconds, BASELINE_BATCHES, False)
        base.shutdown()
        self.env["baseline_master"] = base.spark.sparkContext.master
        return 1000 * statistics.median(times)


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of this process and of the driver JVM, in MB."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return hwm_kb("self") / 1024.0, hwm_kb(jvm_pid) / 1024.0


def stop_jvm() -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--tiny", action="store_true", help="small frames and fleets (smoke test)"
    )
    args = parser.parse_args(argv)

    if not (ROOT / "bullet_storm_spark" / "__init__.py").is_file():
        print(f"perfbench: no bullet_storm_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    tempfile.tempdir = str(work / "tmp")
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": bench.env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [str(ROOT)]
    sys.exit(main())
