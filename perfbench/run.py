#!/usr/bin/env python3
"""Benchmark of the HRFCO Spark engine: flagship-stream ingest and
dashboard serving.

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts one Spark session
(``local[4]``) and one closed-loop client, then:

1. session start, then the two host-speed anchors of ``bench.py``
   (host context, not gated);
2. set-up: input generation (three times, the median counts) and
   warm-up; ``setup_s`` is these plus session start;
3. whole cycles of the workload until ``--seconds`` have been measured
   (at least one), then the output check against an independent twin,
   outside the timed region;
4. with ``--trace 1``, the per-layer split from spans, the streaming
   listener and Spark's event log.

Human-readable lines come first; the last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics of BENCHMARK.json untraced, its per-layer metrics
traced. The exit code is 1 when any output mismatched, 2 when the program
is not there.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

from pyspark import SparkContext
from pyspark.sql import functions as F

import gen
import layers
import workloads
from spans import EVENT_LOG_CONF, BatchListener, Tracer

ROOT = os.getcwd()


def _rss_peak_mb(pid: int) -> float:
    """VmHWM of one process from /proc, in MB (0 when it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _stat_cpu_s(stat: str) -> float:
    fields = stat.rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _cpu_s(pid: int) -> float:
    """User plus system CPU seconds of one process from /proc, less its
    JIT compiler threads ("C1/C2 CompilerThread"): they compile beside
    the work, and how much of that falls into the measured cycles
    differs from run to run."""
    with open(f"/proc/{pid}/stat") as fh:
        total = _stat_cpu_s(fh.read())
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the thread ended
            continue
        if "CompilerThre" in stat[stat.index("(") : stat.rindex(")")]:
            total -= _stat_cpu_s(stat)
    return total


def median_hd(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of all order
    statistics, weighted by a Beta((n+1)/2, (n+1)/2) density. A request
    mix puts each endpoint's latencies in a cluster of their own, and the
    sample median jumps between clusters when a single sample moves; this
    estimate moves with all of them."""
    s = sorted(xs)
    n, steps = len(s), 100
    a = (n + 1) / 2
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)
    weights = []
    for i in range(n):
        # the density's mass over (i/n, (i+1)/n), by the midpoint rule
        grid = ((i + (k + 0.5) / steps) / n for k in range(steps))
        weights.append(sum(
            math.exp((a - 1) * (math.log(x) + math.log1p(-x)) - log_beta) for x in grid
        ) / (steps * n))
    return sum(w * v for w, v in zip(weights, s)) / sum(weights)


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``. With 20 samples or fewer that percentile is
    at or below the median, and the median is reported."""
    s = sorted(xs)
    k = len(s) - 11
    if k < (len(s) - 1) / 2:
        return statistics.median(s), 50
    return s[k], round(100 * (k + 1) / len(s))


class Run:
    """Everything one benchmark run shares with its workload."""

    def __init__(self, args) -> None:
        self.seed = args.seed
        self.rng = random.Random(args.seed)
        self.work = f"{ROOT}/.perfbench/{args.workload}"
        self.stream_groups: set[str] = set()
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(f"{self.work}/tmp")
        # Spark's scratch space stays inside the checkout
        os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = f"{self.work}/tmp"
        os.environ["SPARK_GRAFT_CPUS"] = "4"
        os.environ["SPARK_DRIVER_MEMORY"] = "4g"
        self.event_log = f"{self.work}/eventlog"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap, so that how far the heap has grown does not
            # set how often the measured cycles collect garbage; compiler
            # threads that live as long as the JVM, so that their CPU time
            # can be told apart from the work's (see _cpu_s)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp "
            "-Xms4g -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
        }
        if args.trace:
            os.makedirs(self.event_log)
            conf.update(EVENT_LOG_CONF, **{"spark.eventLog.dir": f"file://{self.event_log}"})
        from hrfco_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.listener = BatchListener()
        self.spark.streams.addListener(self.listener)
        self.tracer = Tracer(self.spark.sparkContext, bool(args.trace))

    def jvm_pid(self) -> int:
        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def trace_program(tracer) -> None:
    """Span the public functions of each layer, wherever they are bound.

    ``process_observations`` and ``build_alerts`` only build lazy plans.
    The micro-batch pipeline persists the classified batch and its first
    sink, ``write_archive``, would compute it inside the write. So the
    traced ``write_archive`` first materializes a persisted input under
    its own span, ``classify_exec``: the batch's file scan, JSON parse,
    F1/F2, J1 join and C1-C4, which count as operator execution. The
    write itself then reads the cache.
    """

    def classify_exec(classified, *args, **kwargs) -> None:
        if classified.is_cached:
            with tracer.span("classify_exec"):
                classified.count()

    pkg = "hrfco_data_pipeline_spark"
    for mod, attr in (
        ("sinks.writers", "write_archive"),
        ("sinks.writers", "write_fact"),
        ("sinks.writers", "write_dlq"),
        ("operators.classify", "process_observations"),
        ("operators.classify", "build_alerts"),
        ("sources.tables", "load_table"),
    ):
        # by module path: ``operators`` re-exports a function ``classify``
        before = classify_exec if attr == "write_archive" else None
        tracer.wrap(importlib.import_module(f"{pkg}.{mod}"), attr, attr, before)


def anchors(spark, work: str) -> dict[str, float]:
    """``bench.py``'s two host-speed anchors: a warm 2e9-row JVM sum and
    three warm 32-way shuffles over a fixed small events table."""
    from hrfco_data_pipeline_spark.sources.tables import load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    t0 = time.perf_counter()
    spark.range(2_000_000_000).selectExpr("sum(id)").collect()
    calibration_s = time.perf_counter() - t0

    cal = f"{work}/calibration"
    gen.write_tables(cal, 0, 0.001)

    def probe() -> None:
        (
            load_table(spark, cal, "events")
            .repartition(32)
            .groupBy("event_type", (F.col("user_id") % 64).alias("u"))
            .agg(F.count("*"), F.sum("value"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    probe()
    t0 = time.perf_counter()
    for _ in range(3):
        probe()
    return {
        "calibration_s": calibration_s,
        "calibration_shuffle_s": time.perf_counter() - t0,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (
        os.path.isfile(f"{ROOT}/__spark_entry__.py")
        and os.path.isdir(f"{ROOT}/hrfco_data_pipeline_spark")
    ):
        print("perfbench: run from the repository root (program not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        wl = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            trace_program(run.tracer)
        # first, so that the JIT compiling their code is over before
        # the measured cycles
        t0 = time.perf_counter()
        anchor = anchors(run.spark, run.work)
        anchor_s = time.perf_counter() - t0
        gen_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            wl.prepare()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with run.tracer.span("warmup"):
            wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = run.start_s + statistics.median(gen_s) + warm_s

        pids = (os.getpid(), run.jvm_pid())
        cpu0 = sum(_cpu_s(p) for p in pids)
        cycles = []
        t0 = time.perf_counter()
        with run.tracer.span("measure"):
            while not cycles or time.perf_counter() - t0 < args.seconds:
                cycles.append(wl.cycle())
        cpu_s = sum(_cpu_s(p) for p in pids) - cpu0
        t0 = time.perf_counter()
        attempted, failed = wl.check()
        check_s = time.perf_counter() - t0
        rss = sum(_rss_peak_mb(p) for p in pids)
    finally:
        run.tracer.unwrap()
        run.stop()

    lat = [x for c in cycles for x in c["latencies"]]
    t_val, t_pct = tail(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (median_hd(lat), "s"),
        "cycle_s": (statistics.median(c["seconds"] for c in cycles), "s"),
        "cycle_cpu_s": (cpu_s / len(cycles), "s"),
    }
    print(f"workload {wl.name} seed {args.seed} trace {args.trace}: "
          f"{len(cycles)} cycles, {len(lat)} latency samples, tail = p{t_pct}")
    print("operation latencies (s), in order: "
          + " ".join(f"{x:.3f}" for x in lat))
    print(f"set-up: session {run.start_s:.3f} s, input generation "
          f"{statistics.median(gen_s):.3f} s, warm-up {warm_s:.3f} s; "
          f"output check {check_s:.3f} s, anchors {anchor_s:.3f} s")
    for name, value, unit in layers.named_e2e(wl, cycles, e2e, failed, attempted, rss):
        print(f"  {name} = {value:.6g} {unit}")
    tail_name = "ingest.batch_tail_s" if wl.name == "ingest_stream" else "serve.latency_tail_s"
    if t_pct > 50:
        print(f"  {tail_name} = {t_val:.6g} s (p{t_pct} of {len(lat)}, not gated)")
    else:
        print(f"  {tail_name} = n/a ({len(lat)} samples: no percentile above the "
              "median has 10 beyond it)")
    for name, value in anchor.items():
        print(f"  host.{name} = {value:.4f} s (context, not gated)")

    if args.trace:
        per_layer = layers.per_layer(wl, cycles, run, rss)
        layers.report(wl, cycles, per_layer, run, e2e)
        metrics = per_layer
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(f"{ROOT}/.perfbench/result-{wl.name}-trace{args.trace}.json", "w") as fh:
        json.dump({"seed": args.seed, "e2e": {k: v for k, (v, _) in e2e.items()}}, fh)
    if args.trace:
        run.tracer.dump(f"{ROOT}/.perfbench/spans-{wl.name}.jsonl")
    shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
