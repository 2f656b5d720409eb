"""The workloads. Each drives the program only through its public
entry points and measures whole cycles:

- ``Ingest`` (``ingest_stream``): one cycle drains a pre-landed backlog
  through ``streaming.pipeline.run_stream`` (closed input,
  ``availableNow``) into fresh sink directories, then runs the fixed
  monitoring read-back over the fact, alerts and DLQ outputs.
- ``Serve`` (``dashboard_serve``): one closed-loop client; one cycle is
  one round over the monitoring-server endpoints in a seeded order, each
  request ``queries()[name](spark, sf_dir).collect()``.
  Every endpoint is requested equally often: no request trace exists in
  the repo, so the uniform mix is an assumption.

``cycle()`` returns the cycle's wall seconds and its per-operation
latencies; ``check()`` compares outputs with an independent twin
outside the timed region and returns ``(checked outputs, mismatches)``:
the four sinks of the last drain, or every measured request.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from check import fingerprint, oracle_fingerprints

# Inputs per workload. Sizes are fixed so the work per cycle does not
# depend on the host; see BENCHMARK.json for why each was chosen. One
# backlog file is one 10-minute poll and the program takes 4 files per
# micro-batch. A drain of 10 batches is what a run's time allows; a tail
# above the median would need 22. For the first dozen batches, or three
# rounds of requests, the JVM's JIT compilers take more CPU than the
# workload itself and batch and request times fall by a third; timing
# that stretch measures how fast the host compiles. The warm-up runs
# through most of it.
INGEST_FILES = 40  # 4,800 lines -> 10 micro-batches
INGEST_WARM_FILES = 24  # one drain of 6 micro-batches of the same shape
SERVE_SF = 0.01
SERVE_WARM_ROUNDS = 3

SERVE_ENDPOINTS = (
    "hydro_station_list",
    "hydro_station_detail",
    "hydro_threshold_audit",
    "hydro_alert_counts",
    "hydro_recent_alerts_500",
    "hydro_internal_levels",
    "hydro_archive_partitions",
    "mon_status_counts",
    "mon_summary",
    "mon_activity_delta",
    "metrics_durations",
)


class Ingest:
    name = "ingest_stream"

    def __init__(self, run) -> None:
        from hrfco_data_pipeline_spark.streaming import pipeline

        self.run = run
        self.pipeline = pipeline
        self.backlog = f"{run.work}/backlog"
        self.expected: dict[str, int] = {}
        self.files: list[tuple[int, int]] = []  # (data files, bytes) per drain

    def prepare(self) -> None:
        shutil.rmtree(self.backlog, ignore_errors=True)
        self.expected = gen.write_wire_backlog(self.backlog, self.run.seed, INGEST_FILES)

    def warm(self) -> None:
        warm = f"{self.run.work}/warm-backlog"
        shutil.rmtree(warm, ignore_errors=True)
        gen.write_wire_backlog(warm, self.run.seed + 1, INGEST_WARM_FILES)
        self._drain(warm, f"{self.run.work}/warm-out")
        shutil.rmtree(warm)

    def _drain(self, src: str, out: str) -> tuple[float, list[dict], set[str]]:
        """Drain ``src`` into fresh sinks under ``out``; returns the
        seconds, the micro-batches and the query's ids."""
        from hrfco_data_pipeline_spark.sources.synthetic import synthetic_stations

        spark = self.run.spark
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        q = self.pipeline.run_stream(
            spark,
            self.pipeline.observations_file_stream(spark, src),
            synthetic_stations(spark),
            f"{out}/sinks",
            f"{out}/checkpoint",
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return dt, self.run.listener.batches(str(q.runId)), {str(q.id), str(q.runId)}

    def readback(self, sinks: str) -> list:
        """The fixed monitoring reads a dashboard makes over the sinks."""
        from pyspark.sql import functions as F

        spark = self.run.spark
        fact = spark.read.parquet(f"{sinks}/fact")
        alerts = spark.read.parquet(f"{sinks}/alerts")
        return [
            fact.groupBy("flood_warning_level").count().collect(),
            fact.groupBy("observation_code")
            .agg(F.max("observation_time"), F.count("*"))
            .collect(),
            alerts.filter(F.col("warning_level") != "NORMAL")
            .groupBy("warning_level")
            .count()
            .collect(),
            spark.read.parquet(f"{sinks}/dlq").count(),
        ]

    def cycle(self) -> dict:
        out = f"{self.run.work}/out"
        with self.run.tracer.span("drain"):
            drain_s, batches, ids = self._drain(self.backlog, out)
        # the stream's own jobs carry its ids as their job group
        self.run.stream_groups.update(ids)
        t1 = time.perf_counter()
        with self.run.tracer.span("readback"):
            self.readback(f"{out}/sinks")
        read_s = time.perf_counter() - t1
        self.files.append(_dir_stats(f"{out}/sinks"))
        e = self.expected
        return {
            "seconds": drain_s + read_s,
            "latencies": [b["triggerExecution"] / 1e3 for b in batches],
            "batches": batches,
            "drain_s": drain_s,
            "readback_s": read_s,
            # observations committed to the fact sink, as the check verifies
            "rows": e["lines"] - e["corrupt"] - e["f1_drops"],
        }

    def check(self) -> tuple[int, int]:
        from check import stream_twin_mismatches

        failed = stream_twin_mismatches(
            self.run.spark, self.backlog, f"{self.run.work}/out/sinks", self.expected
        )
        return 4, failed  # archive, fact, alerts, DLQ


def _dir_stats(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``, ignoring Spark's markers."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Serve:
    """One closed-loop client over the monitoring-server endpoints. Each
    request builds the endpoint's query and collects it; its result is
    fingerprinted outside the timed interval and checked against the
    DuckDB twin once per endpoint after the measured rounds."""

    name = "dashboard_serve"

    def __init__(self, run) -> None:
        import __spark_entry__

        self.run = run
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.data = f"{run.work}/tables"
        self.results: list[tuple[str, str]] = []
        self.rows_returned = 0

    def prepare(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        gen.write_tables(self.data, self.run.seed, SERVE_SF)

    def request(self, name: str) -> float:
        spark, tr = self.run.spark, self.run.tracer
        t0 = time.perf_counter()
        with tr.span(name):
            with tr.span("build"):
                df = self.queries[name](spark, self.data)
            with tr.span("exec"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        self.results.append((name, fingerprint(df.columns, rows)))
        self.rows_returned += len(rows)
        return dt

    def warm(self) -> None:
        for _ in range(SERVE_WARM_ROUNDS):
            for name in SERVE_ENDPOINTS:
                self.request(name)
        self.results.clear()
        self.rows_returned = 0

    def cycle(self) -> dict:
        order = list(SERVE_ENDPOINTS)
        self.run.rng.shuffle(order)
        lat = [self.request(n) for n in order]
        return {"seconds": sum(lat), "latencies": lat}

    def check(self) -> tuple[int, int]:
        want = oracle_fingerprints(self.data, {n: self.oracles[n] for n in SERVE_ENDPOINTS})
        bad = [n for n, fp in self.results if fp != want[n]]
        for n in sorted(set(bad)):
            print(f"MISMATCH {n}: result differs from its oracle_sql() twin")
        return len(self.results), len(bad)


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
