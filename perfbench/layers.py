"""Per-layer metrics of a traced run, and the per-workload names of the
end-to-end ones.

Every per-layer value is per measured cycle (one backlog drain, one round
of requests, one pass over the mix), so counts repeat at a fixed seed.
A layer a workload does not touch reports 0 there, which is the
prediction for it.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from spans import read_event_log

SPARK_FIELDS = (
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("executor_run_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("input_records", "count"),
)


def named_e2e(wl, cycles, e2e, failed, attempted, rss):
    """The end-to-end metrics under the names a reader of this workload
    uses, each with its unit."""
    v = {k: val for k, (val, _) in e2e.items()}
    yield "setup_s", v["setup_s"], "s"
    if wl.name == "ingest_stream":
        rows_per_s = sum(c["rows"] for c in cycles) / sum(c["drain_s"] for c in cycles)
        yield "ingest.rows_per_s", rows_per_s, "rows/s"
        yield "ingest.batch_p50_s", v["latency_p50_s"], "s"
        yield "ingest.readback_s", statistics.median(c["readback_s"] for c in cycles), "s"
        yield "ingest.cycle_s", v["cycle_s"], "s"
    else:
        yield "serve.latency_p50_s", v["latency_p50_s"], "s"
        yield "serve.cycle_s", v["cycle_s"], "s"
    yield "cycle_cpu_s", v["cycle_cpu_s"], "s"
    yield "failed_share", failed / attempted, "ratio"
    yield "peak_rss_mb", rss, "MB"


def _group_sum(jobs, pick) -> dict[str, float]:
    out = defaultdict(float)
    for j in jobs:
        if pick(j["group"]):
            out["jobs"] += 1
            for k, x in j["metrics"].items():
                out[k] += x
    return out


def per_layer(wl, cycles, run, rss) -> dict[str, dict]:
    n = len(cycles)
    tr = run.tracer
    jobs = read_event_log(run.event_log)
    # peak RSS follows how much of the heap the JVM has touched more
    # than the program's data, so it is reported here, ungated
    m: dict[str, tuple[float, str]] = {"memory.peak_rss_mb": (rss, "MB")}

    def span(leaf):
        s, calls = tr.total("measure", leaf)
        return s / n, calls / n

    batches = [b for c in cycles for b in c.get("batches", [])]

    def bsum(*keys):
        return sum(b.get(k, 0) for b in batches for k in keys) / 1e3 / n

    m["streaming.batches"] = (len(batches) / n, "count")
    m["streaming.add_batch_s"] = (bsum("addBatch"), "s")
    m["streaming.wal_commit_s"] = (bsum("walCommit", "commitOffsets"), "s")
    m["streaming.planning_s"] = (bsum("queryPlanning", "getBatch", "latestOffset"), "s")

    # the traced write_archive computes the classified batch first, under
    # its own span; that is operator execution, not the archive write
    exec_s = span("classify_exec")[0]
    for leaf in ("write_archive", "write_fact", "write_dlq"):
        m[f"sinks.{leaf}_s"] = (span(leaf)[0], "s")
    m["sinks.write_archive_s"] = (m["sinks.write_archive_s"][0] - exec_s, "s")
    po_s, po_n = span("process_observations")
    ba_s, ba_n = span("build_alerts")
    covered = sum(m[f"sinks.{x}_s"][0] for x in ("write_archive", "write_fact", "write_dlq"))
    alerts = bsum("addBatch") - covered - exec_s - po_s - ba_s if batches else 0.0
    m["sinks.alerts_s"] = (alerts, "s")
    files = getattr(wl, "files", [])
    n_files = sum(f for f, _ in files) / n
    m["sinks.files_written"] = (n_files, "count")
    m["sinks.bytes_written"] = (sum(b for _, b in files) / n, "bytes")
    rows = sum(c.get("rows", 0) for c in cycles) / n
    m["sinks.rows_per_file"] = (rows / n_files if n_files else 0.0, "rows")

    m["operators.classify_exec_s"] = (exec_s, "s")
    m["operators.process_observations_s"] = (po_s, "s")
    m["operators.process_observations_calls"] = (po_n, "count")
    m["operators.build_alerts_s"] = (ba_s, "s")
    m["operators.build_alerts_calls"] = (ba_n, "count")

    lt_s, lt_n = span("load_table")
    m["sources.load_table_s"] = (lt_s, "s")
    m["sources.load_table_calls"] = (lt_n, "count")
    schema = _group_sum(jobs, lambda g: g.startswith("measure/") and g.endswith("/load_table"))
    m["sources.schema_jobs"] = (schema["jobs"] / n, "count")

    build = _group_sum(jobs, lambda g: g.startswith("measure/") and "/build" in g)
    exe = _group_sum(jobs, lambda g: g.startswith("measure/") and g.endswith("/exec"))
    m["plans.build_s"] = (span("build")[0], "s")
    m["plans.build_jobs"] = (build["jobs"] / n, "count")
    m["plans.exec_s"] = (span("exec")[0], "s")
    m["plans.exec_jobs"] = (exe["jobs"] / n, "count")
    m["plans.rows_returned"] = (getattr(wl, "rows_returned", 0) / n, "rows")

    measured = _group_sum(
        jobs, lambda g: g.startswith("measure") or g in run.stream_groups
    )
    for field, unit in SPARK_FIELDS:
        m[f"spark.{field}"] = (measured[field] / n, unit)

    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def report(wl, cycles, per_layer, run, e2e) -> None:
    """Print the slowest layer, span coverage and the tracing overhead."""
    v = {k: x["value"] for k, x in per_layer.items()}
    if wl.name == "ingest_stream":
        trigger = sum(b["triggerExecution"] for c in cycles for b in c["batches"]) / 1e3 / len(cycles)
        layer = {
            "streaming": trigger - v["streaming.add_batch_s"],
            "sinks": sum(v[f"sinks.{x}_s"] for x in ("write_archive", "write_fact", "write_dlq", "alerts")),
            "operators": v["operators.classify_exec_s"]
            + v["operators.process_observations_s"]
            + v["operators.build_alerts_s"],
        }
        spanned = trigger - v["sinks.alerts_s"]
        print(f"  spans cover {100 * spanned / trigger:.1f}% of batch time; the "
              f"alerts write is the remaining {100 * v['sinks.alerts_s'] / trigger:.1f}%")
    else:
        ops = v["operators.process_observations_s"] + v["operators.build_alerts_s"]
        layer = {
            "sources": v["sources.load_table_s"],
            "operators": ops,
            "plans.build": v["plans.build_s"] - v["sources.load_table_s"] - ops,
            "plans.exec": v["plans.exec_s"],
        }
    for name, s in sorted(layer.items(), key=lambda kv: -kv[1]):
        print(f"  layer {name}: {s:.3f} s per cycle")
    print(f"  slowest layer of {wl.name}: {max(layer, key=layer.get)}")
    path = os.path.join(os.path.dirname(run.work), f"result-{wl.name}-trace0.json")
    if os.path.exists(path):
        with open(path) as fh:
            base = json.load(fh)
        over = e2e["cycle_s"][0] / base["e2e"]["cycle_s"] - 1
        print(f"  tracing overhead: cycle_s {100 * over:+.1f}% against the last "
              f"untraced run (seed {base['seed']})")
