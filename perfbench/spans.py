"""Layer tracing from outside the program.

Three sources, all switched on only for a traced run (``--trace 1``):

- Python spans around the program's public functions. ``Tracer.wrap``
  replaces a function in every module that bound it, because
  ``streaming/pipeline.py`` and ``plans/hydro.py`` import by name. A span
  also sets the Spark job group to its path, so every Spark job a span
  starts carries the span's name into the event log.
- Spark's JSON event log (``spark.eventLog.*``), read after the session
  stops: per-task executor CPU, run and GC time, shuffle, spill and input
  records, attributed to spans by job group.
- A ``StreamingQueryListener``, always on because the end-to-end batch
  latency comes from it: the ``durationMs`` split of every micro-batch.

Spans live in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
GROUP = "spark.jobGroup.id"


class BatchListener(StreamingQueryListener):
    """Collects each micro-batch's progress (rows and ``durationMs``) per
    query run. Listener events arrive asynchronously, so ``batches`` waits
    for the run's termination event, which the bus delivers after all of
    the run's progress events."""

    def __init__(self) -> None:
        self._progress: dict[str, list[dict]] = defaultdict(list)
        self._done: dict[str, threading.Event] = defaultdict(threading.Event)
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self._progress[str(p.runId)].append(
                {"rows": p.numInputRows, **dict(p.durationMs)}
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            done = self._done[str(event.runId)]
        done.set()

    def batches(self, run_id: str, timeout: float = 60.0) -> list[dict]:
        """The non-empty micro-batches of one finished query run."""
        with self._lock:
            done = self._done[run_id]
        if not done.wait(timeout):
            raise RuntimeError(f"no termination event for query run {run_id}")
        with self._lock:
            return [p for p in self._progress.pop(run_id, []) if p["rows"] > 0]


class Tracer:
    """In-memory span recorder; a no-op unless ``enabled``.

    A span is ``(path, start_s, end_s)`` where ``path`` joins the names of
    the open spans with ``/``. The foreachBatch callback runs on a py4j
    thread while the main thread waits, so one stack serves both.
    """

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.stack: list[str] = []
        self.spans: list[tuple[str, float, float]] = []
        self._wrapped: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        prev = self.sc.getLocalProperty(GROUP)
        self.stack.append(name)
        path = "/".join(self.stack)
        self.sc.setLocalProperty(GROUP, path)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((path, t0, time.perf_counter()))
            self.stack.pop()
            self.sc.setLocalProperty(GROUP, prev)

    def wrap(self, module, attr: str, name: str, before=None) -> None:
        """Trace ``module.attr`` under span ``name`` wherever it is bound.
        ``before``, if given, is called with the same arguments inside the
        span, ahead of the function."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                if before is not None:
                    before(*args, **kwargs)
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith("hrfco_data_pipeline_spark") or mname == "__spark_entry__"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._wrapped.append((mod, key, orig))
                    setattr(mod, key, traced)

    def unwrap(self) -> None:
        for mod, key, orig in reversed(self._wrapped):
            setattr(mod, key, orig)
        self._wrapped.clear()

    def total(self, under: str, leaf: str) -> tuple[float, int]:
        """(seconds, calls) of every span named ``leaf`` below ``under``."""
        hits = [
            t1 - t0
            for path, t0, t1 in self.spans
            if path.startswith(under + "/") and path.rsplit("/", 1)[-1] == leaf
        ]
        return sum(hits), len(hits)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for p, t0, t1 in self.spans:
                fh.write(json.dumps({"span": p, "start": t0, "end": t1}) + "\n")


def read_event_log(log_dir: str) -> list[dict]:
    """Per-job records from the (uncompressed) event log in ``log_dir``:
    ``group`` plus the summed task metrics of the job's stages."""
    stage_m: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    jobs = []
    for f in sorted(glob.glob(f"{log_dir}/*")):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "group": (ev.get("Properties") or {}).get(GROUP) or "",
                            "stages": ev.get("Stage IDs", []),
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    m = stage_m[ev["Stage ID"]]
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["tasks"] += 1
                    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    m["input_records"] += (tm.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
    seen: set[int] = set()
    for job in jobs:
        agg = defaultdict(float)
        for sid in job["stages"]:
            if sid in stage_m and sid not in seen:  # skipped stages ran no tasks
                seen.add(sid)
                agg["stages"] += 1
                for k, v in stage_m[sid].items():
                    agg[k] += v
        job["metrics"] = dict(agg)
    return jobs
