"""E2E streaming pipeline tests: file source → foreachBatch concurrent fan-out
to archive, fact, alerts and DLQ."""

from __future__ import annotations

from hrfco_data_pipeline_spark.plans.wire import synthetic_wire
from hrfco_data_pipeline_spark.sources.synthetic import synthetic_stations
from hrfco_data_pipeline_spark.streaming import (
    observations_file_stream,
    run_stream,
)

SF = "/root/testdata/sf0.001"


def test_stream_fanout(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    synthetic_wire(spark, SF).select("value").coalesce(2).write.mode(
        "overwrite"
    ).text(src)

    q = run_stream(
        spark,
        observations_file_stream(spark, src),
        synthetic_stations(spark),
        out,
        ckpt,
    )
    assert q.awaitTermination(300)

    archive = spark.read.json(f"{out}/archive")
    fact = spark.read.parquet(f"{out}/fact")
    dlq = spark.read.parquet(f"{out}/dlq")
    alerts = spark.read.parquet(f"{out}/alerts")

    n = archive.count()
    assert n > 0 and n == fact.count() == alerts.count()
    # parse-corrupt records are DLQ'd (W8), F1 drops are NOT (silent)
    assert dlq.count() > 0
    kinds = {r["kind"] for r in archive.select("kind").distinct().collect()}
    assert kinds == {"normal", "anomalies"}
    levels = {r["warning_level"] for r in alerts.select("warning_level").distinct().collect()}
    assert "ANOMALY" in levels and "NORMAL" in levels
    # C5: internal levels never leak into the published alerts
    assert not levels & {"NO_THRESHOLD", "PARTIAL_THRESHOLD"}


def test_stream_restart_exactly_once_fact_rows(spark, tmp_path):
    """R3/W4 continuity: stop after batch 1, add data, restart on the
    same checkpoint — the fact sink ends with exactly the union of both
    runs' valid rows, no duplicates and no loss."""
    import pyspark.sql.functions as F

    src, out, ckpt = str(tmp_path / "src2"), str(tmp_path / "o2"), str(tmp_path / "ck2")
    wire = synthetic_wire(spark, SF).select("obs_id", "value")
    first = wire.filter(F.col("obs_id") < 500)
    second = wire.filter(F.col("obs_id") >= 500)
    first.select("value").coalesce(1).write.mode("overwrite").text(src)

    def run_once():
        q = run_stream(
            spark,
            observations_file_stream(spark, src),
            synthetic_stations(spark),
            out,
            ckpt,
        )
        assert q.awaitTermination(300)

    run_once()
    n1 = spark.read.parquet(f"{out}/fact").count()
    assert n1 > 0

    # land the second half as NEW files (append-only source contract)
    second.select("value").coalesce(1).write.mode("append").text(src)
    run_once()
    n2 = spark.read.parquet(f"{out}/fact").count()
    assert n2 > n1
    # exactly-once: fact row count equals the batch twin over BOTH
    # landed files — a replayed batch would overshoot, a lost one undershoot
    from hrfco_data_pipeline_spark.operators.classify import process_observations

    batch_raw = (
        spark.read.text(src)
        .select(
            F.from_json(
                "value", "wlobscd string, ymdhm string, wl string, fw string"
            ).alias("r")
        )
        .select("r.*")
        .filter(F.col("wlobscd").isNotNull())
    )
    want = process_observations(batch_raw, synthetic_stations(spark)).count()
    assert n2 == want


def test_snapshot_sink_complete_mode(spark, tmp_path):
    """A complete-mode aggregate materialized through snapshot_sink is
    a consistent, atomically-replaced parquet view of the latest state
    and equals the batch aggregate over the same input."""
    import json as _json

    from hrfco_data_pipeline_spark.sinks.writers import snapshot_sink

    src = tmp_path / "src"
    src.mkdir()
    rows = [{"k": "a"}, {"k": "b"}, {"k": "a"}, {"k": "c"}, {"k": "a"}]
    (src / "1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema("k string").json(str(src))
    agg = stream.groupBy("k").count()
    out = str(tmp_path / "snap")
    q = (
        agg.writeStream.foreachBatch(snapshot_sink(out))
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r.k: r["count"] for r in spark.read.parquet(out).collect()}
    assert got == {"a": 3, "b": 1, "c": 1}
    import os

    assert not [
        d for d in os.listdir(tmp_path) if ".staging" in d or d.endswith(".old")
    ]


def _land_polls(src, n_files: int, corrupt: bool = False) -> None:
    """``n_files`` JSON-line files of observations over two dates and
    both archive kinds (stations 0-4, 3 and 4 anomalous), optionally
    with one truncated line for the DLQ."""
    src.mkdir()
    for i in range(n_files):
        lines = [
            f'{{"wlobscd":"{c}","ymdhm":"2025010{1 + c % 2}12{i:02d}",'
            f'"wl":"{99.0 if c >= 3 else 1.0 + c}","fw":"1.0"}}'
            for c in range(5)
        ]
        if corrupt:
            lines.append('{"wlobscd":"1","ymdhm":')
        (src / f"poll-{i}.json").write_text("\n".join(lines) + "\n")


def _part_files(root) -> dict[str, int]:
    """{directory relative to ``root``: number of part- files} for every
    directory under ``root`` that holds data files."""
    import os

    return {
        os.path.relpath(d, root): sum(f.startswith("part-") for f in files)
        for d, _, files in os.walk(root)
        if any(f.startswith("part-") for f in files)
    }


def test_stream_sink_jobs_run_in_the_stream_job_group(spark, tmp_path):
    """Every sink write of a micro-batch runs in the stream's job group,
    so stopping the query cancels in-flight writes."""
    from hrfco_data_pipeline_spark.streaming.pipeline import MAX_FILES_PER_TRIGGER

    src = tmp_path / "src"
    _land_polls(src, MAX_FILES_PER_TRIGGER + 1)  # two micro-batches
    q = run_stream(
        spark,
        observations_file_stream(spark, str(src)),
        synthetic_stations(spark),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    assert q.awaitTermination(120)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 2
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) >= 4 * len(batches)  # archive, fact, alerts, DLQ


def test_stream_writes_one_file_per_partition_directory(spark, tmp_path):
    """A micro-batch runs as one task, so every sink partition directory
    holds exactly one data file after a single-batch stream."""
    src, out = tmp_path / "src", tmp_path / "out"
    _land_polls(src, 2, corrupt=True)
    q = run_stream(
        spark,
        observations_file_stream(spark, str(src)),
        synthetic_stations(spark),
        str(out),
        str(tmp_path / "ck"),
    )
    assert q.awaitTermination(120)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 1

    files = _part_files(out)
    assert set(files) == {
        "alerts",
        "dlq",
        "archive/kind=anomalies/obs_date=2025-01-01",
        "archive/kind=anomalies/obs_date=2025-01-02",
        "archive/kind=normal/obs_date=2025-01-01",
        "archive/kind=normal/obs_date=2025-01-02",
        "fact/obs_date=2025-01-01",
        "fact/obs_date=2025-01-02",
    }
    assert set(files.values()) == {1}


def test_stream_sink_error_fails_query_after_all_writes(spark, tmp_path, monkeypatch):
    """Without breakers a sink error fails the query (fail-stop), but only
    after the batch's other writes have finished: none outlives it."""
    import time

    import pytest
    from pyspark.errors import StreamingQueryException

    import hrfco_data_pipeline_spark.streaming.pipeline as pl

    write_archive = pl.write_archive

    def slow_archive(*a, **k):
        time.sleep(1)  # still running when the fact write fails
        write_archive(*a, **k)

    def broken_fact(*a, **k):
        raise IOError("fact store down")

    monkeypatch.setattr(pl, "write_archive", slow_archive)
    monkeypatch.setattr(pl, "write_fact", broken_fact)
    src, out = tmp_path / "src", tmp_path / "out"
    _land_polls(src, 1)
    q = run_stream(
        spark,
        observations_file_stream(spark, str(src)),
        synthetic_stations(spark),
        str(out),
        str(tmp_path / "ck"),
    )
    with pytest.raises(StreamingQueryException, match="fact store down"):
        q.awaitTermination(120)
    assert (out / "archive" / "_SUCCESS").exists()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
