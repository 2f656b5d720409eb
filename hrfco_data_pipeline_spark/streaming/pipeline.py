"""Streaming twin of the hydrology pipeline.

The batch transforms (operators/classify.py) are pure
DataFrame→DataFrame functions, so binding them to ``readStream`` is the
whole job — write once, run both (SURVEY §7 design stance).

Topology (mirrors §3.1 of the survey):

    kafka/file JSON source (admission-capped per micro-batch)
      → from_json (T3, corrupt-record capture)
      → foreachBatch:  coalesce(1) → persist
        → process_observations (F1, F2, J1 stream-static broadcast join,
          C1-C4)                                [stateless → no watermark]
        → archive (W3) ∥ fact (W4) ∥ alerts (C5, W7) ∥ DLQ (W8)
        → await all four → unpersist

W6: the reference submits its storage writes to a fixed 3-thread pool,
one future per sink (HRFCOStorageService.java:58-121). Here each sink
write is a Spark job submitted from its own thread over the one cached
batch, and every future is awaited before the batch's caches are
released.

Delivery: checkpointed at-least-once into plain appends. A batch that
fails after some sinks have written is replayed on restart and those
sinks then hold its rows twice (``created_at`` and the publish
timestamps come from wall time, so the copies are not identical). The
DLQ catches parse failures and, with breakers, storage failures (SURVEY
§4 note). The stations dim is re-read every micro-batch by the
stream-static join, which subsumes the reference's threshold cache
refresh (J1).

Kafka options mirror S4 (subscribe hrfco-waterlevel, startingOffsets
earliest); tests use the file source for hermeticity.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hrfco_data_pipeline_spark.operators.classify import (
    build_alerts,
    process_observations,
)
from hrfco_data_pipeline_spark.sinks.writers import (
    write_archive,
    write_dlq,
    write_fact,
)

OBS_WIRE_SCHEMA = (
    "wlobscd string, ymdhm string, wl string, fw string, _corrupt string"
)

# Admission caps: each source admits a bounded micro-batch, so
# ``run_stream`` can process every batch as a single task. A file is
# one poll (one record per station), so 4 files are 4 polls.
MAX_FILES_PER_TRIGGER = 4
# A Kafka record is one observation. Without a cap an ``earliest``
# backlog would arrive as one batch on one core. One task's share of a
# batch grows by about 25 us a record over a fixed ~1.2 s per batch (a
# 4-core VM, local[4]: 480 records 1.3 s, 24,000 1.6 s, 48,000 2.2 s,
# 96,000 3.4 s), so at 20,000 records the row work stays near a third
# of the fixed cost while a catch-up batch still holds 40x the four
# 120-station polls that make a file-source batch.
MAX_OFFSETS_PER_TRIGGER = 20_000


def observations_file_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """JSON-lines file source (test stand-in for the Kafka source S4).

    Returns raw (value, parsed struct, _corrupt) — same shape the Kafka
    binding produces from the topic value bytes.
    """
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .load(source_dir)
    )
    rec = F.from_json(
        "value",
        OBS_WIRE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    return raw.select("value", rec.alias("rec")).select(
        "value",
        F.col("rec.wlobscd").alias("wlobscd"),
        F.col("rec.ymdhm").alias("ymdhm"),
        F.col("rec.wl").alias("wl"),
        F.col("rec.fw").alias("fw"),
        F.col("rec._corrupt").alias("_corrupt"),
    )


def observations_kafka_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str = "hrfco-waterlevel",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka binding of the same wire parse (S4; untested here — no
    broker in this container, the file source above is the test twin)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", MAX_OFFSETS_PER_TRIGGER)
        .load()
    )
    rec = F.from_json(
        F.col("value").cast("string"),
        OBS_WIRE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    return raw.select(F.col("value").cast("string").alias("value"), rec.alias("rec")).select(
        "value",
        F.col("rec.wlobscd").alias("wlobscd"),
        F.col("rec.ymdhm").alias("ymdhm"),
        F.col("rec.wl").alias("wl"),
        F.col("rec.fw").alias("fw"),
        F.col("rec._corrupt").alias("_corrupt"),
    )


def run_stream(
    spark: SparkSession,
    stream: DataFrame,
    stations: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    dedup: bool = False,
    breakers: dict | None = None,
) -> StreamingQuery:
    """Bind the full pipeline to a streaming source.

    ``dedup=True`` adds the idiomatic-Spark upgrade the reference lacks:
    per-(station, minute) duplicate drop with a 1-hour watermark (off by
    default for parity — SURVEY §7 Phase 3).

    ``breakers`` (R2) optionally maps sink name ("archive" / "fact" /
    "alerts") to a ``sinks.reliability.SinkCircuitBreaker``. A guarded
    sink that fails — or whose breaker is open — no longer kills the
    trigger: the failure lands in the DLQ as a storage-failure envelope
    (W8's isPartialFailure path, WaterLevelProcessor.java:70-75) and the
    stream carries on, exactly the reference's degrade-and-continue
    contract. Without breakers, sink errors propagate and fail the
    query (fail-stop default).
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # one task per batch: the source's admission cap bounds it, and
        # more partitions only multiply tasks and small output files
        batch = batch.coalesce(1).persist()
        classified = None
        try:
            good = batch.filter(F.col("_corrupt").isNull())
            dlq = batch.filter(F.col("_corrupt").isNotNull()).select(
                F.lit(None).cast("string").alias("original_key"),
                F.col("value").alias("original_value"),
                F.lit("Processing failed: JsonParseException").alias("error_reason"),
            )
            classified = process_observations(
                good.drop("value", "_corrupt"), stations
            ).persist()
            storage_failures: list[tuple[str, str]] = []

            def guarded(name: str, fn):
                """Without a breaker for ``name`` a sink error propagates
                and fails the query (fail-stop default); with one, it is
                recorded for the DLQ and the stream carries on."""
                breaker = (breakers or {}).get(name)
                if breaker is None:
                    return fn

                def call() -> None:
                    try:
                        breaker.call(fn)
                    except Exception as exc:  # noqa: BLE001 — degrade, DLQ, continue
                        storage_failures.append((name, type(exc).__name__))

                return call

            def write_alerts() -> None:
                build_alerts(classified).withColumn(
                    "timestamp", F.unix_millis(F.current_timestamp())
                ).write.mode("append").parquet(f"{out_dir}/alerts")

            def write_dead_letters() -> None:
                out = dlq
                if storage_failures:
                    env = spark.createDataFrame(
                        [
                            (None, f"batch {batch_id}", f"Storage failed: {n}: {e}")
                            for n, e in storage_failures
                        ],
                        "original_key string, original_value string, error_reason string",
                    )
                    out = out.unionByName(env)
                write_dlq(out, f"{out_dir}/dlq")

            sinks = (
                ("archive", lambda: write_archive(classified, f"{out_dir}/archive", fmt="json")),
                ("fact", lambda: write_fact(classified, f"{out_dir}/fact")),
                ("alerts", write_alerts),
            )
            # W6 fan-out: one thread per sink, each job in the stream's
            # job group (so stopping the query cancels it). Leaving the
            # pool waits for every write, even after one has failed.
            with ThreadPoolExecutor(max_workers=len(sinks) + 1) as pool:

                def submit(fn):
                    return pool.submit(inheritable_thread_target(spark)(fn))

                futures = [submit(guarded(name, fn)) for name, fn in sinks]
                if breakers:
                    wait(futures)  # the DLQ carries the storage failures
                futures.append(submit(write_dead_letters))
            for f in futures:
                f.result()  # fail-stop: the first sink error fails the batch
        finally:
            if classified is not None:
                classified.unpersist()
            batch.unpersist()

    src = stream
    if dedup:
        # dropDuplicatesWithinWatermark, NOT dropDuplicates: with plain
        # dropDuplicates the dedup state only evicts when the watermark
        # column is itself part of the key subset — (wlobscd, ymdhm)
        # isn't, so state would grow without bound on a real stream.
        # The WithinWatermark variant expires keys once they fall behind
        # the watermark, bounding state to one hour of traffic.
        src = (
            src.withColumn(
                "event_ts",
                F.coalesce(
                    F.try_to_timestamp(F.col("ymdhm"), F.lit("yyyyMMddHHmm")),
                    F.current_timestamp(),
                ),
            )
            .withWatermark("event_ts", "1 hour")
            .dropDuplicatesWithinWatermark(["wlobscd", "ymdhm"])
        )

    writer = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
