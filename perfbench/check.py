"""Output checks, run outside the timed region.

- Query results (``dashboard_serve``) are compared
  with the query's ``oracle_sql()`` DuckDB twin on the same generated
  tables: column names plus the order-insensitive multiset of values,
  exact, floats by ``repr``, types kept distinct.
- The stream's sinks (``ingest_stream``) are compared with a batch twin:
  the same lines read as a batch, ``process_observations`` and
  ``build_alerts`` applied, and the archive and fact projections taken.
  Multisets are compared through two order-insensitive hash sums plus the
  row count. Wall-clock columns are left out (``created_at``, the alert
  and DLQ ``timestamp``), and so is an ``observation_time`` that fell
  back to the wall clock because its source string did not parse.
"""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

import gen


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else ("f", repr(v))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, int):
        return ("i", v)
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    sorted multiset of normalized rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for k in keys:
        h.update(k.encode())
    return h.hexdigest()


def oracle_fingerprints(data_dir: str, sql: dict[str, str]) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in gen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name, q in sql.items():
            cur = con.execute(q)
            cols = [d[0] for d in cur.description]
            out[name] = fingerprint(cols, cur.fetchall())
        return out
    finally:
        con.close()


def _multiset(df, cols):
    from pyspark.sql import functions as F

    c = [F.col(x) for x in cols]
    row = df.agg(
        F.count("*"),
        F.sum(F.xxhash64(*c).cast("decimal(38,0)")),
        F.sum(F.hash(*c).cast("decimal(38,0)")),
    ).first()
    return tuple(row)


def stream_twin_mismatches(spark, backlog, sinks, expected) -> int:
    """Number of sinks (of archive, fact, alerts, DLQ) whose content
    differs from the batch twin over the same backlog."""
    from pyspark.sql import functions as F

    from hrfco_data_pipeline_spark.functions.coercion import parse_obs_time_kst
    from hrfco_data_pipeline_spark.operators.classify import (
        build_alerts,
        process_observations,
    )
    from hrfco_data_pipeline_spark.sources.synthetic import synthetic_stations
    from hrfco_data_pipeline_spark.streaming.pipeline import OBS_WIRE_SCHEMA

    rec = F.from_json(
        "value", OBS_WIRE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    parsed = spark.read.text(backlog).select(rec.alias("r")).select("r.*")
    good = parsed.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    classified = process_observations(good, synthetic_stations(spark)).persist()

    # generated event times are all in 2024; anything later is a
    # wall-clock fallback (unparseable ymdhm) and is masked on both sides
    def masked(c):
        return F.when(F.col(c) < F.lit("2025-01-01").cast("timestamp_ntz"), F.col(c))

    archive_twin = classified.withColumn(
        "kind", F.when(F.col("is_anomaly"), "anomalies").otherwise("normal")
    ).withColumn("obs_date", F.substring("obs_time_str", 1, 10))
    fact_twin = classified.select(
        F.col("wlobscd").alias("observation_code"),
        parse_obs_time_kst("obs_time_str").alias("observation_time"),
        "water_level",
        "flow_rate",
        F.coalesce("is_anomaly", F.lit(False)).alias("is_anomaly"),
        "flood_warning_level",
    ).withColumn("observation_time", masked("observation_time"))
    alerts_twin = build_alerts(classified)

    archive = spark.read.schema(archive_twin.schema).json(f"{sinks}/archive")
    fact = spark.read.parquet(f"{sinks}/fact").withColumn(
        "observation_time", masked("observation_time")
    )
    alerts = spark.read.parquet(f"{sinks}/alerts")
    pairs = {
        "archive": (archive, archive_twin),
        "fact": (fact, fact_twin),
        "alerts": (alerts, alerts_twin),
    }
    bad = set()
    for name, (got, want) in pairs.items():
        cols = want.columns
        sums = _multiset(got, cols)
        if sums != _multiset(want, cols):
            print(f"MISMATCH {name}: stream sink differs from the batch twin")
            bad.add(name)
        if name == "fact":
            n_fact = sums[0]
    classified.unpersist()
    # the twin shares the F1 rule with the stream; the generator does not
    want_fact = expected["lines"] - expected["corrupt"] - expected["f1_drops"]
    if n_fact != want_fact:
        print(f"MISMATCH fact: row count differs from the generator's {want_fact}")
        bad.add("fact")
    n_dlq = spark.read.parquet(f"{sinks}/dlq").count()
    if n_dlq != expected["corrupt"]:
        print(f"MISMATCH dlq: {n_dlq} rows, generator wrote {expected['corrupt']} corrupt")
        bad.add("dlq")
    return len(bad)
