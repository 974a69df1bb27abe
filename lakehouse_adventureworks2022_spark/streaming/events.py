"""Structured Streaming over the events table (SURVEY.md §2.9: the
reference has NO streaming — its "incremental" is batch-with-watermark;
this module is the idiomatic Spark replacement, per the BASELINE.json
north star).

Design:
- the *same* windowed aggregations exist as batch twins
  (:func:`sliding_windows_batch`, :func:`session_windows_batch`, and
  ``plans/events.event_windows`` for tumbling) — batch and streaming
  share ``F.window`` / ``F.session_window`` semantics exactly, so the
  batch twin is the oracle-checkable face and the streaming path is
  tested against it;
- ``withWatermark`` bounds state for append-mode output (late events
  beyond the watermark are dropped — the late-data policy the
  reference's hand-rolled checkpoint loop cannot express);
- at scale the stream partitions by grouping key after the source stage;
  state lives in the executor state store keyed by (window, key) and is
  bounded by the watermark horizon.

The parquet fixture stands in for a Kafka/file stream: ``readStream``
over the same files, with the same ts normalization contract as the
batch reader (schema-adaptive — see :func:`stream_events_source`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.functions.dialect import money
from lakehouse_adventureworks2022_spark.sources.readers import read_table, source_schema

#: Streaming-source schema templates by the fixture's physical ts type
#: (the readStream file source requires an explicit schema — no
#: inference). The physical type is probed from the parquet schema at
#: stream-build time so fixture drift (ns-long ↔ µs-timestamp, seen
#: between rounds) cannot silently corrupt the stream.
_EVENTS_SCHEMA_TEMPLATE = (
    "event_id bigint, ts {ts_type}, user_id bigint, event_type string,"
    " value double, props string"
)


def _events_ts_physical_type(spark: SparkSession, path: str) -> str:
    """Spark dtype of the raw ``ts`` column in the parquet file, from the
    readers' schema memo: Spark's inference job runs the first time this
    file is seen (by this or the batch reader), not on later calls."""
    return source_schema(spark, path)["ts"].dataType.simpleString()


def stream_events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, normalized to the same
    engine-facing ``ts: timestamp`` contract as the batch reader
    (``sources/readers.read_table``) — schema-adaptive, so batch and
    stream always agree on values whatever the fixture's physical type.

    The file source requires a *directory* (it watches for new files — a
    real deployment points at a landing dir or Kafka); the read-only
    single-file fixture is exposed through a symlink staging dir.
    """
    import datetime
    import hashlib
    import os
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"events_stream_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)

    ts_type = _events_ts_physical_type(spark, src)
    if ts_type == "bigint":
        # ns-since-epoch long (nanosAsLong) → µs timestamp, truncating
        raw = spark.readStream.schema(
            _EVENTS_SCHEMA_TEMPLATE.format(ts_type="bigint")
        ).parquet(stage)
        out = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type in ("timestamp_ntz", "timestamp"):
        # plain timestamp[us]; NTZ→LTZ cast is value-preserving under the
        # pinned-UTC session TZ
        raw = spark.readStream.schema(
            _EVENTS_SCHEMA_TEMPLATE.format(ts_type=ts_type)
        ).parquet(stage)
        out = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    else:  # pragma: no cover - fails loudly on the NEXT fixture drift
        raise TypeError(
            f"events.ts physical type {ts_type!r} is not one the streaming "
            "source knows how to normalize (expected bigint ns-epoch or a "
            "µs timestamp); teach stream_events_source the new encoding"
        )

    # drift guard: footer stats, no Spark job. A mis-scaled conversion
    # (e.g. dividing real µs values by 1000 — the silent round-4 failure
    # mode) lands decades before 2000; fail loudly instead. The fixture
    # is a single file; a Spark-written events source is a directory —
    # probe its part files until one has a non-empty row group (any
    # part's stats serve the sanity check).
    stats_min = _ts_stats_min(src)
    if isinstance(stats_min, int):  # ns-epoch long
        stats_min = datetime.datetime.utcfromtimestamp(stats_min / 1e9)
    if isinstance(stats_min, datetime.datetime) and stats_min.year < 2000:
        raise ValueError(
            f"events.ts minimum {stats_min} predates 2000-01-01 — fixture "
            "timestamp encoding drifted; refusing to stream silently-wrong "
            "timestamps"
        )
    return out


def _ts_stats_min(src: str):
    """Min ``ts`` from parquet footer statistics (no Spark job); None if
    no part carries stats."""
    import os

    import pyarrow.parquet as pq

    files = (
        sorted(
            os.path.join(src, n)
            for n in os.listdir(src)
            if n.endswith(".parquet")
        )
        if os.path.isdir(src)
        else [src]
    )
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for i in range(row_group.num_columns):
                col = row_group.column(i)
                if col.path_in_schema == "ts" and col.statistics is not None:
                    return col.statistics.min
    return None


def stream_tumbling_counts(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming tumbling 1-hour counts per event type with a late-data
    watermark — the streaming twin of ``plans/events.event_windows``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            money(F.sum("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


def run_stream_once(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a stream to completion against the fixture files and return
    the final result from the memory sink (test/dev harness).

    ``complete`` suits aggregations; stream-stream joins (no aggregation)
    require ``append``.
    """
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    out = spark.table(query_name)
    q.stop()
    return out


# ---- batch twins (oracle-checkable faces of the streaming ops) -------

def sliding_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4
    windows). Same ``F.window`` operator a stream would run under a
    watermark."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            money(F.sum("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


def session_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap
    (``F.session_window``: start = first event, end = last event + gap;
    a gap of exactly 30 min starts a NEW session — end bound exclusive).
    """
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            money(F.sum("value")).alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "event_count",
            "total_value",
        )
    )
