"""Streaming sinks into the medallion tables: checkpointed file sink and
foreachBatch bronze ingestion.

This replaces the reference's hand-rolled pull loop (read checkpoint →
filter → append → write checkpoint, ``extract_load_template.py:60-83``)
with Structured Streaming's own exactly-once machinery:

- :func:`stream_to_bronze` — file-sink append with a checkpoint
  location: restarts resume from the last committed offset, files are
  committed atomically via the sink log (no duplicate ingestion on
  crash/restart — the property the reference's loop could not guarantee
  between its append and its checkpoint write);
- :func:`stream_to_bronze_foreach_batch` — ``foreachBatch`` into a
  :class:`TableManager` table for sinks the file sink can't express
  (partition overwrite, MERGE on Delta). Idempotence comes from the
  ``batch_id``: re-delivered batches skip when the recorded id is
  already applied (the checkpoint stores the offset→batch mapping;
  :func:`once_per_batch` keeps the applied ids).

Scale: checkpoints/offsets are tiny metadata; data flows
executor→files; state never passes the driver.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lakehouse_adventureworks2022_spark.storage import commit
from lakehouse_adventureworks2022_spark.storage.tables import TableManager


def once_per_batch(
    checkpoint_dir: str, apply: Callable[[DataFrame, int], None]
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function that runs ``apply`` once per batch
    id: applied ids are recorded in the checkpoint dir AFTER ``apply``
    (one atomic file replace), so a re-delivered batch is skipped and a
    crash between the two re-applies it — record-then-apply would skip
    a batch that never landed."""
    path = os.path.join(checkpoint_dir, "_applied_batches.json")

    def run(batch_df: DataFrame, batch_id: int) -> None:
        applied = set(commit.read_json(path, []))
        if batch_id in applied:
            return  # re-delivery after restart: already applied
        apply(batch_df, batch_id)
        commit.replace_file(path, json.dumps(sorted(applied | {batch_id})))

    return run


def stream_to_bronze(
    events: DataFrame, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Exactly-once parquet append with ingestion metadata (W1 semantics
    under streaming): restartable via the checkpoint."""
    enriched = events.withColumn(
        "ingestion_date", F.to_date(F.current_timestamp())
    )
    return (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_to_bronze_foreach_batch(
    events: DataFrame,
    tables: TableManager,
    table: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """foreachBatch ingestion into a managed table with explicit
    batch-id idempotence (re-delivered batches are skipped)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.withColumn(
            "ingestion_date", F.to_date(F.current_timestamp())
        )
        tables.append(batch, table, partition_by="ingestion_date")

    return (
        events.writeStream.foreachBatch(once_per_batch(checkpoint_dir, upsert))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
