"""Streaming retrieval-index ingestion: a document stream flows
through the quality gate, chunks, vectorizes, and APPENDS into the
persisted IVF chunk index — the index stays searchable the whole time,
which is how a retrieval corpus actually grows in production (contrast
the batch path, ``vectorize.chunk_index_ensure``, which builds once per
corpus version).

Semantics:

- the index must already exist (train once on a representative seed
  corpus — the appended vectors are assigned to the FROZEN centroids
  via ``vector_index.append_index``, so existing cells never rewrite
  and earlier search results stay stable; drift re-training is
  ``vector_index.retrain_index``, by policy not by accident);
- each micro-batch: quality gate → chunk → hashing-vectorize →
  assign+append (one Arrow pass + one clustered write — no shuffle of
  the existing index);
- idempotence: each batch appends under its batch tag
  (``append_index(batch_tag=…)``), which the index manifest maps to the
  dir of its committed attempt, so a replayed batch REPLACES its rows
  instead of duplicating them — safe even when the crash lands between
  the append and the applied-id record (the recorded ids are only a
  fast-path skip), or in the middle of the replay itself;
- accumulated small appended file sets are the documented maintenance
  debt — run ``vector_index.recluster_index`` on the usual compaction
  cadence (tested in ``test_training_ops``).

Scale: per-batch work is linear in the batch; the index on disk is the
only state. At 100 TB the same shape holds — append files cluster among
themselves, and probe pruning reads one file per probed cell per append
until the next re-cluster.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from lakehouse_adventureworks2022_spark.operators.vectorize import (
    chunk_index_append,
)
from lakehouse_adventureworks2022_spark.streaming.corpus import quality_gate


def index_batch(
    batch_df: DataFrame,
    index_dir: str,
    chunk_tokens: int = 64,
    overlap_tokens: int = 8,
    dim: int = 64,
    batch_tag: str | None = None,
) -> None:
    """Index ONE document batch into the persisted chunk index (shared
    by the streaming sink and batch backfills — one code path: quality
    gate, then ``vectorize.chunk_index_append`` — since r10 the SAME
    chunk→vectorize→frozen-centroid-append the batch ingest query
    (``rag_index_ingest``) runs, rather than a parallel copy of it).

    ``batch_tag`` makes the append idempotent (``append_index``
    replaces a committed tag's rows) — REQUIRED for at-least-once
    delivery, where a replayed batch must replace rather than
    duplicate."""
    chunk_index_append(
        quality_gate(batch_df),
        index_dir,
        chunk_tokens=chunk_tokens,
        overlap_tokens=overlap_tokens,
        dim=dim,
        batch_tag=batch_tag,
    )


def stream_index_ingest(
    docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    chunk_tokens: int = 64,
    overlap_tokens: int = 8,
    dim: int = 64,
) -> StreamingQuery:
    """Document stream → searchable IVF chunk index, exactly-once per
    batch id."""
    applied_path = Path(checkpoint_dir) / "_applied_batches.json"

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        applied: set[int] = set()
        if applied_path.exists():
            applied = set(json.loads(applied_path.read_text()))
        if batch_id in applied:
            return
        # the batch-tagged append is IDEMPOTENT (a replay replaces the
        # tag's committed rows), so a crash between the append and the
        # record below re-applies safely on replay — the applied set is
        # a fast-path skip, not the correctness mechanism
        index_batch(
            batch_df,
            index_dir,
            chunk_tokens,
            overlap_tokens,
            dim,
            batch_tag=f"b{batch_id}",
        )
        applied.add(batch_id)
        applied_path.parent.mkdir(parents=True, exist_ok=True)
        tmp = applied_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(sorted(applied)))
        tmp.rename(applied_path)

    return (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
