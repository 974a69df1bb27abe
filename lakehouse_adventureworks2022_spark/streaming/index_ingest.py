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
  (``append_index(batch_tag=…)``; ``commit.stream_tag`` scopes the
  batch id to the stream's checkpoint, so two streams can feed one
  index), which the index manifest maps to the dir of its committed
  attempt — the committed tags are the applied-batch ledger, so a
  re-delivered batch whose tag is committed is skipped, and a crash
  before the manifest swap (or in the middle of a replay) leaves the
  tag uncommitted and the replay appends it once;
- accumulated small appended file sets are the documented maintenance
  debt — run ``vector_index.recluster_index`` on the usual compaction
  cadence (tested in ``test_training_ops``).

Scale: per-batch work is linear in the batch; the index on disk is the
only state. At 100 TB the same shape holds — append files cluster among
themselves, and probe pruning reads one file per probed cell per append
until the next re-cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from lakehouse_adventureworks2022_spark.operators.vectorize import (
    chunk_index_append,
)
from lakehouse_adventureworks2022_spark.storage import commit
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

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        tag = commit.stream_tag(checkpoint_dir, batch_id)
        manifest = commit.committed(index_dir, "index")
        if tag in manifest["appends"]:
            return  # re-delivered batch: its append is committed
        index_batch(
            batch_df,
            index_dir,
            chunk_tokens,
            overlap_tokens,
            dim,
            batch_tag=tag,
        )

    return (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
