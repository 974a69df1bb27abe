"""Streaming distinct-set state: a mergeable KMV/theta sketch per key
group maintained per micro-batch — the streaming twin of
``theta.kmv_sketches`` (the batch form scans the corpus; a stream
cannot re-scan history, so it keeps the mergeable bottom-k state).
Because the KMV merge is LOSSLESS w.r.t. the sketch, the streamed
state is BYTE-EQUAL to the batch sketch of everything ingested
(tested) — not merely within an error bound.

Same skeleton and commit protocol as ``streaming/frequent.py`` /
``streaming/quantiles.py``: per batch (``foreachBatch``), sketch the
batch with the bounded two-phase KMV build, merge into the persisted
per-group state with ``theta.kmv_merge``, and commit the state with its
applied batch ids in ONE manifest swap via ``commit.fold`` (crash-safe:
see ``storage/commit.py``'s crash matrix). Re-delivered batches are
skipped by batch id, so at-least-once delivery never double-counts — and
the sketch union is idempotent anyway (a double-merge of the same hashes
is a no-op), giving this state TWO independent exactly-once layers.

Scale: state is one ≤ k-hash array per group — kilobytes at any
stream volume; per batch the only corpus-sized work is the batch's
own bounded partial pass. Answers "distinct users/docs so far", and
pairs of states answer union/intersection/difference via
``theta.kmv_pairwise_overlap`` without touching ingested data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from lakehouse_adventureworks2022_spark.operators.theta import (
    DEFAULT_K,
    _kmv_schema,
    kmv_estimate,
    kmv_merge,
    kmv_sketches,
)
from lakehouse_adventureworks2022_spark.storage import commit

_KIND = "distinct state"


def load_state(
    spark: SparkSession, state_dir: str, template: DataFrame, keys: list
) -> DataFrame:
    manifest = commit.read_committed(state_dir, kind=_KIND, rebuildable=False)
    if manifest is not None:
        return spark.read.parquet(commit.gen_path(state_dir, manifest, "base"))
    return spark.createDataFrame([], _kmv_schema(template, keys))


def apply_distinct_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    value_col: str,
    keys: list,
    k: int = DEFAULT_K,
) -> None:
    """Merge ONE micro-batch into the persisted KMV state (shared by
    the streaming sink and any batch backfill — one code path)."""

    def step(base: str) -> int:
        batch_sketch = kmv_sketches(batch_df, keys, value_col, k=k).persist()
        try:
            state = load_state(batch_df.sparkSession, state_dir, batch_df, keys)
            merged = kmv_merge(state, batch_sketch, keys=keys, k=k)
            merged.coalesce(1).write.parquet(base)
            return batch_df.count()
        finally:
            batch_sketch.unpersist()

    commit.fold(state_dir, batch_id, {"k": k}, step, _KIND)


def stream_distinct_counts(
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str,
    keys: list,
    k: int = DEFAULT_K,
) -> StreamingQuery:
    """Maintain the per-group distinct-sketch state over a stream."""
    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        apply_distinct_batch(batch_df, batch_id, state_dir, value_col, keys, k=k)

    return (
        source.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def distinct_counts_from_state(
    spark: SparkSession, state_dir: str, keys: list, k: int = DEFAULT_K
) -> DataFrame:
    """Current ``(keys..., est_distinct, is_exact)`` from the state —
    reads kilobytes, never the stream."""
    manifest = commit.committed(state_dir, kind=_KIND, rebuildable=False)
    frame = spark.read.parquet(commit.gen_path(state_dir, manifest, "base"))
    return kmv_estimate(frame, keys, k=k)
