"""Streaming quantiles: a mergeable KLL state maintained per
micro-batch — the streaming twin of ``sketches.kll_sketches`` (the
batch form scans the corpus; a stream cannot re-scan history, so it
keeps the mergeable sketch instead). Same skeleton as
``streaming/frequent.py``: per batch (``foreachBatch``), sketch the
batch with the bounded two-phase KLL build, merge into the persisted
per-group state with ``sketches.kll_merge`` (sketch of the stream ==
merge of the batch sketches — tested), and commit the state with its
applied batch ids in ONE manifest swap via ``commit.fold`` (crash-safe:
see ``storage/commit.py``'s crash matrix). Re-delivered batches are
skipped by batch id, so at-least-once delivery never double-counts.

Guarantee carried in the state (and tested): each group's sketch
answers any quantile within the KLL rank bound (~1/k normalized rank
error at the defaults), with q=0/q=1 EXACT via the tracked extrema;
``quantiles_from_state`` reads the current percentiles without touching
any ingested data.

Scale: state is one O(k log n) sketch row per group — kilobytes at any
stream volume; per batch the only corpus-sized work is the batch's own
partial-sketch pass (which shuffles sketches, never values). Nothing
driver-side exceeds the applied-batch-id list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from lakehouse_adventureworks2022_spark.operators.sketches import (
    _kll_schema,
    kll_merge,
    kll_quantiles,
    kll_sketches,
)
from lakehouse_adventureworks2022_spark.storage import commit

_KIND = "quantile state"


def load_state(
    spark: SparkSession, state_dir: str, template: DataFrame, keys: list
) -> DataFrame:
    """Stored sketch frame, or an empty frame with the right schema
    (key types taken from the batch template) before the first batch."""
    manifest = commit.read_committed(state_dir, kind=_KIND, rebuildable=False)
    if manifest is not None:
        return spark.read.parquet(commit.gen_path(state_dir, manifest, "base"))
    return spark.createDataFrame([], _kll_schema(template, keys))


def apply_quantile_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    value_col: str,
    keys: list,
    k: int = 200,
) -> None:
    """Merge ONE micro-batch into the persisted KLL state (shared by
    the streaming sink and any batch backfill — one code path)."""

    def step(base: str) -> int:
        batch_sketch = kll_sketches(batch_df, keys, value_col, k=k)
        state = load_state(batch_df.sparkSession, state_dir, batch_df, keys)
        merged = kll_merge(state, batch_sketch, keys=keys, k=k)
        merged.coalesce(1).write.parquet(base)
        return batch_df.count()

    commit.fold(state_dir, batch_id, {"k": k}, step, _KIND)


def stream_quantiles(
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str,
    keys: list,
    k: int = 200,
) -> StreamingQuery:
    """Maintain the per-group quantile state over a streaming source."""
    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        apply_quantile_batch(
            batch_df, batch_id, state_dir, value_col, keys, k=k
        )

    return (
        source.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def quantiles_from_state(
    spark: SparkSession,
    state_dir: str,
    qs: list,
    keys: list,
) -> DataFrame:
    """Current quantile estimates from the stored sketches:
    ``(keys..., q, value, n)`` — reads kilobytes, never the stream."""
    manifest = commit.committed(state_dir, kind=_KIND, rebuildable=False)
    frame = spark.read.parquet(commit.gen_path(state_dir, manifest, "base"))
    return kll_quantiles(frame, qs, keys=keys)
