"""Streaming SCD2 dimension maintenance: a CDC change stream applied to
a managed Type-2 dimension via ``foreachBatch`` — the streaming face of
``operators/scd2.py`` (reference parity: the reference applies SCD2
once per Airflow run, ``dags/product.py:189,334-343``; a CDC feed is
the same merge applied per micro-batch).

Semantics per micro-batch (exactly the batch operator — no separate
streaming logic to diverge):

- the batch's *effective date* is the max of its ``change_date_col``
  (the batch-level run-date contract of ``scd2_apply``, derived from
  the data instead of the wall clock so replays are deterministic);
- within-batch multiple versions of one key collapse to the latest by
  ``order_col`` (``scd2_apply``'s dedup-latest step);
- the snapshot swap is the engine's atomic staging+rename overwrite, so
  a crash mid-batch leaves the previous snapshot intact;
- idempotence: applied ``batch_id``s are recorded in the checkpoint dir
  (``sink.once_per_batch``) AFTER the swap — a re-delivered batch after
  restart is skipped, so the merge never double-applies. Record-then-
  swap would be the wrong order: a crash between the two must
  re-apply, not skip.

Scale: each micro-batch shuffles only on the business key (batch side
small → broadcast, see ``operators/scd2.py``); the snapshot rewrite is
the cost of format-agnostic atomicity — on Delta the same function
body would be a MERGE and the rewrite disappears, which is why the
apply logic is factored out of the sink."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lakehouse_adventureworks2022_spark.operators.scd2 import scd2_apply
from lakehouse_adventureworks2022_spark.storage.tables import TableManager
from lakehouse_adventureworks2022_spark.streaming.sink import once_per_batch


def apply_scd2_batch(
    tables: TableManager,
    table: str,
    batch_df: DataFrame,
    business_key: str,
    tracked_cols: list[str],
    change_date_col: str,
    order_col: str | None = None,
) -> None:
    """Apply ONE change batch to the managed SCD2 snapshot (shared by
    the streaming sink and any batch backfill — one code path, one
    semantics)."""
    dates = batch_df.select(
        F.max(F.col(change_date_col).cast("date").cast("string")).alias("d")
    ).collect()
    if not dates or dates[0]["d"] is None:
        return  # empty batch: nothing to merge
    current = tables.read(table) if tables.exists(table) else None
    # scd2_apply projects (key, tracked, meta) explicitly, so the change
    # date column rides along without landing in the snapshot
    nxt = scd2_apply(
        current,
        batch_df,
        business_key,
        tracked_cols,
        effective_date=dates[0]["d"],
        order_col=order_col,
    )
    tables.overwrite(nxt, table)


def stream_scd2(
    changes: DataFrame,
    tables: TableManager,
    table: str,
    checkpoint_dir: str,
    business_key: str,
    tracked_cols: list[str],
    change_date_col: str,
    order_col: str | None = None,
) -> StreamingQuery:
    """CDC stream → SCD2 dimension: every micro-batch runs the batch
    merge; re-delivered batches skip via the recorded batch ids."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        apply_scd2_batch(
            tables,
            table,
            batch_df,
            business_key,
            tracked_cols,
            change_date_col,
            order_col,
        )

    return (
        changes.writeStream.foreachBatch(once_per_batch(checkpoint_dir, merge))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
