"""Streaming distinct-set state (streaming/distinct.py): the streamed
KMV state must be BYTE-EQUAL to the batch sketch of everything
ingested (lossless merge), replay must be a no-op, and the estimate
read must match the batch estimator."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators.theta import (
    kmv_sketches,
)
from lakehouse_adventureworks2022_spark.sources.readers import read_table
from lakehouse_adventureworks2022_spark.streaming.distinct import (
    apply_distinct_batch,
    distinct_counts_from_state,
    load_state,
    stream_distinct_counts,
)

SF = "/root/testdata/sf0.001"
K = 128


def _state_map(df):
    return {r["event_type"]: list(r["hashes"]) for r in df.collect()}


def test_stream_state_equals_batch_sketch(spark, tmp_path):
    """stream(all micro-batches) == batch sketch of the whole fixture —
    exact state equality, the lossless-merge guarantee end-to-end."""
    events = read_table(spark, SF, "events")
    src_dir = tmp_path / "src"
    for i in range(3):
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src_dir / f"part{i}"))
    source = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "part*"))
    )
    state = str(tmp_path / "state")
    q = stream_distinct_counts(
        source, state, str(tmp_path / "ckpt"), "user_id", ["event_type"], k=K
    )
    q.processAllAvailable()
    q.stop()
    streamed = _state_map(load_state(spark, state, events, ["event_type"]))
    batch = _state_map(kmv_sketches(events, ["event_type"], "user_id", k=K))
    assert streamed == batch
    # the estimate read agrees with exact counts where groups are < k
    exact = {
        r["event_type"]: r["d"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    est = {
        r["event_type"]: (r["est_distinct"], r["is_exact"])
        for r in distinct_counts_from_state(
            spark, state, ["event_type"], k=K
        ).collect()
    }
    for et, d in exact.items():
        if d < K:
            assert est[et] == (float(d), True)


def test_replayed_batch_is_noop(spark, tmp_path):
    events = read_table(spark, SF, "events")
    state = str(tmp_path / "state")
    apply_distinct_batch(events, 0, state, "user_id", ["event_type"], k=K)
    from lakehouse_adventureworks2022_spark.storage import commit

    before = _state_map(load_state(spark, state, events, ["event_type"]))
    n_before = commit.read_manifest(state)["n_total"]
    apply_distinct_batch(events, 0, state, "user_id", ["event_type"], k=K)
    after = _state_map(load_state(spark, state, events, ["event_type"]))
    manifest = commit.read_manifest(state)
    assert after == before
    assert manifest["applied"] == [0] and manifest["n_total"] == n_before


def test_mid_stream_k_change_is_refused(spark, tmp_path):
    import pytest

    events = read_table(spark, SF, "events")
    state = str(tmp_path / "state")
    apply_distinct_batch(events, 0, state, "user_id", ["event_type"], k=K)
    with pytest.raises(ValueError, match="k=128"):
        apply_distinct_batch(
            events, 1, state, "user_id", ["event_type"], k=256
        )
