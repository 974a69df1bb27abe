"""Streaming retrieval-index ingestion (streaming/index_ingest.py):
streamed docs become searchable, replay is idempotent, existing cells
never rewrite."""

from __future__ import annotations

import pytest

import glob
import os

from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators.vector_index import (
    append_index,
    load_index,
)
from lakehouse_adventureworks2022_spark.operators.vectorize import (
    chunk_index_ensure,
    hashing_vectorizer,
    retrieval_search,
)
from lakehouse_adventureworks2022_spark.sources.readers import read_table
from lakehouse_adventureworks2022_spark.storage import commit
from lakehouse_adventureworks2022_spark.streaming.index_ingest import (
    stream_index_ingest,
)

SF = "/root/testdata/sf0.001"


def _run_ingest(spark, src_dir, idx, ckpt):
    src = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(str(src_dir))
    q = stream_index_ingest(src, idx, str(ckpt))
    q.processAllAvailable()
    q.stop()


@pytest.mark.slow
def test_streamed_docs_become_searchable_and_replay_is_idempotent(
    spark, tmp_path
):
    docs = read_table(spark, SF, "documents")
    seed = docs.filter("doc_id < 300")
    arriving = docs.filter("doc_id >= 300 AND doc_id < 400")

    idx = str(tmp_path / "idx")
    chunk_index_ensure(seed, idx)  # train+seed the index
    cells_before = load_index(spark, idx).data.count()
    files_before = set(glob.glob(f"{idx}/gen-*/base/*.parquet"))

    src_dir = tmp_path / "arrivals"
    arriving.coalesce(1).write.mode("overwrite").parquet(str(src_dir))
    _run_ingest(spark, src_dir, idx, tmp_path / "ckpt")

    index = load_index(spark, idx)
    assert index.data.count() > cells_before  # new vectors landed
    # existing cell files were NOT rewritten (frozen-centroid append)
    assert files_before == set(glob.glob(f"{idx}/gen-*/base/*.parquet"))

    # a streamed doc's own text now retrieves its chunk at rank 1
    queries = arriving.limit(5).select(
        (F.col("doc_id") + F.lit(7_000_000_000)).alias("query_id"),
        F.substring("text", 1, 200).alias("query_text"),
    )
    hits = retrieval_search(queries, index, k=5)
    self_hits = hits.filter(
        (F.col("cand_id") / 1_000_000).cast("long")
        == F.col("query_id") - 7_000_000_000
    )
    assert self_hits.filter(F.col("rank") == 1).count() >= 4

    # replay via the recorded-ids fast path: nothing double-indexed
    n1 = load_index(spark, idx).data.count()
    _run_ingest(spark, src_dir, idx, tmp_path / "ckpt")
    assert load_index(spark, idx).data.count() == n1

    # crash-window replay: re-apply the SAME batch tag directly (as a
    # restart would after crashing between append and record) — the
    # tag's committed rows are replaced instead of duplicated
    from lakehouse_adventureworks2022_spark.streaming.index_ingest import (
        index_batch,
    )

    index_batch(
        arriving, idx, batch_tag=commit.stream_tag(str(tmp_path / "ckpt"), 0)
    )
    assert load_index(spark, idx).data.count() == n1


def test_two_streams_feed_one_index(spark, tmp_path):
    """Spark numbers batches per checkpoint: a second stream with a
    fresh checkpoint (its batch 0 again) must land its chunks in the
    shared index, not be skipped as a replay of the first stream's."""
    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    chunk_index_ensure(docs.filter("doc_id < 100"), idx)
    counts = [load_index(spark, idx).data.count()]
    for i, lo in enumerate((100, 130)):
        src_dir = tmp_path / f"arrivals{i}"
        docs.filter(f"doc_id >= {lo} AND doc_id < {lo + 30}").coalesce(
            1
        ).write.parquet(str(src_dir))
        _run_ingest(spark, src_dir, idx, tmp_path / f"ckpt{i}")
        counts.append(load_index(spark, idx).data.count())
    assert counts[0] < counts[1] < counts[2]


@pytest.mark.slow
def test_quality_gate_filters_before_indexing(spark, tmp_path):
    docs = read_table(spark, SF, "documents")
    seed = docs.filter("doc_id < 100")
    idx = str(tmp_path / "idx2")
    chunk_index_ensure(seed, idx)
    n0 = load_index(spark, idx).data.count()

    # junk batch: all docs fail the trainability gate (too short)
    junk = spark.createDataFrame(
        [(9001, "x", "en", "web", 1), (9002, "", "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src_dir = tmp_path / "junk"
    junk.coalesce(1).write.mode("overwrite").parquet(str(src_dir))
    _run_ingest(spark, src_dir, idx, tmp_path / "ckpt2")
    assert load_index(spark, idx).data.count() == n0  # nothing added


def test_uncommitted_append_batches_are_invisible(spark, tmp_path):
    """A crash mid-append leaves a batch dir the manifest does not name
    (possibly with partial/corrupt part-files): load_index must neither
    read it nor fail on it — only committed batches join the index rows
    (ADVICE r5)."""
    import os

    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    chunk_index_ensure(docs.filter("doc_id < 200"), idx)
    base = load_index(spark, idx).data.count()

    # committed append: normal path, tag recorded in the manifest
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        hashing_vectorizer,
    )

    newv = hashing_vectorizer(
        docs.filter("doc_id >= 200 AND doc_id < 220"), keep_cols=("doc_id",)
    ).selectExpr("doc_id AS vec_id", "embedding")
    append_index(newv, idx, batch_tag="b1")
    committed = load_index(spark, idx).data.count()
    assert committed == base + 20

    # crashed append: partial dir, garbage part-file, not in the manifest
    crash = f"{idx}/gen-00001/appends/b2-crashed"
    os.makedirs(crash)
    with open(f"{crash}/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet footer")
    assert load_index(spark, idx).data.count() == committed

    # the replay writes a fresh dir and commits — now visible
    append_index(newv, idx, batch_tag="b2")
    assert load_index(spark, idx).data.count() == committed + 20
