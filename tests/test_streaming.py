"""Structured Streaming: the real readStream path must produce exactly
the batch twin's result (same F.window operator under the hood), and the
watermark config must be accepted for append-mode state bounding."""

from __future__ import annotations

import pytest

from lakehouse_adventureworks2022_spark.plans.events import event_windows
from lakehouse_adventureworks2022_spark.streaming.events import (
    run_stream_once,
    session_windows_batch,
    sliding_windows_batch,
    stream_events_source,
    stream_tumbling_counts,
)


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream = stream_tumbling_counts(stream_events_source(spark, sf_dir))
    assert stream.isStreaming
    got = run_stream_once(stream, "t_tumbling")
    want = event_windows(spark, sf_dir)
    assert _rowset(got) == _rowset(want)


def test_stream_sliding_equals_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    src = stream_events_source(spark, sf_dir)
    stream = (
        src.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "event_count"
        )
    )
    got = run_stream_once(stream, "t_sliding")
    want = sliding_windows_batch(spark, sf_dir).drop("total_value")
    assert _rowset(got) == _rowset(want)


def test_stream_session_windows_equals_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    src = stream_events_source(spark, sf_dir)
    stream = (
        src.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "event_count",
        )
    )
    got = run_stream_once(stream, "t_session")
    want = session_windows_batch(spark, sf_dir).drop("total_value")
    assert _rowset(got) == _rowset(want)


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    from lakehouse_adventureworks2022_spark.streaming.joins import (
        click_purchase_join_batch,
        stream_click_purchase_join,
    )
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    stream = stream_click_purchase_join(stream_events_source(spark, sf_dir))
    assert stream.isStreaming
    got = run_stream_once(stream, "t_ss_join", output_mode="append")
    want = click_purchase_join_batch(read_table(spark, sf_dir, "events"))
    assert _rowset(got) == _rowset(want)
    assert got.count() > 0


@pytest.mark.slow
def test_watermark_drops_late_event(spark, tmp_path):
    """An event arriving behind the watermark must NOT revise an already
    finalized window (the late-data policy the reference's hand-rolled
    checkpoint loop cannot express — SURVEY.md §2.9)."""
    import datetime
    import time

    from pyspark.sql import functions as F

    def ev(eid, hhmm, val):
        h, m = divmod(hhmm, 100)
        return (eid, datetime.datetime(2024, 3, 1, h, m), 1, "click", float(val), "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    src = tmp_path / "stream_src"
    src.mkdir()
    # batch 1: three events in the 10:00 window, plus one at 14:00 that
    # advances the watermark (1h) to 13:00, finalizing window 10:00
    spark.createDataFrame(
        [ev(1, 1005, 1), ev(2, 1015, 1), ev(3, 1045, 1), ev(4, 1400, 1)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    events = spark.readStream.schema(schema).parquet(str(src))
    counts = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("t_late_drop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: a LATE event for the finalized 10:00 window (behind the
    # 13:00 watermark) and a fresh 15:00 event to trigger emission
    time.sleep(1)  # distinct file mtime so the source sees a new file
    spark.createDataFrame([ev(5, 1030, 99), ev(6, 1500, 1)], schema).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop()

    got = {
        r["ws"].hour: r["n"] for r in spark.table("t_late_drop").collect()
    }
    assert got[10] == 3  # late event 5 dropped, count unrevised


@pytest.mark.slow
def test_stream_dedup_drops_replayed_copies(spark, tmp_path):
    """A re-delivered batch (same event_ids, later arrival inside the
    watermark horizon) must contribute zero extra rows; result equals the
    exact batch dedup of the replayed input."""
    import shutil

    from pyspark.sql import functions as F

    from lakehouse_adventureworks2022_spark.streaming.dedup import (
        dedup_batch,
        stream_dedup,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 7, "click", 1.0),
        (2, "2024-01-01 10:05:00", 7, "view", 2.0),
        (3, "2024-01-01 10:10:00", 8, "click", 3.0),
    ]
    base = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # batch 1: originals; batch 2: replay of ids 1-2 (5 min later arrival)
    # + one genuinely new event
    replay = base.filter("event_id <= 2").withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES")
    )
    fresh = spark.createDataFrame(
        [(4, "2024-01-01 10:20:00", 8, "purchase", 4.0)],
        "event_id bigint, ts string, user_id bigint, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src_dir = str(tmp_path / "stream_src")
    base.coalesce(1).write.mode("overwrite").parquet(src_dir)
    shutil.rmtree(src_dir + "/_spark_metadata", ignore_errors=True)
    replay.unionByName(fresh).coalesce(1).write.mode("append").parquet(src_dir)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    stream = stream_dedup(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    got = spark.table("t_dedup").select("event_id").collect()
    q.stop()
    ids = sorted(r["event_id"] for r in got)
    assert ids == [1, 2, 3, 4]  # each id exactly once, replay dropped
    all_rows = spark.read.parquet(src_dir)
    assert dedup_batch(all_rows).count() == 4


@pytest.mark.slow
def test_stream_clean_corpus_gate_and_dedup(spark, tmp_path):
    """Streaming corpus ingestion: low-quality docs filtered by the SAME
    thresholds as batch token_stats, replayed duplicates dropped on the
    normalized content hash."""
    import shutil

    from pyspark.sql import functions as F

    from lakehouse_adventureworks2022_spark.operators import textops
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        stream_clean_corpus,
    )

    good = "the quick brown fox jumps over the lazy dog again and again"
    rows1 = [
        (1, good, "2024-01-01 10:00:00"),
        (2, "short", "2024-01-01 10:01:00"),  # fails min-token gate
        (3, "a! b? c. d, e; f: g! h? i. j,", "2024-01-01 10:02:00"),  # punct
    ]
    rows2 = [
        (4, "  THE  quick brown fox jumps over the lazy dog again and again ",
         "2024-01-01 10:10:00"),  # normalized duplicate of doc 1
        (5, good + " with a genuinely new ending", "2024-01-01 10:11:00"),
    ]
    schema = "doc_id bigint, text string, ingest_ts string"
    src_dir = str(tmp_path / "docs_stream")
    b1 = spark.createDataFrame(rows1, schema).withColumn(
        "ingest_ts", F.col("ingest_ts").cast("timestamp")
    )
    b2 = spark.createDataFrame(rows2, schema).withColumn(
        "ingest_ts", F.col("ingest_ts").cast("timestamp")
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src_dir)
    shutil.rmtree(src_dir + "/_spark_metadata", ignore_errors=True)
    b2.coalesce(1).write.mode("append").parquet(src_dir)

    stream = stream_clean_corpus(
        spark.readStream.schema(
            "doc_id bigint, text string, ingest_ts timestamp"
        ).option("maxFilesPerTrigger", "1").parquet(src_dir)
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("t_corpus")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    got = sorted(r["doc_id"] for r in spark.table("t_corpus").collect())
    q.stop()
    # 2/3 fail the gate, 4 is a replayed duplicate of 1 ⇒ survivors 1, 5
    assert got == [1, 5]
    # gate agrees with the batch quality flag
    batch_flags = {
        r["doc_id"]: r["is_quality"]
        for r in textops.token_stats(b1.unionByName(b2)).collect()
    }
    assert batch_flags[1] and batch_flags[5] and not batch_flags[2]


def test_stream_static_dim_enrichment(spark, sf_dir):
    """Stream-static join: streaming events enriched with the (static)
    customer-geo dim equal the batch join, no watermark required."""
    from pyspark.sql import functions as F

    from lakehouse_adventureworks2022_spark.plans import dims
    from lakehouse_adventureworks2022_spark.streaming.events import (
        run_stream_once,
        stream_events_source,
    )
    from lakehouse_adventureworks2022_spark.streaming.joins import (
        stream_enrich_with_dim,
    )

    geo = dims.build_dim_customer_geo(spark, sf_dir)
    src = stream_events_source(spark, sf_dir)
    # user_id keys into the customer dimension on this fixture family
    enriched = stream_enrich_with_dim(
        src.filter(F.col("event_type") == "purchase"),
        geo,
        "user_id",
        "customer_key",
        ["nation_name", "region_name"],
    )
    assert enriched.isStreaming
    got = run_stream_once(enriched, "t_enrich", output_mode="append")
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    events = read_table(spark, sf_dir, "events")
    want = (
        events.filter(F.col("event_type") == "purchase")
        .join(geo, events["user_id"] == geo["customer_key"])
        .select(*got.columns)
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    assert got.count() > 0


def test_stream_source_rejects_unknown_ts_encoding(spark, tmp_path):
    """An events fixture with a ts encoding the normalizer doesn't know
    must fail LOUDLY at stream-build time (round-4 lesson: a silent
    mis-scaled conversion corrupted every streaming timestamp)."""
    import pytest
    from pyspark.sql import functions as F

    spark.range(5).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1.5).alias("ts"),  # double: not a known encoding
        F.col("id").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.parquet(str(tmp_path / "events.parquet"))
    with pytest.raises(TypeError, match="physical type"):
        stream_events_source(spark, str(tmp_path))


def test_stream_source_rejects_prehistoric_timestamps(spark, tmp_path):
    """Footer-stats drift guard: ts values decades before 2000 mean a
    mis-scaled encoding — refuse rather than stream wrong values."""
    import datetime

    import pytest
    from pyspark.sql import functions as F

    # Spark's default INT96 timestamps carry no footer min/max (guard
    # is best-effort there); µs output — the fixture's actual physical
    # type — does, which is what the guard reads
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.createDataFrame(
            [(1, datetime.datetime(1971, 3, 1, 12), 7, "click", 1.0, "{}")],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(str(tmp_path / "events.parquet"))
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    with pytest.raises(ValueError, match="predates"):
        stream_events_source(spark, str(tmp_path))


@pytest.mark.slow
def test_stream_ingest_with_history_matches_batch(spark, tmp_path):
    """Streamed ingestion deduped against persisted history equals the
    batch-mode incremental_dedup of the same (gated) batch, and a
    restart with the same checkpoint re-delivers nothing."""
    from lakehouse_adventureworks2022_spark.operators import dedup
    from lakehouse_adventureworks2022_spark.sources.readers import read_table
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        ensure_dedup_state,
        load_dedup_state,
        quality_gate,
        stream_ingest_with_history,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    hist = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")

    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    hashes, sigs = ensure_dedup_state(hist, state_dir)

    # batch-mode expectation against the SEEDED state (read before the
    # stream appends to it)
    want = {
        r["doc_id"]
        for r in dedup.incremental_dedup(quality_gate(batch), hashes, sigs).collect()
    }

    src_dir = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src_dir)  # one file -> one micro-batch
    stream_src = spark.readStream.schema(batch.schema).parquet(src_dir)
    q = stream_ingest_with_history(stream_src, state_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()

    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got == want and got  # non-trivial survivors
    # accepted docs entered history
    n_hashes = load_dedup_state(spark, state_dir)[0].distinct().count()
    assert n_hashes > hist.count() - 10  # grew past the seeded state

    # restart: same checkpoint, no new files -> nothing re-applied
    q2 = stream_ingest_with_history(
        spark.readStream.schema(batch.schema).parquet(src_dir),
        state_dir, out_dir, ckpt,
    )
    q2.processAllAvailable()
    q2.stop()
    again = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert again == got


def test_two_streams_feed_one_dedup_state(spark, sf_dir, tmp_path):
    """The dedup state outlives any one stream, while Spark numbers
    batches per checkpoint: a second stream with a fresh checkpoint
    (its batch 0 again) must land its output and grow the state, not be
    skipped as a replay of the first stream's batch 0."""
    from lakehouse_adventureworks2022_spark.sources.readers import read_table
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        ensure_dedup_state,
        load_dedup_state,
        stream_ingest_with_history,
    )

    docs = read_table(spark, sf_dir, "documents")
    state_dir = str(tmp_path / "state")
    ensure_dedup_state(docs.filter("doc_id % 3 = 0"), state_dir)
    counts = [load_dedup_state(spark, state_dir)[0].count()]
    for i in (1, 2):
        part = docs.filter(f"doc_id % 3 = {i}")
        src_dir = str(tmp_path / f"src{i}")
        part.coalesce(1).write.parquet(src_dir)
        q = stream_ingest_with_history(
            spark.readStream.schema(part.schema).parquet(src_dir),
            state_dir, str(tmp_path / f"out{i}"), str(tmp_path / f"ckpt{i}"),
        )
        q.processAllAvailable()
        q.stop()
        assert spark.read.parquet(str(tmp_path / f"out{i}")).count() > 0
        counts.append(load_dedup_state(spark, state_dir)[0].count())
    assert counts[0] < counts[1] < counts[2]


def test_append_dedup_state_grows_both_tables(spark, tmp_path):
    """Regression pin: append_dedup_state must append the accepted
    batch's rows to BOTH state tables. The accepted frame's plan reads
    the state paths (vs-history joins), so the first append used to
    trigger recache-by-path and the SIGS write appended a recomputed —
    EMPTY — frame (batch ≥ 2 then missed earlier batches' near-dup
    signatures). Fixed by materializing (localCheckpoint) before the
    first write."""
    from lakehouse_adventureworks2022_spark.operators import dedup
    from lakehouse_adventureworks2022_spark.sources.readers import read_table
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        append_dedup_state,
        ensure_dedup_state,
        load_dedup_state,
        quality_gate,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    state = str(tmp_path / "state")
    hashes, sigs = ensure_dedup_state(docs.filter("doc_id % 2 = 0"), state)
    h0, s0 = hashes.count(), sigs.count()
    accepted = dedup.incremental_dedup(
        quality_gate(docs.filter("doc_id % 4 = 1")), hashes, sigs
    )
    accepted.persist()
    n = accepted.count()
    append_dedup_state(accepted, state)
    dedup.release_cached_inputs(accepted)
    accepted.unpersist()
    hashes, sigs = load_dedup_state(spark, state)
    assert hashes.count() == h0 + n
    assert sigs.count() == s0 + n


@pytest.mark.slow
def test_stream_ingest_bloom_gate_matches_ungated(spark, tmp_path):
    """use_bloom=True lands exactly the rows the ungated stream lands,
    and every accepted batch is absorbed into the persisted bloom (the
    no-false-negative invariant survives multi-batch ingest)."""
    from lakehouse_adventureworks2022_spark.operators import bloom as B
    from lakehouse_adventureworks2022_spark.sources.readers import read_table
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        ensure_dedup_state,
        load_dedup_bloom,
        load_dedup_state,
        stream_ingest_with_history,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    hist = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")

    landed = {}
    for tag, use_bloom in (("plain", False), ("gated", True)):
        state_dir = str(tmp_path / f"state_{tag}")
        out_dir = str(tmp_path / f"out_{tag}")
        ensure_dedup_state(hist, state_dir)
        src_dir = str(tmp_path / f"src_{tag}")
        # two files -> two micro-batches: the second batch must see a
        # bloom grown by the first batch's absorb
        batch.filter("doc_id % 4 = 1").coalesce(1).write.parquet(src_dir)
        batch.filter("doc_id % 4 = 3").coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        q = stream_ingest_with_history(
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1).parquet(src_dir),
            state_dir, out_dir, str(tmp_path / f"ckpt_{tag}"),
            use_bloom=use_bloom,
        )
        q.processAllAvailable()
        q.stop()
        landed[tag] = {
            r["doc_id"] for r in spark.read.parquet(out_dir).collect()
        }

    assert landed["gated"] == landed["plain"] and landed["gated"]
    # the gated run's bloom covers the ENTIRE grown state table
    state_dir = str(tmp_path / "state_gated")
    bf = load_dedup_bloom(state_dir)
    assert bf is not None
    hashes, _ = load_dedup_state(spark, state_dir)
    n = hashes.count()
    from pyspark.sql import functions as F

    covered = (
        B.contains_col(hashes, "content_hash", bf, "hit")
        .agg(F.sum(F.col("hit").cast("int")))
        .head()[0]
    )
    assert covered == n


@pytest.mark.slow
def test_stream_ingest_with_model_gates(spark, tmp_path):
    """The pluggable model gates (classifier / LM-perplexity) filter the
    stream exactly as their batch forms filter the same micro-batch."""
    from lakehouse_adventureworks2022_spark.operators import lm
    from lakehouse_adventureworks2022_spark.sources.readers import read_table
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        ensure_dedup_state,
        perplexity_gate,
        stream_ingest_with_history,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    hist = docs.filter("doc_id % 5 = 0")
    batch = docs.filter("doc_id % 5 != 0")

    # reference model trained on history, persisted for the stream
    model = lm.train_ngram_lm(hist).persist()
    vocab = lm.lm_vocab_size(model)
    # pick a threshold that keeps SOME but not ALL of the batch so the
    # gate's effect is observable
    ppls = sorted(
        r["ppl"]
        for r in lm.score_perplexity(
            batch, model, vocab_size=vocab
        ).collect()
    )
    max_ppl = ppls[len(ppls) // 2]  # median: gate drops roughly half

    state_dir = str(tmp_path / "state")
    ensure_dedup_state(hist, state_dir)
    src_dir = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src_dir)
    q = stream_ingest_with_history(
        spark.readStream.schema(batch.schema).parquet(src_dir),
        state_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        extra_gate=perplexity_gate(model, max_ppl, vocab),
    )
    q.processAllAvailable()
    q.stop()

    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    kept_ids = {
        r["doc_id"]
        for r in lm.score_perplexity(
            batch, model, vocab_size=vocab
        )
        .filter(f"ppl <= {max_ppl}")
        .collect()
    }
    model.unpersist()
    assert got  # gate kept something
    assert got <= kept_ids  # nothing above the threshold landed
    # every gated-out doc is absent even though it passed quality+dedup
    assert len(kept_ids - got) < len(kept_ids)  # most survivors landed


@pytest.mark.slow
def test_stream_classifier_gate_matches_batch_predictions(spark, tmp_path):
    """The classifier gate keeps exactly the docs the batch-mode
    classifier predicts as quality."""
    from lakehouse_adventureworks2022_spark.operators import classifier
    from lakehouse_adventureworks2022_spark.operators import textops
    from lakehouse_adventureworks2022_spark.sources.readers import read_table
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        classifier_gate,
        ensure_dedup_state,
        quality_gate,
        stream_ingest_with_history,
    )
    from pyspark.sql import functions as F

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    hist = docs.filter("doc_id % 5 = 0")
    batch = docs.filter("doc_id % 5 != 0")
    labeled = docs.join(
        textops.token_stats(docs).select(
            "doc_id", F.col("is_quality").cast("int").alias("label")
        ),
        "doc_id",
    )
    model = classifier.train_quality_classifier(labeled)

    state_dir = str(tmp_path / "state")
    ensure_dedup_state(hist, state_dir)
    src_dir = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src_dir)
    q = stream_ingest_with_history(
        spark.readStream.schema(batch.schema).parquet(src_dir),
        state_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        extra_gate=classifier_gate(model, threshold=0.5),
    )
    q.processAllAvailable()
    q.stop()

    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    batch_pred = {
        r["doc_id"]
        for r in classifier.score_quality(quality_gate(batch), model)
        .filter("is_quality_pred")
        .collect()
    }
    assert got  # stream landed something
    assert got <= batch_pred  # nothing the model rejects got through


@pytest.mark.slow
def test_stream_decontamination_alerts_and_removal_equal_batch(spark, tmp_path):
    """Streaming eval-leak coverage (r8): the alert stream flags exactly
    the docs the BATCH contamination_report flags, and the foreachBatch
    decontaminate sink keeps exactly the batch operator's survivors —
    membership is per-doc, so batch boundaries can't change it."""
    import shutil

    from pyspark.sql import functions as F

    from lakehouse_adventureworks2022_spark.operators.decontaminate import (
        contamination_report,
        decontaminate,
    )
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        eval_gram_hashes,
        stream_contamination_alerts,
        stream_decontaminate,
    )

    leak = "one two three four five six seven eight nine ten eleven twelve thirteen"
    ev = spark.createDataFrame(
        [(900, f"benchmark question {leak} answer")], "doc_id long, text string"
    )
    rows1 = [(1, f"copied {leak} verbatim"), (2, "clean document alpha")]
    rows2 = [(3, "clean document beta"), (4, leak)]
    schema = "doc_id bigint, text string"
    src = str(tmp_path / "decon_stream")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    shutil.rmtree(src + "/_spark_metadata", ignore_errors=True)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
    batch_all = spark.createDataFrame(rows1 + rows2, schema)

    reader = lambda: (  # noqa: E731
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # alert stream == batch report's flagged ids
    alerts = stream_contamination_alerts(reader(), eval_gram_hashes(ev, n=13), n=13)
    q = (
        alerts.writeStream.format("memory")
        .queryName("t_decon_alerts")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    flagged_stream = {r["doc_id"] for r in spark.table("t_decon_alerts").collect()}
    q.stop()
    flagged_batch = {
        r["doc_id"] for r in contamination_report(batch_all, ev, n=13).collect()
    }
    assert flagged_stream == flagged_batch == {1, 4}

    # foreachBatch removal == batch decontaminate over the union
    out = str(tmp_path / "decon_out")
    ck = str(tmp_path / "decon_ck")
    q2 = stream_decontaminate(reader(), ev, out, ck, n=13)
    q2.processAllAvailable()
    q2.stop()
    kept_stream = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    kept_batch = sorted(
        r["doc_id"] for r in decontaminate(batch_all, ev, n=13).collect()
    )
    assert kept_stream == kept_batch == [2, 3]
