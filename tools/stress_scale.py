"""Scale stress: run the dedup/ANN scale paths on a corpus replicated
well past bench SF (documents ×REP with perturbed ids, embeddings ×REP)
and print per-op wall times as one JSON line.

The interesting part is not the absolute time but the SHAPE: replicated
docs are exact duplicates — the documented hazard for LSH band buckets —
so this exercises the exact-dedup-first mitigation and the skew behavior
of every bucketed join at ~10-20× the bench volume.

Usage: python tools/stress_scale.py [rep] [sf_dir] [only_op,only_op,...]

The optional third argument re-runs ONLY the named ops (comma-separated
— r9, for re-probing steal-contaminated rows in a quiet window without
paying the full matrix).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from lakehouse_adventureworks2022_spark.operators import dedup, similarity  # noqa: E402
from lakehouse_adventureworks2022_spark.session import get_spark  # noqa: E402
from lakehouse_adventureworks2022_spark.sources.readers import read_table  # noqa: E402


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    spark = get_spark("stress")

    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    # rep copies; ids offset so every copy is a distinct doc_id with
    # IDENTICAL text (worst case for band-bucket skew)
    reps = spark.range(rep).withColumnRenamed("id", "rep")
    big_docs = (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(10_000_000))
        .drop("rep")
    )
    emb = read_table(spark, sf_dir, "embeddings")
    big_emb = (
        emb.crossJoin(F.broadcast(reps))
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * F.lit(10_000_000))
        .drop("rep")
    )

    timings: dict[str, float] = {}
    steals: dict[str, float] = {}

    def _cpu_times() -> tuple[int, int]:
        """(steal, total) jiffies from /proc/stat; (0, 0) off-Linux."""
        try:
            with open("/proc/stat") as f:
                vals = [int(v) for v in f.readline().split()[1:]]
            return (vals[7] if len(vals) > 7 else 0), sum(vals)
        except (OSError, ValueError, IndexError):
            return 0, 0

    run_s0, run_t0 = _cpu_times()

    def run(name, df_fn):
        if only is not None and name not in only:
            return
        s0, t0 = _cpu_times()
        t = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t, 2)
        s1, t1 = _cpu_times()
        steals[name] = round(
            100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0, 2
        )

    run("exact_dedup", lambda: dedup.dedup_exact(big_docs))
    run("clean_corpus", lambda: dedup.clean_corpus(big_docs))
    run("simhash_pairs_uniques", lambda: dedup.simhash_pairs(
        # dedup first (the documented mitigation), then pair uniques
        big_docs.join(
            dedup.dedup_exact(big_docs).select(
                F.col("keeper_doc_id").alias("doc_id")
            ),
            "doc_id",
            "left_semi",
        )
    ))
    run("embedding_lsh_uniques", lambda: similarity.embedding_near_dup_pairs_lsh(
        big_emb.dropDuplicates(["embedding"])
    ))
    q = big_emb.filter(F.col("vec_id") % 1000 == 0)
    run("ann_ivf", lambda: similarity.cosine_topk_ivf(q, big_emb, k=10))
    run("ann_pq", lambda: similarity.cosine_topk_pq(q, big_emb, k=10))
    run(
        "ann_ivf_pq",
        lambda: similarity.cosine_topk_ivf_pq(q, big_emb, k=10),
    )

    # connected components over the unique-doc LSH pair graph (dedup
    # first per the standing rule: replicated docs would make the pair
    # graph quadratic in copy count)
    uniques = big_docs.join(
        dedup.dedup_exact(big_docs).select(
            F.col("keeper_doc_id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    run(
        "connected_components_uniques",
        lambda: dedup.connected_components(
            dedup.minhash_lsh_pairs(uniques, threshold=0.2)
        ),
    )

    # incremental ingest shape: reps>0 are history, rep 0 is the day's
    # batch — every batch doc is an exact copy of history, the worst
    # case for the broadcast-batch membership joins
    hist = big_docs.filter(F.col("doc_id") >= 10_000_000)
    batch = big_docs.filter(F.col("doc_id") < 10_000_000)
    hashes, sigs = dedup.dedup_state(hist)
    run(
        "incremental_dedup_batch",
        lambda: dedup.incremental_dedup(batch, hashes, sigs),
    )

    # round-5 model-based ops: boilerplate inventory join, LM train+score
    # (gram explode ∝ corpus tokens), classifier train+score — all on the
    # replicated corpus (identical texts multiply every gram/line count
    # by rep, the worst case for the uniform-key aggs)
    from lakehouse_adventureworks2022_spark.operators import (  # noqa: E402
        classifier,
        lm,
        textops,
    )

    run(
        "boilerplate_removal",
        lambda: textops.remove_boilerplate_lines(big_docs),
    )

    # timed inline (not via run()) because the scorer's cached count
    # frame must be released after materialization — but it honors the
    # only-filter like every other row (r10: it used to run un-gated,
    # polluting targeted re-probes with an unasked-for op)
    if only is None or "lm_perplexity" in only:
        s0, t0 = _cpu_times()
        t = time.perf_counter()
        ppl_out = lm.doc_perplexity(big_docs)
        ppl_out.write.format("noop").mode("overwrite").save()
        dedup.release_cached_inputs(ppl_out)
        timings["lm_perplexity"] = round(time.perf_counter() - t, 2)
        s1, t1 = _cpu_times()
        steals["lm_perplexity"] = round(
            100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0, 2
        )

    def _clf():
        labeled = big_docs.join(
            textops.token_stats(big_docs).select(
                "doc_id", F.col("is_quality").cast("int").alias("label")
            ),
            "doc_id",
        )
        model = classifier.train_quality_classifier(labeled)
        return classifier.score_quality(big_docs, model)

    run("quality_classifier", _clf)

    # round-5 additions: SemDeDup on the replicated vectors (every copy
    # is an exact duplicate — the worst case for within-cell pair volume;
    # auto cell count keeps E[|cell|] at target), temperature mixture
    # sampling (rates derive in-plan from the replicated counts), and the
    # retrieval composite (chunk -> hashing-vectorize -> IVF -> search)
    from lakehouse_adventureworks2022_spark.operators import (  # noqa: E402
        sampling,
        vectorize,
    )

    run(
        "semdedup_auto_cells",
        lambda: similarity.semdedup(big_emb, eps=0.05, n_cells=None),
    )
    run(
        "temperature_mixture",
        lambda: sampling.temperature_mixture_sample(
            big_docs, temperature=0.7, target_frac=0.3, strata_col="lang"
        ),
    )

    def _rag():
        index, _ = vectorize.build_chunk_index(big_docs)
        queries = big_docs.filter(F.col("doc_id") % 500 == 0).select(
            (F.col("doc_id") + F.lit(5_000_000_000)).alias("query_id"),
            F.substring("text", 1, 200).alias("query_text"),
        )
        return vectorize.retrieval_search(queries, index, k=5)

    run("rag_retrieval", _rag)

    # corpus-scaling view of retrieval (r9, the bm25_fixed_queries
    # pattern): the variant above scales its QUERY set with rep
    # (doc_id % 500 over id-offset copies), so its number conflates
    # workload growth with corpus growth. Fixed 32 queries isolates
    # index build + per-query search cost against corpus size only.
    def _rag_fixed_queries():
        index, _ = vectorize.build_chunk_index(big_docs)
        queries = (
            big_docs.orderBy("doc_id")
            .limit(32)
            .select(
                (F.col("doc_id") + F.lit(5_000_000_000)).alias("query_id"),
                F.substring("text", 1, 200).alias("query_text"),
            )
        )
        return vectorize.retrieval_search(queries, index, k=5)

    run("rag_fixed_queries", _rag_fixed_queries)

    # incremental chunk-index ingest (r10 — the scaling fix for the r9
    # ledger's >5× rag build row): the corpus-sized base build is paid
    # once OUTSIDE the timed region (the deployed amortization); the
    # timed region is the recurring per-batch cost — a FIXED 2000-doc
    # batch appended against frozen centroids + the fixed-32-query
    # search over the grown index. Against rag_fixed_queries (full
    # rebuild per corpus version, corpus-linear) this row should stay
    # ~flat as rep grows: batch size doesn't scale with the corpus.
    if only is None or "rag_incremental_ingest" in only:
        import shutil
        import tempfile

        _ingest_idx = tempfile.mkdtemp(prefix="stress_rag_ingest_")
        shutil.rmtree(_ingest_idx)
        vectorize.chunk_index_ensure(big_docs, _ingest_idx)
        _batch = docs.limit(2000).select(
            (F.col("doc_id") + F.lit(900_000_000)).alias("doc_id"), "text"
        )

        def _rag_incremental_ingest():
            vectorize.chunk_index_append(_batch, _ingest_idx, batch_tag="stress_b1")
            index = vectorize.chunk_index_ensure(big_docs, _ingest_idx)
            queries = (
                big_docs.orderBy("doc_id")
                .limit(32)
                .select(
                    (F.col("doc_id") + F.lit(5_000_000_000)).alias("query_id"),
                    F.substring("text", 1, 200).alias("query_text"),
                )
            )
            return vectorize.retrieval_search(queries, index, k=5)

        run("rag_incremental_ingest", _rag_incremental_ingest)

    # DSIR weighting (r10): the raw corpus is the rep-scaled side and
    # is touched by exactly two linear explode+agg passes; the target
    # model is fit on a FIXED small domain sample (batch << corpus in
    # deployment). Expected shape: ~linear in rep.
    from lakehouse_adventureworks2022_spark.operators import dsir  # noqa: E402

    run(
        "dsir_weights",
        lambda: dsir.dsir_weights(
            big_docs, docs.limit(500), buckets=4096
        ),
    )

    # cross-source overlap matrix (r10): replicated docs multiply the
    # gram EXPLODE volume ×rep but the distinct (source, gram) frame is
    # unchanged (copies carry identical text), so the pair expansion and
    # everything after it is constant — expected shape: ~linear in the
    # explode volume (the map-side distinct still reads every copy),
    # with the pair/ratio stages contributing a fixed tail.
    from lakehouse_adventureworks2022_spark.operators import (  # noqa: E402
        decontaminate,
    )

    run(
        "source_overlap_matrix",
        lambda: decontaminate.source_overlap_matrix(big_docs, n=3),
    )

    # substring dedup on the replicated corpus: every doc's every window
    # is duplicated rep× — near-total flagged volume, the worst case for
    # the fingerprint join-back and the per-doc interval folds
    from lakehouse_adventureworks2022_spark.operators import (  # noqa: E402
        bpe,
        substring_dedup,
    )

    run(
        "substring_dedup",
        lambda: substring_dedup.remove_duplicate_spans(big_docs, window=12),
    )

    # BPE: word counts multiply by rep (same distinct-word table), train
    # stays bounded, encode is the linear Arrow pass over every copy
    run(
        "bpe_tokenize",
        lambda: bpe.bpe_segment(
            big_docs, bpe.train_bpe(bpe.word_counts(big_docs), num_merges=200)
        ),
    )

    # Unigram-LM tokenizer (r7): word counts multiply by rep on the SAME
    # distinct-word table, so the driver-side EM trains on an unchanged
    # bounded table; the Viterbi encode is the linear Arrow pass over
    # every copy — same shape contract as BPE
    from lakehouse_adventureworks2022_spark.operators import unigram  # noqa: E402

    run(
        "unigram_tokenize",
        lambda: unigram.train_and_segment(big_docs, vocab_size=500),
    )

    # BM25: replicated docs multiply every posting list ×rep on the SAME
    # terms — the posting-skew worst case the df-cap is built for; the
    # fixture's shared vocabulary forces max_df_ratio=1.0 (harshest)
    from lakehouse_adventureworks2022_spark.operators import bm25  # noqa: E402

    def _bm25():
        postings, stats = bm25.build_bm25_index(big_docs, max_df_ratio=1.0)
        queries = big_docs.filter(F.col("doc_id") % 997 == 0).select(
            (F.col("doc_id") + F.lit(9_000_000_000)).alias("query_id"),
            F.substring("text", 1, 150).alias("query_text"),
        )
        return bm25.bm25_search(queries, postings, stats, k=10)

    run("bm25_build_and_search", _bm25)

    # corpus-scaling view of the same op: the variant above scales its
    # QUERY set with rep (doc_id % 997 over id-offset copies), so its
    # number conflates workload growth with corpus growth (2× data =
    # 2× queries × 2× postings ≈ 4× work). Fixed 32 queries isolates
    # the corpus side: build + per-query postings growth only.
    def _bm25_fixed_queries():
        postings, stats = bm25.build_bm25_index(big_docs, max_df_ratio=1.0)
        queries = (
            big_docs.orderBy("doc_id")
            .limit(32)
            .select(
                (F.col("doc_id") + F.lit(9_000_000_000)).alias("query_id"),
                F.substring("text", 1, 150).alias("query_text"),
            )
        )
        return bm25.bm25_search(queries, postings, stats, k=10)

    run("bm25_fixed_queries", _bm25_fixed_queries)

    # multimodal real-decode throughput: rep×500 distinct synthetic
    # JPEGs (content varies per asset — no codec result reuse) through
    # the Arrow-batched real-decode dHash path; linear in assets, zero
    # shuffle, bounded executor memory = batch × asset size
    from lakehouse_adventureworks2022_spark.operators import (  # noqa: E402
        multimodal,
    )
    from lakehouse_adventureworks2022_spark.operators.jpeg import (  # noqa: E402
        encode_jpeg,
        encode_jpeg_progressive,
    )

    def _jpeg_assets(encode):
        import numpy as np

        # 24 distinct payloads re-referenced rep*500 times: the decode
        # path has no content cache, so every row pays a full Huffman+
        # IDCT decode while the driver-side encode stays bounded
        n_assets = rep * 500
        payloads = []
        base = np.zeros((24, 32, 3), dtype=np.uint8)
        for i in range(24):
            a = base.copy()
            a[:, :, 0] = (i * 37) % 256
            a[: 12 + (i % 12), :, 1] = (i * 101) % 256
            payloads.append(bytearray(encode(a, quality=85)))
        rows = [
            (i, payloads[i % len(payloads)], "image/jpeg", 32, 24, None)
            for i in range(n_assets)
        ]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        return multimodal.image_hashes(assets.repartition(32))

    run("jpeg_decode_dhash", lambda: _jpeg_assets(encode_jpeg))
    # late-r7: the same shape with PROGRESSIVE files — the multi-scan
    # decode path (spectral bands + refinement bits) at rep*500 rows
    run(
        "progressive_jpeg_decode_dhash",
        lambda: _jpeg_assets(encode_jpeg_progressive),
    )

    def _video_frames():
        # late-r7: MP4 parse + frame extraction + per-frame JPEG decode
        # at rep*100 videos x 4 frames (the video_frame_harvest shape);
        # container parse is per-asset metadata work, decode dominates
        from lakehouse_adventureworks2022_spark.operators.mp4 import (
            synth_mp4,
        )

        n_videos = rep * 100
        payloads = [
            bytearray(synth_mp4(4, 32, 24, seed=i)) for i in range(24)
        ]
        rows = [
            (i, payloads[i % len(payloads)], "video/mp4", 32, 24, 400)
            for i in range(n_videos)
        ]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        frames = multimodal.sample_frames(assets.repartition(32), every_ms=100)
        return multimodal.image_hashes(
            frames.select(
                (F.col("asset_id") * 10_000 + F.col("frame_offset_ms") / 100)
                .cast("long")
                .alias("asset_id"),
                "content",
                "mime",
                "width",
                "height",
                F.lit(None).cast("int").alias("duration_ms"),
            ),
        )

    run("mp4_frame_extract_dhash", _video_frames)

    # ---- the FULL real-codec clean_assets composite at rep× volume
    # (r8, the r7 verdict's #7 ask: its pieces were stressed, the whole
    # wasn't). big_docs' replicated texts yield byte-identical assets —
    # the exact-dup worst case — while the id%4 modality cycle keeps
    # all four codecs (JPEG/PNG/PPM/WAV) in the encode+decode path.
    def _clean_assets_full():
        assets = multimodal.attach_real_assets(big_docs)
        return multimodal.clean_assets(assets)

    run("clean_assets_full_composite", _clean_assets_full)

    # ---- event-analytics family at rep× volume (r6): funnel,
    # retention, anomalies and the Q21 double-correlation, on a
    # replicated events stream with ids/users offset per copy so the
    # per-user event counts stay realistic while total volume grows ----
    events = read_table(spark, sf_dir, "events")
    big_events_view = (
        events.crossJoin(F.broadcast(reps))
        .withColumn("event_id", F.col("event_id") + F.col("rep") * F.lit(100_000_000))
        .withColumn("user_id", F.col("user_id") + F.col("rep") * F.lit(10_000_000))
        .drop("rep")
    )
    big_events_view.createOrReplaceTempView("__stress_events__")

    import tempfile

    stress_dir = tempfile.mkdtemp(prefix="stress_events_")
    big_events_view.write.mode("overwrite").parquet(f"{stress_dir}/events.parquet")

    from lakehouse_adventureworks2022_spark.operators.monitoring import (  # noqa: E402
        value_anomalies,
    )
    from lakehouse_adventureworks2022_spark.plans import relational  # noqa: E402

    big_events = spark.read.parquet(f"{stress_dir}/events.parquet")
    run(
        "funnel_conversion",
        lambda: relational.funnel_conversion(spark, stress_dir),
    )
    run(
        "retention_cohorts",
        lambda: relational.retention_cohorts(spark, stress_dir),
    )
    run(
        "event_anomalies",
        lambda: value_anomalies(big_events, tiebreak_col="event_id"),
    )

    # bounded-shuffle sketch family: the exchange must carry summaries/
    # sketches regardless of corpus size (user_id is the 10×-cardinality
    # worst case for heavy-hitters candidate volume)
    from lakehouse_adventureworks2022_spark.operators import sketches  # noqa: E402

    run(
        "heavy_hitters_user_id",
        lambda: sketches.heavy_hitters(big_events, "user_id", k=10),
    )
    run(
        "kll_value_quantiles",
        lambda: sketches.kll_quantiles(
            sketches.kll_sketches(big_events, ["event_type"], "value", k=200),
            [0.5, 0.9, 0.99],
            keys=["event_type"],
        ),
    )

    # Streaming frequent-items and quantile state under a hot key (r7):
    # replication multiplies every event_type's count ×rep (the hot-key
    # worst case for the MG decrement path), delivered as 4 micro
    # batches; per batch the exchange carries one m/k-bounded summary
    # per partition and the persisted state stays kilobytes
    from lakehouse_adventureworks2022_spark.streaming import (  # noqa: E402
        frequent as sfreq,
    )
    from lakehouse_adventureworks2022_spark.streaming import (  # noqa: E402
        quantiles as squant,
    )

    def _stream_frequent():
        state = tempfile.mkdtemp(prefix="stress_freq_")
        for b in range(4):
            sfreq.apply_frequent_batch(
                big_events.filter(F.col("event_id") % 4 == b),
                b,
                state,
                "event_type",
                m=64,
            )
        return sfreq.frequent_values(spark, state, k=10)

    run("streaming_frequent_4batches", _stream_frequent)

    # KMV/theta distinct-set sketches at 10× user cardinality (r7):
    # the exchange carries ≤ k-hash arrays per (partition, group); the
    # pairwise overlap join is |types|² kilobyte rows
    from lakehouse_adventureworks2022_spark.operators import theta  # noqa: E402

    run(
        "kmv_audience_overlap",
        lambda: theta.kmv_pairwise_overlap(
            theta.kmv_sketches(big_events, ["event_type"], "user_id", k=1024),
            "event_type",
            k=1024,
        ),
    )

    from lakehouse_adventureworks2022_spark.streaming import (  # noqa: E402
        distinct as sdistinct,
    )

    def _stream_distinct():
        state = tempfile.mkdtemp(prefix="stress_kmv_")
        for b in range(4):
            sdistinct.apply_distinct_batch(
                big_events.filter(F.col("event_id") % 4 == b),
                b,
                state,
                "user_id",
                ["event_type"],
                k=1024,
            )
        return sdistinct.distinct_counts_from_state(
            spark, state, ["event_type"], k=1024
        )

    run("streaming_distinct_4batches", _stream_distinct)

    def _stream_quantiles():
        state = tempfile.mkdtemp(prefix="stress_quant_")
        for b in range(4):
            squant.apply_quantile_batch(
                big_events.filter(F.col("event_id") % 4 == b),
                b,
                state,
                "value",
                ["event_type"],
                k=200,
            )
        return squant.quantiles_from_state(
            spark, state, [0.5, 0.9, 0.99], ["event_type"]
        )

    run("streaming_quantiles_4batches", _stream_quantiles)

    # exact-vs-history gate at rep× STATE with a FIXED daily batch —
    # the deployed incremental-dedup shape. The A/B pair is the r10
    # bloom story: the ungated row streams the O(state) hash table past
    # the batch every ingest, the gated row reads a loaded bitmap
    # (O(batch) probe) + an In()-pruned state scan of the matched
    # hashes only — it should stay ~flat as rep grows. State build
    # (hash table + bloom) is amortized prep OUTSIDE the timing, like
    # every persisted-index row. Uses unique-ified texts so state is
    # genuinely rep× distinct hashes.
    if only is None or {"exact_history_ungated", "exact_history_bloom_gate"} & only:
        from lakehouse_adventureworks2022_spark.operators import (
            bloom as bloom_mod,
        )

        uniq_state = big_docs.withColumn(
            "text", F.concat_ws(" ", "text", F.col("doc_id").cast("string"))
        )
        # state CLUSTERED on the hash (the deployed write_clustered
        # posture): tight per-row-group min/max so a small In() list
        # prunes row groups. fpr 1e-4 keeps the candidate list
        # O(true dups) — the pruning argument needs |cand| << #row
        # groups, which is exactly the append-mostly regime the gate
        # is for (uniform-hash candidates at |cand| >= #row-groups
        # prune nothing, at ANY scale).
        state_hash_dir = f"{stress_dir}/dedup_state_hashes.parquet"
        (
            uniq_state.select(
                dedup.content_hash_col().alias("content_hash")
            )
            .repartitionByRange(32, "content_hash")
            .sortWithinPartitions("content_hash")
            .write.mode("overwrite")
            .parquet(state_hash_dir)
        )
        state_hashes = spark.read.parquet(state_hash_dir)
        n_bits, n_hashes = bloom_mod.bloom_params(
            state_hashes.count(), fpr=1e-4
        )
        gate_bloom = bloom_mod.bloom_build(
            state_hashes, "content_hash", n_bits, n_hashes
        )
        # fixed append-mostly batch: all-new docs + ~a dozen exact
        # copies of state rows (the true dups the gate must catch)
        gate_batch = (
            docs.filter("doc_id % 10 > 0")
            .withColumn(
                "text", F.concat_ws(" ", "text", F.lit("batch-new"))
            )
            .unionByName(
                uniq_state.filter(
                    "doc_id % 5000 = 0 AND doc_id < 10000000"
                ).select(*docs.columns)
            )
        )

        def _gate(bf):
            hashed = gate_batch.withColumn(
                "__hash__", dedup.content_hash_col()
            )
            if bf is None:
                probe = hashed.select(
                    F.col("__hash__").alias("content_hash")
                ).distinct()
                matched = state_hashes.join(
                    F.broadcast(probe), "content_hash", "left_semi"
                )
            else:
                flagged = bloom_mod.contains_col(
                    hashed, "__hash__", bf, "__maybe__"
                )
                cand = [
                    r[0]
                    for r in flagged.filter("__maybe__")
                    .select("__hash__")
                    .distinct()
                    .collect()
                ]
                matched = state_hashes.filter(
                    F.col("content_hash").isin(cand)
                )
            return hashed.join(
                F.broadcast(matched),
                hashed["__hash__"] == matched["content_hash"],
                "left_anti",
            )

        run("exact_history_ungated", lambda: _gate(None))
        run("exact_history_bloom_gate", lambda: _gate(gate_bloom))

    # WET extraction at rep× corpus: pure codegen projection — the row
    # exists to pin LINEAR shape (and that no exchange sneaks in).
    # repartition first: big_docs inherits the single-file fixture's
    # ONE partition through the broadcast crossJoin, and a 1-task
    # projection measures the file layout, not the operator (the
    # documented single-file footgun; a real corpus scan is already
    # split by maxPartitionBytes).
    if only is None or "html_extract_scaled" in only:
        from lakehouse_adventureworks2022_spark.operators import textops

        wrapped = big_docs.repartition(
            spark.sparkContext.defaultParallelism
        ).select(
            "doc_id",
            F.concat(
                F.lit("<html><body><h1>"),
                F.col("source"),
                F.lit("</h1><p>"),
                F.col("text"),
                F.lit(" &amp; tail</p></body></html>"),
            ).alias("html"),
        )
        run(
            "html_extract_scaled",
            lambda: textops.extract_html_text(wrapped),
        )

    # URL canonicalization + census at rep× URLs (r11): one codegen
    # projection + ONE uniform-key agg — the row pins LINEAR shape.
    # Same repartition note as html_extract_scaled (single-file fixture
    # lineage would otherwise run the projection on one task).
    if only is None or "url_census_scaled" in only:
        from lakehouse_adventureworks2022_spark.operators import textops

        did = F.col("doc_id")
        planted_urls = big_docs.repartition(
            spark.sparkContext.defaultParallelism
        ).select(
            "doc_id",
            F.concat(
                F.when(did % 4 == 1, F.lit("HTTP://")).otherwise(
                    F.lit("http://")
                ),
                F.lit("Host"),
                (did % 997).cast("string"),
                F.lit(".example.org"),
                F.when(did % 4 == 2, F.lit(":80")).otherwise(F.lit("")),
                F.lit("/p/"),
                (did % 31).cast("string"),
                F.when(did % 2 == 0, F.lit("?b=2&a=1")).otherwise(
                    F.lit("?a=1&utm_source=x&b=2")
                ),
            ).alias("url"),
        )
        run(
            "url_census_scaled",
            lambda: textops.url_census(planted_urls),
        )

    # WARC mux+parse round trip at rep× corpus (r11): group count
    # scales WITH rep so per-blob size stays constant — the per-file
    # Arrow parse cost is the thing being pinned linear (one task per
    # blob, the real crawl layout's unit of parallelism).
    if only is None or "warc_roundtrip_scaled" in only:
        import pandas as pd  # noqa: F401

        from lakehouse_adventureworks2022_spark.sources import warc as warc_mod

        _write = warc_mod.build_warc_codec()["write"]
        n_groups = 16 * rep

        def _mux(pdf):
            import pandas as _pd

            rows = pdf.sort_values("doc_id")
            blob = _write(
                [
                    {
                        "uri": f"http://c.example.org/{int(r['doc_id'])}",
                        "record_id": f"<urn:uuid:{int(r['doc_id'])}>",
                        "body": str(r["text"]).encode("utf-8"),
                    }
                    for _, r in rows.iterrows()
                ],
                gzip_members=True,
            )
            return _pd.DataFrame(
                {"grp": [int(pdf["grp"].iloc[0])], "content": [blob]}
            )

        warc_blobs = (
            big_docs.select(
                "doc_id", "text", (F.col("doc_id") % n_groups).alias("grp")
            )
            .groupBy("grp")
            .applyInPandas(_mux, schema="grp int, content binary")
        )
        run(
            "warc_roundtrip_scaled",
            lambda: warc_mod.warc_pages(
                warc_mod.parse_warc_frame(warc_blobs, "content", path_col=None)
            ),
        )

    # Outlink extraction + host link graph at rep× pages (r12): hosts
    # scale WITH rep (~1000×rep distinct), so the edge aggregation's
    # key space grows too — the row pins the extract (generator-
    # internal regex pipeline) and the uniform-key census both linear.
    if only is None or "outlink_graph_scaled" in only:
        from lakehouse_adventureworks2022_spark.operators import textops

        did = F.col("doc_id")
        n_hosts = 1000 * rep
        pages = big_docs.repartition(
            spark.sparkContext.defaultParallelism
        ).select(
            F.concat(
                F.lit("http://h"),
                (did % n_hosts).cast("string"),
                F.lit(".example.org/p/"),
                did.cast("string"),
            ).alias("url"),
            F.concat(
                F.lit('<html><a href="http://h'),
                ((did + 7) % n_hosts).cast("string"),
                F.lit('.example.org/x?a=1&amp;b=2">t</a>'),
                F.lit("<a href='//h"),
                ((did + 13) % n_hosts).cast("string"),
                F.lit(".example.org/y'>u</a>"),
                F.lit('<a href="/local/'),
                (did % 31).cast("string"),
                F.lit('">l</a><a href="#f">d</a></html>'),
            ).alias("html"),
        )
        run(
            "outlink_graph_scaled",
            lambda: textops.host_link_graph(
                textops.extract_outlinks(pages)
            ),
        )

    # PageRank at a rep×-node host graph (r12): 5 power iterations over
    # the graph the row above aggregates — per-iteration one join + one
    # agg, dangling/teleport by scalar broadcast, lineage truncated per
    # iteration. Timed inline (pagerank materializes checkpoints
    # itself; the returned frame is tiny).
    if only is None or "pagerank_scaled" in only:
        from lakehouse_adventureworks2022_spark.operators import textops
        from lakehouse_adventureworks2022_spark.operators.graph import (
            pagerank,
        )

        did = F.col("doc_id")
        n_hosts = 1000 * rep
        pr_pages = big_docs.repartition(
            spark.sparkContext.defaultParallelism
        ).select(
            F.concat(
                F.lit("http://h"),
                (did % n_hosts).cast("string"),
                F.lit(".example.org/p/"),
                did.cast("string"),
            ).alias("url"),
            F.concat(
                F.lit('<html><a href="http://h'),
                ((did * 17 + 3) % n_hosts).cast("string"),
                F.lit('.example.org/x">t</a></html>'),
            ).alias("html"),
        )
        pr_edges = textops.host_link_graph(
            textops.extract_outlinks(pr_pages)
        )
        s0_pr, t0_pr = _cpu_times()
        t_pr = time.perf_counter()
        pagerank(pr_edges, iterations=5).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["pagerank_scaled"] = round(time.perf_counter() - t_pr, 2)
        s1_pr, t1_pr = _cpu_times()
        steals["pagerank_scaled"] = round(
            100.0 * (s1_pr - s0_pr) / (t1_pr - t0_pr)
            if t1_pr > t0_pr
            else 0.0,
            2,
        )

    # Politeness planning at rep× frontier volume (r13): rep×docs URLs
    # over 1000·rep hosts, per-host robots bodies (every third host
    # declares a Crawl-delay) through robots_crawl_delay →
    # politeness_shards — the broadcast delays side grows with HOSTS
    # (still kilobytes at 20k hosts), the one BY-HOST window carries
    # rep× rows with per-host partitions of constant size (~docs/hosts
    # per host), so wall time must stay ~linear, never host-skewed.
    if only is None or "politeness_scaled" in only:
        from lakehouse_adventureworks2022_spark.operators.curation import (
            politeness_shards,
        )
        from lakehouse_adventureworks2022_spark.operators.textops import (
            robots_crawl_delay,
        )

        did = F.col("doc_id")
        n_hosts = 1000 * rep
        frontier = big_docs.repartition(
            spark.sparkContext.defaultParallelism
        ).select(
            F.concat(
                F.lit("http://h"),
                (did % n_hosts).cast("string"),
                F.lit(".example.org/p/"),
                did.cast("string"),
            ).alias("url")
        )
        hk = F.col("id")
        robots_bodies = spark.range(n_hosts).select(
            F.concat(
                F.lit("h"), hk.cast("string"), F.lit(".example.org")
            ).alias("host"),
            F.when(
                hk % 3 == 0,
                F.concat(
                    F.lit("User-agent: *\nCrawl-delay: "),
                    (hk % 9 + 1).cast("string"),
                    F.lit("\nDisallow: /private/\n"),
                ),
            )
            .otherwise(F.lit("User-agent: *\nDisallow: /private/\n"))
            .alias("robots_txt"),
        )
        run(
            "politeness_scaled",
            lambda: politeness_shards(
                frontier, delays=robots_crawl_delay(robots_bodies)
            ),
        )

    # Many-file WARC backfill at 8×rep files (r12): the whole new-file
    # list feeds ONE binaryFile read + ONE dynamic-partition write —
    # the r11 verdict's scale hazard was one sequential Spark job per
    # file, so the row pins per-FILE cost flat as the file count grows
    # (wall time ~linear in rep, job count constant). Timed inline
    # (the operator writes parquet itself — no noop sink).
    if only is None or "warc_backfill_scaled" in only:
        import os
        import shutil
        import tempfile

        from lakehouse_adventureworks2022_spark.sources import warc as warc_mod

        _write_bf = warc_mod.build_warc_codec()["write"]
        n_files = 8 * rep
        bf_tmp = tempfile.mkdtemp(prefix="warc_backfill_stress_")
        bf_crawl = os.path.join(bf_tmp, "crawl")
        os.makedirs(bf_crawl)
        for i in range(n_files):
            blob = _write_bf(
                [
                    {
                        "uri": f"http://b.example.org/{i}/{j}",
                        "record_id": f"<urn:uuid:bf-{i}-{j}>",
                        "body": (
                            f"<p>backfill doc {i}-{j} " + "x" * 180 + "</p>"
                        ).encode(),
                    }
                    for j in range(20)
                ],
                gzip_members=True,
            )
            with open(
                os.path.join(bf_crawl, f"part-{i:05d}.warc.gz"), "wb"
            ) as f:
                f.write(blob)
        s0_bf, t0_bf = _cpu_times()
        t_bf = time.perf_counter()
        warc_mod.warc_incremental_ingest(
            spark,
            bf_crawl,
            os.path.join(bf_tmp, "state.json"),
            os.path.join(bf_tmp, "out"),
        )
        timings["warc_backfill_scaled"] = round(
            time.perf_counter() - t_bf, 2
        )
        s1_bf, t1_bf = _cpu_times()
        steals["warc_backfill_scaled"] = round(
            100.0 * (s1_bf - s0_bf) / (t1_bf - t0_bf)
            if t1_bf > t0_bf
            else 0.0,
            2,
        )
        shutil.rmtree(bf_tmp, ignore_errors=True)

    # Q21 at rep× fact volume: lineitem + orders replicated with the
    # SAME orderkey offset on both sides (FK integrity preserved, so
    # the per-order supplier profiles — what the count predicates key
    # on — stay realistic); supplier table shared across copies.
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    (
        li.crossJoin(F.broadcast(reps))
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * F.lit(100_000_000))
        .drop("rep")
        .write.mode("overwrite")
        .parquet(f"{stress_dir}/lineitem.parquet")
    )
    (
        orders.crossJoin(F.broadcast(reps))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * F.lit(100_000_000))
        .drop("rep")
        .write.mode("overwrite")
        .parquet(f"{stress_dir}/orders.parquet")
    )
    import shutil

    shutil.copy(f"{sf_dir}/supplier.parquet", f"{stress_dir}/supplier.parquet")

    from lakehouse_adventureworks2022_spark.plans import tpch_extra  # noqa: E402

    run(
        "tpch_q21_waiting_suppliers",
        lambda: tpch_extra.q21_waiting_suppliers(spark, stress_dir),
    )

    run_s1, run_t1 = _cpu_times()
    run_steal = (
        100.0 * (run_s1 - run_s0) / (run_t1 - run_t0)
        if run_t1 > run_t0
        else 0.0
    )
    print(
        json.dumps(
            {
                "rep": rep,
                "docs": n_docs * rep,
                "vectors": big_emb.count(),
                "timings_sec": timings,
                "steal_pct": steals,
                "run_steal_pct": round(run_steal, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
