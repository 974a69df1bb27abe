"""Streaming corpus ingestion: the Structured-Streaming member of the
corpus-cleaning family (``operators/dedup.clean_corpus`` is the batch
composite) — documents arrive as a stream, pass the SAME quality gate
(``textops.token_stats`` thresholds, stateless projection), and exact
duplicates within the watermark horizon are dropped on the normalized
content hash.

Semantics vs the batch composite: the quality gate is identical (pure
per-row expressions stream unchanged); dedup state is bounded by the
watermark (a duplicate arriving after the horizon passes — at 100 TB/day
unbounded exact-dedup state is not an option; the periodic batch
``clean_corpus`` over the landed table is the backstop, the standard
lambda split). Near-dup (MinHash) stays batch-only: LSH banding needs
corpus-level candidate joins that have no bounded-state streaming form.

Documents carry no event time, so ingestion time is stamped at the
source (``ingest_ts``) — watermarking on arrival time is the standard
choice for replay-dedup of an append-only feed.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators import bloom, dedup
from lakehouse_adventureworks2022_spark.operators.textops import (
    QUALITY_MAX_PUNCT_RATIO,
    QUALITY_MIN_TOKENS,
    QUALITY_MIN_TTR,
    tokens_col,
)
from lakehouse_adventureworks2022_spark.storage import commit


def quality_gate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The ``token_stats`` trainability gate as a streaming-safe filter
    (same threshold constants — one source of truth)."""
    toks = tokens_col(F.col(text_col))
    n_tokens = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    punct_ratio = (
        F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", "")).cast(
            "double"
        )
        / F.length(F.col(text_col))
    )
    return docs.filter(
        (n_tokens >= QUALITY_MIN_TOKENS)
        & (ttr > QUALITY_MIN_TTR)
        & (punct_ratio < QUALITY_MAX_PUNCT_RATIO)
    )


# one source of truth: stream and batch agree on what counts as a
# duplicate because they share the literal same hash expression
content_hash_col = dedup.content_hash_col

__all__ = [
    "quality_gate",
    "classifier_gate",
    "perplexity_gate",
    "content_hash_col",
    "ensure_dedup_state",
    "load_dedup_state",
    "load_dedup_bloom",
    "append_dedup_state",
    "stream_ingest_with_history",
    "stream_clean_corpus",
]


def classifier_gate(model, threshold: float = 0.5, text_col: str = "text"):
    """Model-based gate for the ingest stream: keep docs the fitted
    quality classifier (``operators.classifier``) scores ≥ threshold.
    Returns a per-micro-batch callable for
    :func:`stream_ingest_with_history`'s ``extra_gate`` — the model
    transform is stateless row-wise scoring, so it streams safely; the
    (8-dim) model lives on the driver for the stream's lifetime.
    """
    from lakehouse_adventureworks2022_spark.operators.classifier import (
        score_quality,
    )

    def gate(batch_df: DataFrame) -> DataFrame:
        keep = (
            score_quality(batch_df, model, text_col, threshold)
            .filter("is_quality_pred")
            .select("doc_id")
        )
        return batch_df.join(keep, "doc_id")

    return gate


def perplexity_gate(
    lm_model: DataFrame,
    max_ppl: float,
    vocab_size: int,
    text_col: str = "text",
    n: int = 2,
    k: float = 0.5,
):
    """LM-based gate for the ingest stream: keep docs whose perplexity
    under a PERSISTED reference model stays ≤ ``max_ppl`` (the CCNet
    deployment shape: train once on the trusted corpus, gate the feed).

    The caller owns the model's lifetime: pass a persisted/loaded
    ``train_ngram_lm`` frame and its precomputed ``vocab_size`` —
    per-batch cache management is disabled so scoring every micro-batch
    reuses one cache entry instead of churning it.
    """
    from lakehouse_adventureworks2022_spark.operators.lm import (
        score_perplexity,
    )

    def gate(batch_df: DataFrame) -> DataFrame:
        scores = score_perplexity(
            batch_df,
            lm_model,
            text_col,
            n,
            k,
            vocab_size=vocab_size,
        )
        keep = scores.filter(F.col("ppl") <= max_ppl).select("doc_id")
        return batch_df.join(keep, "doc_id")

    return gate


def ensure_dedup_state(
    hist: DataFrame, state_dir: str, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The persisted dedup state ``(hashes, sigs)`` at ``state_dir``,
    seeded from the existing corpus ``hist`` when none is committed —
    run before :func:`stream_ingest_with_history`. Both tables, the
    bloom gate (:func:`ensure_dedup_bloom`) and every appended batch
    live in ONE manifest-committed generation dir
    (``storage/commit.py``): a crash anywhere in the seed build leaves
    no manifest and the next call rebuilds; a state recorded with
    another ``text_col`` raises ``ValueError``. A state in the
    pre-manifest layout (``hashes/``, ``sigs/``, ``bloom.bin``) is
    adopted — its appended batches are not in ``hist`` — never
    reseeded."""

    def build(base: str) -> dict | None:
        if commit.adopt_tables(state_dir, base, ("hashes", "sigs")):
            bf = bloom.load_bloom(os.path.join(state_dir, "bloom.bin"))
            return None if bf is None else _with_bloom(os.path.dirname(base), {}, bf)
        hashes, sigs = dedup.dedup_state(hist, text_col)
        hashes.write.parquet(f"{base}/hashes")
        sigs.write.parquet(f"{base}/sigs")

    manifest = commit.ensure(
        state_dir, {"text_col": text_col}, build, kind="dedup state"
    )
    return load_dedup_state(hist.sparkSession, state_dir, manifest)


def load_dedup_state(
    spark, state_dir: str, manifest: dict | None = None
) -> tuple[DataFrame, DataFrame]:
    """The committed ``(hashes, sigs)``: the seed plus every committed
    appended batch, each table one multi-path scan."""
    manifest = manifest or commit.committed(state_dir, kind="dedup state")
    return tuple(
        spark.read.parquet(*commit.data_paths(state_dir, manifest, table))
        for table in ("hashes", "sigs")
    )


def load_dedup_bloom(state_dir: str, manifest: dict | None = None):
    """The committed bloom gate of the dedup state, None when it has
    none."""
    manifest = manifest or commit.committed(state_dir, kind="dedup state")
    name = manifest["files"].get("bloom")
    return None if name is None else bloom.load_bloom(
        commit.gen_path(state_dir, manifest, name)
    )


def _with_bloom(gen: str, files: dict, bf) -> dict:
    """Manifest fields naming bloom ``bf``, saved to a fresh file in the
    generation dir ``gen`` — it commits with the manifest swap that
    names it."""
    name = f"bloom-{uuid.uuid4().hex[:12]}.bin"
    bloom.save_bloom(os.path.join(gen, name), bf)
    return {"files": {**files, "bloom": name}}


def append_dedup_state(
    accepted: DataFrame,
    state_dir: str,
    text_col: str = "text",
    batch_tag: str | None = None,
) -> None:
    """Grow the persisted state with an accepted batch — the other half
    of every ingest loop (streaming or batch): after
    ``incremental_dedup`` says what survives, the survivors' hashes and
    signatures become history for the next batch.

    One :func:`commit.append` under ``batch_tag``: both tables land in
    a fresh append dir and the bloom (when the state has one) is OR-ed
    with the batch into a fresh file, and all of it commits in the same
    manifest swap — a crash before it leaves state and bloom as they
    were (the batch replays). A committed tag's replay is a no-op: its
    rows are already history (a replayed ``accepted`` computed against
    the state would come back empty, and must not replace them). No
    tag = a fresh one (not replay-safe).

    The batch state is materialized (eager ``localCheckpoint``) first:
    the hashes feed both the write and the bloom, and ``accepted``'s
    plan reads the state (the vs-history joins) — never re-run it.
    localCheckpoint is batch-sized transient state; on a real cluster
    a lost executor fails the micro-batch and the replay contract
    re-runs it."""
    manifest = commit.committed(state_dir, kind="dedup state")
    if batch_tag in manifest["appends"]:
        return  # replayed batch: its rows are committed
    new_hashes, new_sigs = dedup.dedup_state(accepted, text_col)
    new_hashes = new_hashes.localCheckpoint(eager=True)
    new_sigs = new_sigs.localCheckpoint(eager=True)
    bf = load_dedup_bloom(state_dir, manifest)

    def write(path: str) -> dict:
        new_hashes.write.parquet(f"{path}/hashes")
        new_sigs.write.parquet(f"{path}/sigs")
        if bf is None:
            return {}
        batch = bloom.bloom_build(new_hashes, "content_hash", bf.n_bits, bf.n_hashes)
        return _with_bloom(
            commit.gen_path(state_dir, manifest),
            manifest["files"],
            bloom.bloom_or(bf, batch),
        )

    commit.append(state_dir, manifest, batch_tag, write)


#: sizing floor for the state bloom: an empty/tiny initial state must
#: not produce a toy bitmap that saturates after the first real batch
#: (appends OR into it and never resize — only a rebuild does). 2^20
#: items at 1% fpr is a ~1.2 MB bitmap: trivial to broadcast, survives a
#: million ingested docs before the fpr monitor asks for a rebuild.
BLOOM_MIN_ITEMS = 1 << 20

#: rebuild trigger: when the live bloom's estimated fpr exceeds the
#: sizing target by this factor, ``ensure_dedup_bloom`` re-sizes from
#: the (grown) hash table instead of returning the saturated bitmap —
#: the same degraded-but-correct → re-train posture as the IVF
#: index-health monitor.
BLOOM_REBUILD_FPR_FACTOR = 4.0


def ensure_dedup_bloom(
    spark,
    state_dir: str,
    fpr: float = 0.01,
    growth_headroom: int = 4,
    min_items: int = BLOOM_MIN_ITEMS,
) -> "object":
    """Build (once) and return the persisted bloom gate of a committed
    dedup state. Sized from ``max(current hash count × growth_headroom,
    min_items)`` — the floor keeps a gate seeded from an empty or tiny
    state from degrading to everything-maybe-dup after one real batch
    (correct but useless; appends OR into it and never resize). When
    the committed bloom's :func:`~operators.bloom.estimated_fpr`
    exceeds ``fpr × BLOOM_REBUILD_FPR_FACTOR`` it is rebuilt from the
    grown hash table with fresh sizing (count job runs only on
    build/rebuild paths — amortized, like index training). Returns the
    :class:`~operators.bloom.BloomFilter`; it commits in the state's
    manifest, so it always covers every committed hash.
    """
    manifest = commit.committed(state_dir, kind="dedup state")
    bf = load_dedup_bloom(state_dir, manifest)
    if bf is not None and bloom.estimated_fpr(bf) > (
        fpr * BLOOM_REBUILD_FPR_FACTOR
    ):
        bf = None  # saturated: fall through to a fresh-sized rebuild
    if bf is None:
        hashes, _ = load_dedup_state(spark, state_dir, manifest)
        n_bits, n_hashes = bloom.bloom_params(
            max(hashes.count() * growth_headroom, min_items), fpr
        )
        bf = bloom.bloom_build(hashes, "content_hash", n_bits, n_hashes)
        gen = commit.gen_path(state_dir, manifest)
        commit.publish(
            state_dir, {**manifest, **_with_bloom(gen, manifest["files"], bf)}
        )
    return bf


def stream_ingest_with_history(
    docs: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    threshold: float = 0.5,
    extra_gate=None,
    use_bloom: bool = False,
):
    """Streaming corpus ingestion deduped against PERSISTED history —
    the streaming face of ``dedup.incremental_dedup`` (where
    :func:`stream_clean_corpus` bounds state by a watermark, this one
    remembers EVERYTHING ingested, in O(docs) state tables):

    each micro-batch is quality-gated, deduped against the historical
    hash/signature tables AND itself, the survivors land in a per-batch
    output directory, and their state rows append — so the next batch
    (and any other reader) sees them as history.

    Idempotence on re-delivery: each batch appends its state under its
    stream-scoped tag (``commit.stream_tag`` — Spark numbers batches
    per checkpoint, and the state outlives any one stream), and the
    state's committed tags are the applied-batch ledger — a batch whose
    tag is committed is skipped, output write included.
    Before the commit, the per-batch output dir is written with
    ``overwrite`` (a crash between output and state commit replays into
    the SAME dir — no duplicate landed rows) and the replay appends its
    state once.

    Scale: everything inherits incremental_dedup's broadcast-batch /
    stream-state shape; the driver touches only the manifest.
    ``use_bloom=True`` adds the persisted bloom gate
    (:func:`ensure_dedup_bloom`, built on the first batch if absent):
    each micro-batch reloads the CURRENT bloom — grown by every prior
    batch's ``append_dedup_state`` — so the exact vs-history probe
    touches the state table only for maybe-dup rows. Results are
    identical with or without the gate (stream≡batch test).
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        tag = commit.stream_tag(checkpoint_dir, batch_id)
        manifest = commit.committed(state_dir, kind="dedup state")
        if tag in manifest["appends"]:
            return  # re-delivered batch: its state append is committed
        spark = batch_df.sparkSession
        state_hashes, state_sigs = load_dedup_state(spark, state_dir, manifest)
        gated = quality_gate(batch_df, text_col)
        if extra_gate is not None:
            # model-based gate (classifier_gate / perplexity_gate):
            # runs with batch semantics inside the micro-batch, so any
            # join-backed scorer is legal here
            gated = extra_gate(gated)
        bf = ensure_dedup_bloom(spark, state_dir) if use_bloom else None
        accepted = dedup.incremental_dedup(
            gated, state_hashes, state_sigs, text_col,
            threshold=threshold, bloom=bf,
        )
        accepted.persist()
        accepted.write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )
        append_dedup_state(accepted, state_dir, text_col, batch_tag=tag)
        dedup.release_cached_inputs(accepted)
        accepted.unpersist()

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """quality gate → content-hash exact dedup within the watermark.

    ``docs`` must carry ``ts_col`` (stamp it at the source with
    ``current_timestamp()`` for arrival-time semantics). State is keyed
    on the 32-char hash and evicted at the horizon.
    """
    gated = quality_gate(docs, text_col)
    hashed = gated.withColumn("content_hash", content_hash_col(text_col))
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def stream_drift_monitor(
    docs: DataFrame,
    reference_profile: DataFrame,
    alerts_dir: str,
    checkpoint_dir: str,
    share_tolerance: float = 0.15,
    mean_tokens_tolerance: float = 0.25,
):
    """Per-micro-batch corpus drift monitoring: every arriving batch is
    profiled (``monitoring.corpus_profile`` — the SAME aggregation the
    batch report runs) and compared source-by-source against a
    persisted REFERENCE profile; out-of-tolerance rows land in
    ``alerts_dir`` as one parquet append per offending (batch, source).

    Alert predicate: |share − ref_share| > ``share_tolerance`` OR
    relative mean-token drift > ``mean_tokens_tolerance`` OR the source
    is absent from the reference entirely (a NEW source is always worth
    a look). An empty alerts table after a run = the stream stayed in
    distribution.

    Scale: the reference profile is |sources| rows (broadcast); each
    batch profiles with one uniform-key aggregation; nothing accumulates
    in memory across batches — drift STATE is the alerts table itself.
    """
    from lakehouse_adventureworks2022_spark.operators.monitoring import (
        corpus_profile,
    )

    ref = reference_profile.select(
        "source",
        F.col("share").alias("ref_share"),
        F.col("mean_tokens").alias("ref_mean_tokens"),
    )

    def check(batch_df: DataFrame, batch_id: int) -> None:
        prof = corpus_profile(batch_df)
        # full outer: a reference source MISSING from the batch (share
        # effectively 0 — the most drastic drift) must alert too, not
        # just unknown batch-side sources
        joined = prof.join(F.broadcast(ref), "source", "full_outer")
        alerts = (
            joined.filter(
                F.col("ref_share").isNull()
                | F.col("share").isNull()
                | (
                    F.abs(F.col("share") - F.col("ref_share"))
                    > share_tolerance
                )
                | (
                    F.abs(F.col("mean_tokens") - F.col("ref_mean_tokens"))
                    / F.col("ref_mean_tokens")
                    > mean_tokens_tolerance
                )
            )
            .withColumn("batch_id", F.lit(batch_id))
            # alert rows are |sources|-bounded: collect ONCE so the
            # profile aggregation doesn't run twice (probe + write)
        )
        # |sources| is a config-time cardinality (corpus provenance
        # labels), so >10k alert rows means the monitor was pointed at
        # a high-cardinality column — fail the batch loudly instead of
        # collecting an unbounded frame onto the driver
        rows = alerts.limit(10_001).collect()
        if len(rows) > 10_000:
            raise ValueError(
                "drift monitor produced >10k alert rows in one batch — "
                "the source column is high-cardinality; group sources "
                "into provenance labels before monitoring"
            )
        if rows:
            batch_df.sparkSession.createDataFrame(
                rows, alerts.schema
            ).write.mode("append").parquet(alerts_dir)

    return (
        docs.writeStream.foreachBatch(check)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_contamination_alerts(
    docs: DataFrame,
    eval_grams: DataFrame,
    n: int = 13,
) -> DataFrame:
    """Streaming eval-leak monitor (r8): one row per (arriving doc ×
    shared eval n-gram hash) — the ingest-time twin of
    ``operators/decontaminate.contamination_report``. The eval side is
    a STATIC frame of distinct gram hashes (build it once with
    ``eval_gram_hashes``); stream×static INNER joins are fully
    supported in append mode, and the broadcast keeps per-batch cost at
    one linear pass over arrivals. No state accumulates — the alert
    sink is the record."""
    from lakehouse_adventureworks2022_spark.operators.decontaminate import (
        word_ngrams,
    )

    grams = word_ngrams(docs, n).select(
        "doc_id", F.xxhash64("gram").alias("gram")
    )
    return grams.join(F.broadcast(eval_grams), "gram").select(
        "doc_id", "gram"
    )


def eval_gram_hashes(evalset: DataFrame, n: int = 13) -> DataFrame:
    """Distinct xxhash64'd word n-grams of a (batch) eval set — the
    static side for :func:`stream_contamination_alerts` and
    :func:`stream_decontaminate`."""
    from lakehouse_adventureworks2022_spark.operators.decontaminate import (
        word_ngrams,
    )

    return (
        word_ngrams(evalset, n)
        .select(F.xxhash64("gram").alias("gram"))
        .distinct()
    )


def stream_decontaminate(
    docs: DataFrame,
    evalset: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n: int = 13,
):
    """Ingest-time decontamination: every micro-batch runs the SAME
    batch operator (``operators/decontaminate.decontaminate``) against
    the static eval set and appends only the clean documents to
    ``out_dir`` — the foreachBatch escape hatch because stream-side
    LEFT ANTI joins aren't supported declaratively (same pattern as
    ``stream_drift_monitor``). Stream result ≡ the batch operator over
    the union of batches (tested): per-doc membership is a pure
    function of (doc text, eval set), so batch boundaries can't change
    it."""
    from lakehouse_adventureworks2022_spark.operators.decontaminate import (
        decontaminate,
    )

    def clean(batch_df: DataFrame, batch_id: int) -> None:
        decontaminate(batch_df, evalset, n=n).write.mode("append").parquet(
            out_dir
        )

    return (
        docs.writeStream.foreachBatch(clean)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
