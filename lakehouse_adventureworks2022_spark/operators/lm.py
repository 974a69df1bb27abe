"""Distributed n-gram language model for perplexity-based quality
scoring (beyond-reference scope — the CCNet / Wikipedia-LM family
filter: score each document's fluency under a reference corpus model and
gate or bucket on perplexity).

The reference lakehouse has nothing like this (SURVEY.md §2 is pure
warehouse ELT); in a training-data pipeline it is the standard
model-based quality signal next to the heuristic gates
(``operators.quality``/``textops``). The published pipelines use KenLM;
that is a C library, so the engine trains its own count-based add-k
model entirely in Catalyst — no UDFs, no driver-side corpus state.

Model = a plain DataFrame of smoothed conditional counts, so it
persists/reloads through ``storage.TableManager`` like any other table
and scoring is ordinary equi-joins:

- train: one explode over padded token n-grams + one uniform-key
  aggregation → ``(context, word, c)``; context totals derive from a
  second (smaller) aggregation. Linear in corpus size at any scale.
- score: explode the scored docs the same way, two left equi-joins
  against the model (on ``(context, word)`` and ``context``), one
  per-doc aggregation. The hot keys (``<s>`` contexts, stopword
  contexts) are skewed but fan nothing out — the model side is one row
  per key; AQE skew-split covers the shuffle imbalance.

Smoothing: add-k (Lidstone). ``P(w|ctx) = (c(ctx,w) + k) / (c(ctx) +
k·V)`` with V = training vocabulary size (+1 for ``</s>``; unseen words
fall into the same additive mass — P = k/(c(ctx)+k·V), and a fully
unseen context degrades to the uniform 1/V). Kneser-Ney would be the
published choice for a real LM; for a *relative* quality gate the add-k
ranking is the accepted cheap stand-in and keeps training one
aggregation.

Perplexity: ``ppl = exp(−(1/T)·Σ log P)`` over a doc's T = n_tokens+1
transitions (the ``</s>`` transition included, so empty docs still get
a finite score).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators.textops import tokens_col

#: Sentinel tokens. BOS pads contexts for a doc's first transitions; EOS
#: models document end (real words never collide — the tokenizer
#: lowercases and splits on whitespace, so "<s>" survives as-is only if
#: a doc literally contains it, and then counting it as the sentinel is
#: the standard degenerate case every text LM accepts).
BOS = "<s>"
EOS = "</s>"


def _padded_tokens(text: Column, n: int) -> Column:
    """Tokens with n−1 BOS markers in front and one EOS appended; an
    empty/whitespace doc contributes just the ``<s>…</s>`` transition."""
    toks = F.filter(tokens_col(text), lambda t: F.length(t) > 0)
    return F.concat(
        F.array_repeat(F.lit(BOS), n - 1), toks, F.array(F.lit(EOS))
    )


def _gram_pairs(toks: Column, n: int) -> Column:
    """Array of ``struct(context, word)`` for every n-gram transition in
    a padded token array (size = token_count + 1, ≥ 1 always).

    ``toks`` MUST be a materialized column reference (project
    :func:`_padded_tokens` first — see :func:`_gram_frame`): expressions
    referenced inside a ``transform`` lambda get re-evaluated per
    element, so passing the raw tokenize pipeline here would re-split
    the document once per gram — O(tokens²) per doc (measured 6.3 s for
    a 276k-gram corpus vs 0.4 s with the projection)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.struct(
            (
                F.concat_ws(
                    " ", *[F.element_at(toks, i + j - 1) for j in range(1, n)]
                )
                if n > 1
                else F.lit("")
            ).alias("context"),
            F.element_at(toks, i + n - 1).alias("word"),
        ),
    )


def _gram_frame(
    docs: DataFrame, text_col: str, n: int, with_doc_id: bool
) -> DataFrame:
    """``(doc_id?, context, word)`` — one row per n-gram transition.
    Tokenization is a separate projection so the array is evaluated
    once per row, not once per gram."""
    cols = (["doc_id"] if with_doc_id else []) + [
        _padded_tokens(F.col(text_col), n).alias("__pt__")
    ]
    padded = docs.select(*cols)
    return padded.select(
        *(["doc_id"] if with_doc_id else []),
        F.explode(_gram_pairs(F.col("__pt__"), n)).alias("g"),
    ).select(*(["doc_id"] if with_doc_id else []), "g.context", "g.word")


def train_ngram_lm(
    docs: DataFrame, text_col: str = "text", n: int = 2
) -> DataFrame:
    """Count-model training: ``(context, word, c)`` over the corpus.

    One explode + one aggregation on the uniform ``(context, word)``
    key. The returned frame IS the model — persist it as a table for
    reuse (``storage.TableManager.overwrite``), or feed it straight to
    :func:`score_perplexity`.
    """
    grams = _gram_frame(docs, text_col, n, with_doc_id=False)
    return grams.groupBy("context", "word").agg(
        F.count(F.lit(1)).alias("c")
    )


def lm_vocab_size(lm: DataFrame) -> int:
    """Training vocabulary size V (distinct predicted words, EOS
    included) — a bounded single-row collect for callers who want the
    scalar up front (e.g. to pass ``vocab_size`` when scoring many
    batches under one persisted model). The scorers themselves no
    longer call this: they fold V in as a broadcast one-row subplan so
    scoring stays fully lazy (r9 — the blocking driver job between
    train and score was half of doc_perplexity's bench cost)."""
    return lm.select(F.countDistinct("word").alias("v")).collect()[0]["v"]


def _scalars(lm: DataFrame, **aggs: Column) -> DataFrame:
    """One-row frame of model-level scalars (vocab size, token total,
    type count) to ``crossJoin(broadcast(...))`` into a scoring plan —
    the lazy substitute for per-scalar driver collects. Aggregations
    without grouping always yield exactly one row, so the cross join
    never changes cardinality."""
    return F.broadcast(lm.agg(*[c.alias(k) for k, c in aggs.items()]))


def score_perplexity(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: float = 0.5,
    vocab_size: int | None = None,
) -> DataFrame:
    """Per-document add-k perplexity under a trained model:
    ``(doc_id, n_transitions, avg_nll, ppl)`` — lower = more fluent
    under the training corpus; pipelines gate on a ppl threshold or
    bucket into quality tiers.

    ``vocab_size`` folds V in as a literal when the caller already knows it
    (e.g. scoring many batches under one persisted model).

    The model frame is consumed three times (vocabulary scalar, the
    ``(context, word)`` join, the context-totals join). The scorers do
    NOT persist it: every consumer sits on the same
    ``Exchange hashpartitioning(context, word)`` over the gram explode,
    which Spark's ReuseExchange computes once per action — the train
    pass runs once and only the cheap per-consumer re-aggregations
    repeat. An earlier ``persist()`` here was measured (r13 opt) as a
    net pessimization: ``persist()`` eagerly physical-plans the model
    subtree at call time, the InMemoryRelation blocks AQE inside the
    cached plan, and the columnar cache write costs more than the
    re-aggregations it saves (doc_perplexity 1.69 s → 2.43 s at sf0.1
    with the cache live; 1.48 s with no persist at all). At 100 TB the
    exchange-reuse posture holds: shuffle files are reused from disk,
    nothing recomputes the corpus explode.
    """
    ctx_totals = lm.groupBy("context").agg(F.sum("c").alias("ctx_c"))
    grams = _gram_frame(docs, text_col, n, with_doc_id=True)
    joined = grams.join(lm, ["context", "word"], "left").join(
        ctx_totals, ["context"], "left"
    )
    if vocab_size is not None:
        v: Column = F.lit(float(vocab_size))
    else:
        # V as a broadcast one-row subplan, not a driver collect: the
        # collect ran a whole blocking job (train agg + countDistinct)
        # before the scoring job could even be submitted — measured at
        # half of doc_perplexity's bench cost at sf0.1 (r9). Same exact
        # value, same arithmetic, one scheduler round-trip instead of
        # two, and the operator is now fully lazy.
        joined = joined.crossJoin(
            _scalars(lm, __v__=F.countDistinct("word").cast("double"))
        )
        v = F.col("__v__")
    joined = joined.select(
        "doc_id",
        (
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("ctx_c"), F.lit(0)) + F.lit(k) * v)
            )
        ).alias("logp"),
    )
    nll = -F.avg("logp")
    out = (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            nll.alias("avg_nll"),
            F.exp(nll).alias("ppl"),
        )
    )
    return out


def score_perplexity_interpolated(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: float = 0.5,
    lam: float = 0.7,
    vocab_size: int | None = None,
) -> DataFrame:
    """Jelinek-Mercer interpolated perplexity: ``P = λ·P_n(w|ctx) +
    (1−λ)·P_1(w)`` — the standard backoff that keeps rare-context
    transitions from collapsing to the uniform floor (an add-k-only
    bigram over-penalizes fluent text whose exact contexts are sparse
    in the reference corpus; mixing in the unigram keeps the signal
    proportional to how plausible the WORD is at all).

    Same join shape as :func:`score_perplexity` plus one more
    broadcast-size join: the unigram table derives from the model by
    summing counts per word (|vocab| rows). Both component
    probabilities use add-k smoothing over the same vocabulary.
    """
    # no persist: model consumers share the (context, word) exchange
    # via ReuseExchange — see score_perplexity (r13 opt)
    ctx_totals = lm.groupBy("context").agg(F.sum("c").alias("ctx_c"))
    uni = lm.groupBy("word").agg(F.sum("c").alias("uc"))
    # model-level scalars as one broadcast subplan (no driver collects
    # — see score_perplexity): V and the unigram token total together
    scalar_aggs: dict[str, Column] = {
        "__tt__": F.coalesce(F.sum("c"), F.lit(0)).cast("double")
    }
    if vocab_size is not None:
        v: Column = F.lit(float(vocab_size))
    else:
        scalar_aggs["__v__"] = F.countDistinct("word").cast("double")
    grams = _gram_frame(docs, text_col, n, with_doc_id=True)
    joined = (
        grams.join(lm, ["context", "word"], "left")
        .join(ctx_totals, ["context"], "left")
        .join(uni, ["word"], "left")
        .crossJoin(_scalars(lm, **scalar_aggs))
    )
    if vocab_size is None:
        v = F.col("__v__")
    p_n = (F.coalesce(F.col("c"), F.lit(0)) + F.lit(k)) / (
        F.coalesce(F.col("ctx_c"), F.lit(0)) + F.lit(k) * v
    )
    p_1 = (F.coalesce(F.col("uc"), F.lit(0)) + F.lit(k)) / (
        F.col("__tt__") + F.lit(k) * v
    )
    joined = joined.select(
        "doc_id",
        F.log(F.lit(lam) * p_n + F.lit(1.0 - lam) * p_1).alias("logp"),
    )
    nll = -F.avg("logp")
    out = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        nll.alias("avg_nll"),
        F.exp(nll).alias("ppl"),
    )
    return out


def doc_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: float = 0.5,
) -> DataFrame:
    """Self-scored corpus perplexity (train on the corpus, score the
    corpus) — the one-frame form a pipeline uses to FIND its outliers:
    templated spam and non-text garbage sit far above the corpus's own
    typical ppl even under a self-trained model.

    For the deployment shape (train on a trusted reference corpus,
    score candidate data), call :func:`train_ngram_lm` on the reference
    and :func:`score_perplexity` on the candidates with the persisted
    model.
    """
    lm = train_ngram_lm(docs, text_col, n)
    return score_perplexity(docs, lm, text_col, n, k)


def score_perplexity_kn(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    n: int = 2,
    discount: float = 0.75,
    k: float = 0.5,
    vocab_size: int | None = None,
) -> DataFrame:
    """Interpolated Kneser-Ney perplexity (r7) — the standard strongest
    count-based smoothing (Kneser & Ney 1995; Chen & Goodman 1999):

    ``P(w|ctx) = max(c(ctx,w) − D, 0)/c(ctx) + λ(ctx)·P_cont(w)`` with
    ``λ(ctx) = D·N1+(ctx,·)/c(ctx)`` and the CONTINUATION probability
    ``P_cont(w) = N1+(·,w)/N1+(·,·)`` — how many distinct contexts a
    word follows, not how often it occurs (the "San Francisco" fix:
    "Francisco" is frequent but follows one context, so it gets low
    continuation mass). An unseen context backs off to ``P_cont``
    directly; ``P_cont`` itself carries an add-``k`` floor over the
    vocabulary so OOV words stay finite.

    Every statistic is ONE aggregation over the trained count frame —
    per-context totals and type counts, per-word continuation counts,
    the global bigram-type count — then the same grams⋈model scoring
    joins as the other scorers; zero UDFs. The model rows are unique on
    (context, word), so type counts are plain row counts."""
    # no persist: model consumers share the (context, word) exchange
    # via ReuseExchange — see score_perplexity (r13 opt)
    ctx_stats = lm.groupBy("context").agg(
        F.sum("c").alias("ctx_c"),
        F.count(F.lit(1)).alias("ctx_types"),
    )
    cont = lm.groupBy("word").agg(F.count(F.lit(1)).alias("cont_w"))
    # model-level scalars as one broadcast subplan (no driver collects
    # — see score_perplexity): the global bigram-type count and V
    scalar_aggs: dict[str, Column] = {
        "__tty__": F.count(F.lit(1)).cast("double")
    }
    if vocab_size is not None:
        v: Column = F.lit(float(vocab_size))
    else:
        scalar_aggs["__v__"] = F.countDistinct("word").cast("double")
    grams = _gram_frame(docs, text_col, n, with_doc_id=True)
    joined = (
        grams.join(lm, ["context", "word"], "left")
        .join(ctx_stats, ["context"], "left")
        .join(cont, ["word"], "left")
        .crossJoin(_scalars(lm, **scalar_aggs))
    )
    if vocab_size is None:
        v = F.col("__v__")
    p_cont = (F.coalesce(F.col("cont_w"), F.lit(0)) + F.lit(k)) / (
        F.col("__tty__") + F.lit(k) * v
    )
    d = F.lit(float(discount))
    seen_ctx = F.coalesce(F.col("ctx_c"), F.lit(0)) > 0
    p_kn = F.when(
        seen_ctx,
        F.greatest(F.coalesce(F.col("c"), F.lit(0)) - d, F.lit(0.0))
        / F.col("ctx_c")
        + d * F.col("ctx_types") / F.col("ctx_c") * p_cont,
    ).otherwise(p_cont)
    joined = joined.select("doc_id", F.log(p_kn).alias("logp"))
    nll = -F.avg("logp")
    out = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        nll.alias("avg_nll"),
        F.exp(nll).alias("ppl"),
    )
    return out


def perplexity_buckets(
    docs: DataFrame,
    k_buckets: int = 3,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 2,
    k: float = 0.5,
) -> DataFrame:
    """CCNet-style quality bucketing (r8): self-scored perplexity split
    into per-source ntiles — bucket 1 ("head" at the conventional
    ``k_buckets=3``) is the most-fluent third of each source, "tail"
    the least. Downstream mixtures oversample head, audit tail.

    Ordering is (ppl rounded to 6dp, doc_id) — the module's display
    rounding plus a total tie-break, so buckets are a pure function of
    the corpus (layout-independent, and an exact DuckDB ntile twin
    exists). Scale: one window sort PER SOURCE (provenance labels — a
    config-time cardinality, same posture as docs_capped_per_source);
    for a corpus dominated by one giant source, split on
    approx-percentile thresholds instead and accept rows-only checks.
    """
    from pyspark.sql import Window

    if k_buckets < 2:
        raise ValueError(f"k_buckets must be >= 2, got {k_buckets}")
    scored = doc_perplexity(docs, text_col, n, k).select(
        "doc_id", F.round("ppl", 6).alias("ppl")
    )
    labeled = docs.select("doc_id", source_col).join(scored, "doc_id")
    w = Window.partitionBy(source_col).orderBy("ppl", "doc_id")
    out = labeled.withColumn("bucket", F.ntile(k_buckets).over(w))
    if k_buckets == 3:
        out = out.withColumn(
            "bucket_label",
            F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 2, "middle")
            .otherwise("tail"),
        )
    else:
        out = out.withColumn(
            "bucket_label", F.concat(F.lit("b"), F.col("bucket"))
        )
    return out.select("doc_id", source_col, "ppl", "bucket", "bucket_label")
