"""BM25 lexical retrieval over an inverted-index table, and
reciprocal-rank-fusion hybrid search combining it with the vector
(IVF) retriever — the standard two-leg RAG retrieval stack
(Robertson-Spärck Jones BM25; Cormack et al. RRF).

Beyond-reference scope: the reference lakehouse has no search of any
kind; a training/RAG pipeline needs the lexical leg because embedding
retrieval misses exact identifiers, rare terms, and out-of-domain
vocabulary — which is precisely what BM25's idf weighting catches.

Spark-first design:

- the inverted index IS a DataFrame — ``(term, doc_id, tf)`` postings
  plus per-doc lengths and per-term document frequencies, built in two
  uniform-key aggregations over one tokenized scan and persistable via
  ``TableManager`` like every other index in this engine;
- scoring is join-shaped, not UDF-shaped: query terms (a kilobyte-scale
  frame) broadcast against the postings equi-join on ``term``; the BM25
  formula is a single Catalyst expression over (tf, df, doc_len)
  columns; per-query top-k is the engine's standard window pattern.

100 TB posture: postings shuffle once on the uniform term key at build;
a query batch touches only the postings of ITS terms (the broadcast
join prunes everything else — this is the inverted index doing its
job), and the score aggregation keys on (query_id, doc_id), which is as
uniform as the corpus itself. A pathological stop-word query term hits
a huge posting list — mitigate upstream with a df-ratio cap
(``max_df_ratio``), the classic stop-list-by-statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators.textops import tokens_col


def build_bm25_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_ratio: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Build the inverted index: returns ``(postings, stats)``.

    ``postings``: one row per (term, doc_id) — ``(term, doc_id, tf,
    doc_len, df, n_docs)`` with everything scoring needs denormalized
    onto the posting row (df/n_docs ride along so search needs no extra
    join). Terms in more than ``max_df_ratio`` of documents are dropped
    (statistical stop-listing — their idf ≈ 0 contributes noise and
    their posting lists are the skew hazard).

    ``stats``: single row ``(n_docs, avg_doc_len)``.
    """
    from lakehouse_adventureworks2022_spark.operators.dedup import (
        _attach_cached_input,
    )

    toks = F.filter(tokens_col(F.col(text_col)), lambda t: F.length(t) > 0)
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks__")
    ).withColumn("doc_len", F.size("__toks__")).persist()
    # the tokenized corpus is persisted across the build's TWO jobs —
    # the single-row stats aggregate (which also supplies the
    # driver-side n_docs for the df threshold) and the postings
    # aggregation — so tokenization runs once, per the engine cache
    # contract (released with the returned postings frame). Stats come
    # from `base`, not the tf frame, deliberately: zero-token documents
    # produce no postings but still count toward n_docs/avg_doc_len.
    stats_row = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avg_doc_len"),
    ).collect()[0]
    n_docs = stats_row["n_docs"]
    if n_docs == 0:
        base.unpersist()
        raise ValueError(
            "build_bm25_index: empty corpus — an inverted index over "
            "zero documents cannot be searched (avg_doc_len undefined)"
        )
    spark = docs.sparkSession
    stats = spark.createDataFrame(
        [(n_docs, float(stats_row["avg_doc_len"]))],
        "n_docs long, avg_doc_len double",
    )
    tf = (
        base.select("doc_id", "doc_len", F.explode("__toks__").alias("term"))
        .groupBy("term", "doc_id", "doc_len")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    postings = (
        tf.join(
            df_counts.filter(F.col("df") <= int(max_df_ratio * n_docs)),
            "term",
        )
        .withColumn("n_docs", F.lit(n_docs))
    )
    return _attach_cached_input(postings, base), stats


def bm25_index_save(
    postings: DataFrame, stats: DataFrame, index_dir: str, n_files: int = 16
) -> None:
    """Persist the inverted index: postings range-clustered on ``term``
    (point-term lookups prune files via footer min-max — the same
    clustered-index discipline as the IVF cells table) + the one-row
    stats beside it."""
    (
        postings.repartitionByRange(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{index_dir}/postings")
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/stats")


def bm25_index_ensure(
    spark,
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_ratio: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Load the persisted inverted index at ``index_dir``, building and
    committing it first if absent — the deployed lexical-search shape
    (build once per corpus version; the build is deterministic). The
    dir is keyed to the corpus version by the caller; like the vector
    indexes it is one manifest-committed generation
    (``storage/commit.py``) whose manifest records ``max_df_ratio``,
    ``text_col`` and ``id_col`` — opening it with others raises
    ``ValueError`` naming both sets."""
    from lakehouse_adventureworks2022_spark.storage import commit

    def build(base: str) -> None:
        from lakehouse_adventureworks2022_spark.operators.dedup import (
            release_cached_inputs,
        )

        postings, stats = build_bm25_index(
            docs, text_col=text_col, id_col=id_col, max_df_ratio=max_df_ratio
        )
        bm25_index_save(postings, stats, base)
        # the save materialized the postings; drop the tokenized-corpus
        # cache explicitly (primary release path of the cache contract)
        release_cached_inputs(postings)

    params = {"max_df_ratio": max_df_ratio, "text_col": text_col, "id_col": id_col}
    base = commit.gen_path(
        index_dir, commit.ensure(index_dir, params, build, kind="bm25 index"), "base"
    )
    return (
        spark.read.parquet(f"{base}/postings"),
        spark.read.parquet(f"{base}/stats"),
    )


def bm25_search(
    queries: DataFrame,
    postings: DataFrame,
    stats: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "query_text",
) -> DataFrame:
    """BM25 top-k per query: ``(query_id, cand_id, rank, score)``.

    idf is the Robertson-Spärck Jones form
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always positive); repeated
    query terms weight by their query-side count. One broadcast of the
    query-term frame, one equi-join on ``term``, one (query, doc)
    aggregation, one window top-k.
    """
    avg_len = stats.select("avg_doc_len").collect()[0]["avg_doc_len"]
    qterms = (
        queries.select(
            "query_id",
            F.explode(
                F.filter(
                    tokens_col(F.col(text_col)), lambda t: F.length(t) > 0
                )
            ).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )
    idf = F.log1p(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_sat = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("doc_len") / F.lit(float(avg_len)))
    )
    scored = (
        postings.join(F.broadcast(qterms), "term")
        .select(
            "query_id",
            F.col("doc_id").alias("cand_id"),
            (F.col("qtf") * idf * tf_sat).alias("__s__"),
        )
        .groupBy("query_id", "cand_id")
        .agg(F.sum("__s__").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", F.round("score", 6).alias("score"))
    )


def rrf_fuse(
    hits_a: DataFrame,
    hits_b: DataFrame,
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers' ``(query_id, cand_id,
    rank)`` lists: ``score = Σ_leg 1/(c + rank)``, re-ranked top-k —
    the standard score-free hybrid (no calibration between BM25 scores
    and cosines needed, which is RRF's whole point).

    Full-outer on (query, cand): a candidate found by only one leg
    still scores on that leg. Both inputs are already ≤ |Q|·k rows, so
    fusion is trivially cheap regardless of corpus size.
    """
    a = hits_a.select("query_id", "cand_id", F.col("rank").alias("rank_a"))
    bdf = hits_b.select("query_id", "cand_id", F.col("rank").alias("rank_b"))
    fused = (
        a.join(bdf, ["query_id", "cand_id"], "full_outer")
        .withColumn(
            "score",
            F.coalesce(1.0 / (F.lit(c) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(c) + F.col("rank_b")), F.lit(0.0)),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cand_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", F.round("score", 6).alias("score"))
    )


# ---- learned re-ranking over fused retrieval legs --------------------

#: Features per (query, candidate): the two legs' reciprocal ranks and
#: normalized scores (0 where a leg missed the candidate).
LTR_FEATURE_COLS = ("rr_lex", "rr_vec", "score_lex", "cosine_vec")


def ltr_features(hits_lex: DataFrame, hits_vec: DataFrame) -> DataFrame:
    """Per-(query, cand) feature frame from the two retrieval legs —
    full-outer so a candidate one leg missed still gets the other
    leg's evidence (the missing side reads as 0). ≤ |Q|·k rows per
    leg; the join is trivially cheap at any corpus size."""
    lex = hits_lex.select(
        "query_id",
        "cand_id",
        (1.0 / F.col("rank")).alias("rr_lex"),
        F.col("score").alias("score_lex"),
    )
    vec = hits_vec.select(
        "query_id",
        "cand_id",
        (1.0 / F.col("rank")).alias("rr_vec"),
        F.col("cosine").alias("cosine_vec"),
    )
    return lex.join(vec, ["query_id", "cand_id"], "full_outer").na.fill(
        {c: 0.0 for c in LTR_FEATURE_COLS}
    )


def train_reranker(features: DataFrame, positives: DataFrame):
    """Fit a pointwise learning-to-rank model (logistic over
    :data:`LTR_FEATURE_COLS`) from ground-truth positives — the
    lightweight cross-encoder stand-in: distributed L-BFGS, JVM-side
    scoring, saves/loads like any ``pyspark.ml`` model. Labels: 1 for
    (query, cand) in ``positives``, 0 otherwise."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    labeled = features.join(
        F.broadcast(positives.withColumn("label", F.lit(1.0))),
        ["query_id", "cand_id"],
        "left",
    ).na.fill({"label": 0.0})
    assembled = VectorAssembler(
        inputCols=list(LTR_FEATURE_COLS), outputCol="features"
    ).transform(labeled)
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", maxIter=50, regParam=0.01
    )
    return lr.fit(assembled)


def rerank(features: DataFrame, model, k: int = 10) -> DataFrame:
    """Score candidates with the trained re-ranker and take per-query
    top-k by model probability: ``(query_id, cand_id, rank, score)``."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    assembled = VectorAssembler(
        inputCols=list(LTR_FEATURE_COLS), outputCol="features"
    ).transform(features)
    scored = model.transform(assembled).select(
        "query_id",
        "cand_id",
        F.round(
            vector_to_array(F.col("probability"))[1], 6
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "score")
    )
