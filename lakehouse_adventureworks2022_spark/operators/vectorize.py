"""Embed-less text vectorization + the end-to-end retrieval composite.

A retrieval/RAG pipeline over a text corpus is chunk → embed → index →
search. Every stage except *embed* is pure data engineering, and this
container has no embedding model — so the embed stage here is the
classical **feature-hashing (hashing-trick) bag-of-words vectorizer**
(Weinberger et al. 2009, "Feature Hashing for Large Scale Multitask
Learning"): token → bucket ``md5(token) mod dim``, value ``±1`` by a
second hash bit, L2-normalized. It is deterministic, vocabulary-free
(no fit pass, no dictionary to ship), and produces real
``array<double>`` vectors with meaningful cosine structure (shared
tokens ⇒ shared buckets), so the whole downstream ANN stack — IVF
cells, persisted indexes, top-k search — runs EXACTLY as it would under
a learned model. Swapping in a real encoder is replacing one
``mapInPandas`` stage; every schema, partition, and index contract
stays.

Scale: the vectorizer is a zero-shuffle Arrow-batched projection
(hash + accumulate per token, no vocabulary broadcast, no fit job —
the hashing trick's point at 100 TB); the composite inherits the IVF
family's shapes (bounded train collect, cell equi-joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: tokenizer contract shared with ``textops.tokens_col`` (lower → trim →
#: split on whitespace); re-stated in Python for the Arrow batches.
VECTORIZE_SCHEMA_SUFFIX = "embedding array<double>"


def _hash_embed_batch_fn(text_field: str, dim: int, keep_fields: list[str]):
    """Build the portable mapInPandas closure (self-contained imports —
    see tests/test_worker_portability.py)."""

    def embed(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = np.zeros((len(pdf), dim), dtype=np.float64)
            for i, text in enumerate(pdf[text_field].astype(str)):
                for tok in text.strip().lower().split():
                    d = hashlib.md5(tok.encode()).digest()
                    bucket = int.from_bytes(d[:8], "big") % dim
                    sign = 1.0 if d[8] & 1 else -1.0
                    out[i, bucket] += sign
            norms = np.linalg.norm(out, axis=1)
            norms[norms == 0] = 1.0
            out /= norms[:, None]
            res = pdf[keep_fields].copy()
            res["embedding"] = [list(v) for v in out]
            yield res

    return embed


def hashing_vectorizer(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Hashing-trick BoW vectors: ``keep_cols + (embedding,)`` — one
    L2-normalized ``dim``-vector per row, a pure function of the text
    (identical texts ⇒ identical vectors, cosine 1.0).

    Zero shuffle: one Arrow-batched ``mapInPandas`` projection. No
    vocabulary, no fit stage, no broadcast — the hashing trick trades a
    bounded amount of bucket collision for a pipeline with no model
    state at all, which is what makes it the right *plumbing stand-in*
    for a learned encoder."""
    keep = list(keep_cols)
    schema = ", ".join(
        f"{c} {t}" for c, t in df.select(*keep).dtypes
    ) + f", {VECTORIZE_SCHEMA_SUFFIX}"
    return df.select(*keep, text_col).mapInPandas(
        _hash_embed_batch_fn(text_col, dim, keep), schema
    )


def _chunk_vectors(
    docs: DataFrame, chunk_tokens: int, overlap_tokens: int, dim: int
) -> tuple[DataFrame, DataFrame]:
    """``(vectors, chunks)`` of a documents table: the chunks with
    ``vec_id = doc_id·10⁶ + chunk_id`` (chunk ordinals are bounded far
    below 10⁶ by construction — a chunk covers ≥ chunk−overlap tokens)
    and their hashed ``(vec_id, embedding)`` vectors."""
    from lakehouse_adventureworks2022_spark.operators.curation import (
        chunk_documents,
    )

    chunks = chunk_documents(
        docs, chunk_tokens=chunk_tokens, overlap_tokens=overlap_tokens
    ).withColumn(
        "vec_id",
        (F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_id")).cast("long"),
    )
    vectors = hashing_vectorizer(
        chunks, text_col="chunk_text", dim=dim, keep_cols=("vec_id",)
    )
    return vectors, chunks


def build_chunk_index(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap_tokens: int = 8,
    dim: int = 64,
    n_cells: int | None = None,
    train_cap: int | None = None,
):
    """Chunk → vectorize → IVF index over a documents table, in memory:
    returns ``(index, chunks)`` — an ``("ivf", "raw")``
    ``similarity.VectorIndex`` whose rows carry ``cand_id = doc_id·10⁶
    + chunk_id``, and the chunks. :func:`chunk_index_ensure` persists
    the same index so the build amortizes.

    ``n_cells=None`` (the deployed default since r6) derives the cell
    count from the corpus via ``similarity.ivf_build_auto`` — ≈√N cells
    with the driver training sample auto-scaled to 16 vectors/cell — so
    the same call is right at fixture scale and at 100 TB, and the
    build stays bit-deterministic (one extra count job). Distributed
    k-means|| remains the explicit escape hatch for cell counts beyond
    the driver-sample budget (see ``ivf_build_auto``)."""
    from lakehouse_adventureworks2022_spark.operators.similarity import (
        _build_index,
    )

    vectors, chunks = _chunk_vectors(docs, chunk_tokens, overlap_tokens, dim)
    index = _build_index(
        vectors, "ivf", "raw", n_cells=n_cells, train_cap=train_cap
    )
    return index, chunks


def mine_hard_negatives(
    queries: DataFrame,
    positives: DataFrame,
    index,
    dim: int = 64,
    k: int = 20,
    n_neg: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Hard-negative mining for embedding-model training data: for each
    query, the ``n_neg`` highest-ranked retrieved chunks that are NOT
    labeled positives — the candidates the current encoder confuses with
    the answer, which is exactly what contrastive training wants.

    ``positives`` is the ground-truth ``(query_id, cand_id)`` table;
    ``index`` is the chunk index (:func:`chunk_index_ensure`).
    Returns ``(query_id, cand_id, rank, cosine)`` re-ranked 1..n_neg.

    Shape: one IVF top-k search (probe-pruned clustered scan), a
    left-anti equi-join against the (small, broadcast) positives, and a
    per-query window re-rank over ≤ k rows — nothing scales with corpus
    size beyond the search itself."""
    from pyspark.sql import Window

    hits = retrieval_search(queries, index, dim=dim, k=k, n_probe=n_probe)
    negs = hits.join(
        F.broadcast(
            positives.select(
                F.col("query_id").alias("__qid__"),
                F.col("cand_id").alias("__pid__"),
            )
        ),
        (hits["query_id"] == F.col("__qid__"))
        & (hits["cand_id"] == F.col("__pid__")),
        "left_anti",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        negs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_neg)
        .select("query_id", "cand_id", "rank", "cosine")
    )


def retrieval_metrics(
    hits: DataFrame, positives: DataFrame, ks: tuple[int, ...] = (1, 5, 10)
) -> DataFrame:
    """Retrieval quality metrics from a ``(query_id, cand_id, rank)``
    hits table and a ``(query_id, cand_id)`` ground-truth table: one row
    per cutoff ``k`` with ``recall_at_k`` (CAPPED recall, the BEIR
    convention: hits-in-top-k / min(n_positives, k), averaged over
    queries — a query with more positives than k can still reach 1.0),
    ``hit_rate_at_k``
    (fraction of queries with ≥1 positive in the top k), and ``mrr``
    (mean reciprocal rank of the first positive, cutoff-independent —
    repeated per row for a rectangular result).

    Shape: one broadcast equi-join of the (small) truth table onto the
    hits, then two aggregations over |queries| × |ks| rows — evaluation
    never rescans the corpus. Queries with no positives are excluded
    from averaging (undefined recall), the standard IR convention."""
    labeled = hits.join(
        F.broadcast(positives.withColumn("__pos__", F.lit(1))),
        ["query_id", "cand_id"],
        "left",
    ).withColumn("__pos__", F.coalesce("__pos__", F.lit(0)))
    n_pos = positives.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_pos")
    )
    per_q = (
        labeled.groupBy("query_id")
        .agg(
            *[
                F.sum(
                    F.when((F.col("rank") <= k) & (F.col("__pos__") == 1), 1)
                    .otherwise(0)
                ).alias(f"__hits_{k}__")
                for k in ks
            ],
            F.min(
                F.when(F.col("__pos__") == 1, F.col("rank"))
            ).alias("__first_pos__"),
        )
        # anchor on the POSITIVES side: a query with ground truth but
        # ZERO retrieved rows must contribute recall 0, not vanish
        # (dropping it silently inflates every metric); queries with no
        # positives stay excluded (undefined recall — IR convention)
        .join(n_pos, "query_id", "right")
        .na.fill({f"__hits_{k}__": 0 for k in ks})
    )
    rr = F.coalesce(1.0 / F.col("__first_pos__"), F.lit(0.0))
    agg = per_q.agg(
        *[
            F.round(
                F.avg(
                    F.col(f"__hits_{k}__")
                    / F.least(F.col("n_pos"), F.lit(k))
                ),
                6,
            ).alias(f"__r{k}__")
            for k in ks
        ],
        *[
            F.round(
                F.avg((F.col(f"__hits_{k}__") > 0).cast("double")), 6
            ).alias(f"__h{k}__")
            for k in ks
        ],
        F.round(F.avg(rr), 6).alias("__mrr__"),
        F.count(F.lit(1)).alias("__nq__"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.col(f"__r{k}__").alias("recall_at_k"),
                F.col(f"__h{k}__").alias("hit_rate_at_k"),
                F.col("__mrr__").alias("mrr"),
                F.col("__nq__").alias("n_queries"),
            )
            for k in ks
        ]
    )
    return agg.select(F.explode(rows).alias("m")).select(
        "m.k", "m.recall_at_k", "m.hit_rate_at_k", "m.mrr", "m.n_queries"
    )


def chunk_index_ensure(
    docs: DataFrame,
    index_dir: str,
    chunk_tokens: int = 64,
    overlap_tokens: int = 8,
    dim: int = 64,
    n_cells: int | None = None,
    train_cap: int | None = None,
):
    """Open the persisted chunk index at ``index_dir``, building it
    first if none is committed — the deployed retrieval shape:
    chunking, vectorization, and IVF training are paid once per corpus
    version (the build is deterministic, so rebuilds agree bit-for-bit),
    and steady-state queries pay probe-pruned search only. Returns the
    ``similarity.VectorIndex`` (base + committed appends).

    The manifest records ``chunk_tokens``/``overlap_tokens``/``dim``
    beside the IVF params: reopening with other values raises
    ``ValueError`` instead of mixing vector spaces."""
    from lakehouse_adventureworks2022_spark.operators.vector_index import (
        ensure_index,
    )

    vectors, _ = _chunk_vectors(docs, chunk_tokens, overlap_tokens, dim)
    return ensure_index(
        vectors,
        index_dir,
        "ivf",
        "raw",
        n_cells=n_cells,
        train_cap=train_cap,
        recipe=_chunk_recipe(chunk_tokens, overlap_tokens, dim),
    )


def _chunk_recipe(chunk_tokens: int, overlap_tokens: int, dim: int) -> dict:
    """How the chunk index derives its vectors — they define cand_id
    packing and the vector space, so appends must match the build."""
    return {
        "chunk_tokens": chunk_tokens,
        "overlap_tokens": overlap_tokens,
        "dim": dim,
    }


def chunk_index_append(
    new_docs: DataFrame,
    index_dir: str,
    chunk_tokens: int = 64,
    overlap_tokens: int = 8,
    dim: int = 64,
    n_files: int = 4,
    batch_tag: str | None = None,
) -> None:
    """Grow a persisted chunk index with NEW documents without
    rebuilding (r10 — the one >5× row in the r9 20× scaling ledger was
    ``rag_retrieval``'s full chunk-index rebuild per corpus version):
    chunk and vectorize the new docs with the index's recipe, then
    ``vector_index.append_index`` assigns them to the FROZEN centroids.

    Corpus growth therefore pays per-batch chunk+encode+append —
    linear in the BATCH — instead of a full rebuild linear in the
    corpus. Centroids never move, so existing rows never rewrite and
    old query results stay stable; ``vector_index.recluster_index``
    folds accumulated append batches back into the clustered base and
    ``retrain_index`` re-trains a drifted one.

    ``batch_tag`` makes the append idempotent for at-least-once
    delivery: a replay replaces the tag's committed rows instead of
    duplicating them, and only batches the manifest committed are
    searched.

    ``chunk_tokens/overlap_tokens/dim`` must match the base build: the
    append checks them against the manifest and raises ``ValueError``
    on a mismatch."""
    from lakehouse_adventureworks2022_spark.operators.vector_index import (
        append_index,
    )

    vectors, _ = _chunk_vectors(new_docs, chunk_tokens, overlap_tokens, dim)
    append_index(
        vectors,
        index_dir,
        batch_tag=batch_tag,
        n_files=n_files,
        recipe=_chunk_recipe(chunk_tokens, overlap_tokens, dim),
    )


def retrieval_search(
    queries: DataFrame,
    index,
    dim: int = 64,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Vectorize free-text queries (``query_id, query_text``) with the
    SAME hashing vectorizer and probe the chunk index: returns
    ``(query_id, cand_id, rank, cosine)`` — ``cand_id`` decodes as
    ``doc_id·10⁶ + chunk_id``."""
    from lakehouse_adventureworks2022_spark.operators.similarity import (
        search_index,
    )

    qv = hashing_vectorizer(
        queries.withColumnRenamed("query_id", "vec_id"),
        text_col="query_text",
        dim=dim,
        keep_cols=("vec_id",),
    )
    return search_index(index, qv, k=k, n_probe=n_probe)
