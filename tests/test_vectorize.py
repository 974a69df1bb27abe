"""Hashing-trick vectorizer + retrieval composite (operators/vectorize.py)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators.similarity import cosine_topk
from lakehouse_adventureworks2022_spark.operators.vectorize import (
    build_chunk_index,
    hashing_vectorizer,
    retrieval_search,
)
from lakehouse_adventureworks2022_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


def _reference_vector(text: str, dim: int = 64) -> np.ndarray:
    """Literal python statement of the vectorizer contract."""
    v = np.zeros(dim)
    for tok in text.strip().lower().split():
        d = hashlib.md5(tok.encode()).digest()
        v[int.from_bytes(d[:8], "big") % dim] += 1.0 if d[8] & 1 else -1.0
    n = np.linalg.norm(v)
    return v / n if n else v


def test_matches_python_reference(spark):
    texts = [
        "The quick brown fox jumps over the lazy dog",
        "the the the repeated token weights add up",
        "Ünïcode tøkens señor 北京 123",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: np.array(r["embedding"])
        for r in hashing_vectorizer(df).collect()
    }
    for i, t in enumerate(texts):
        assert np.allclose(got[i], _reference_vector(t), atol=1e-12)


def test_unit_norm_and_determinism(spark):
    docs = read_table(spark, SF, "documents")
    v = hashing_vectorizer(docs)
    rows = v.select(
        "doc_id",
        F.aggregate(
            F.transform("embedding", lambda x: x * x),
            F.lit(0.0),
            lambda s, x: s + x,
        ).alias("sq"),
    ).collect()
    assert all(abs(r["sq"] - 1.0) < 1e-9 for r in rows)
    a = {r["doc_id"]: tuple(r["embedding"]) for r in v.collect()}
    b = {
        r["doc_id"]: tuple(r["embedding"])
        for r in hashing_vectorizer(docs.repartition(11)).collect()
    }
    assert a == b


def test_identical_texts_have_cosine_one(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "different words entirely")],
        "doc_id long, text string",
    )
    vecs = {r["doc_id"]: np.array(r["embedding"]) for r in hashing_vectorizer(df).collect()}
    assert np.allclose(vecs[1] @ vecs[2], 1.0)
    assert vecs[1] @ vecs[3] < 0.99


def test_zero_shuffle_projection(spark):
    docs = read_table(spark, SF, "documents")
    plan = (
        hashing_vectorizer(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_self_retrieval_rank1_brute_force(spark):
    """A chunk's own text as the query must retrieve that chunk at
    rank 1 under exact search (cosine 1.0 by construction)."""
    docs = read_table(spark, SF, "documents").filter(F.col("doc_id") < 40)
    _, chunks = build_chunk_index(docs)
    cand = hashing_vectorizer(chunks, text_col="chunk_text", keep_cols=("vec_id",))
    probe = chunks.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("vec_id") + F.lit(10_000_000_000)).alias("vec_id"),
        F.col("chunk_text"),
    )
    qv = hashing_vectorizer(probe, text_col="chunk_text", keep_cols=("vec_id",))
    top = cosine_topk(qv, cand, k=1).collect()
    assert top, "no queries produced"
    for r in top:
        assert r["cand_id"] == r["query_id"] - 10_000_000_000
        assert r["cosine"] > 1 - 1e-9


def test_retrieval_composite_end_to_end(spark):
    docs = read_table(spark, SF, "documents")
    index, chunks = build_chunk_index(docs)
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(5_000_000_000)).alias("query_id"),
        F.substring("text", 1, 200).alias("query_text"),
    )
    out = retrieval_search(queries, index, k=5)
    rows = out.collect()
    n_queries = queries.count()
    assert rows and len(rows) <= 5 * n_queries
    assert set(out.columns) >= {"query_id", "cand_id", "rank", "cosine"}
    # the query IS a prefix of its own doc: its top hit should be one of
    # that doc's chunks for most queries (IVF probing is approximate, so
    # require a strong majority rather than all)
    top1 = {r["query_id"]: r["cand_id"] for r in rows if r["rank"] == 1}
    hits = sum(
        1 for q, c in top1.items() if c // 1_000_000 == q - 5_000_000_000
    )
    assert hits >= 0.7 * len(top1)


@pytest.mark.slow
def test_amortized_retrieval_reuses_index_and_matches_one_shot(spark, tmp_path):
    import os

    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        chunk_index_ensure,
        retrieval_search,
    )
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents").limit(120)
    queries = docs.limit(5).selectExpr(
        "doc_id + 5000000000 AS query_id",
        "substring(text, 1, 200) AS query_text",
    )
    idx = str(tmp_path / "rag_idx")
    got1 = sorted(
        (r["query_id"], r["rank"], r["cand_id"])
        for r in retrieval_search(
            queries, chunk_index_ensure(docs, idx)
        ).collect()
    )
    # one-shot form over the same corpus must agree (build deterministic)
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        build_chunk_index,
    )

    index0, _ = build_chunk_index(docs)
    got0 = sorted(
        (r["query_id"], r["rank"], r["cand_id"])
        for r in retrieval_search(queries, index0).collect()
    )
    assert got1 == got0
    # second ensure() must NOT rewrite the index (reuse, not rebuild)
    mtime = os.path.getmtime(f"{idx}/manifest.json")
    index2 = chunk_index_ensure(docs, idx)
    assert os.path.getmtime(f"{idx}/manifest.json") == mtime
    got2 = sorted(
        (r["query_id"], r["rank"], r["cand_id"])
        for r in retrieval_search(queries, index2).collect()
    )
    assert got2 == got1


def test_hard_negative_mining(spark):
    from pyspark.sql import functions as F

    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        build_chunk_index,
        mine_hard_negatives,
        retrieval_search,
    )
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents").limit(150)
    index, _ = build_chunk_index(docs)
    queries = docs.limit(8).selectExpr(
        "doc_id + 5000000000 AS query_id",
        "substring(text, 1, 200) AS query_text",
    )
    # ground truth: every chunk of the query's own source doc
    hits = retrieval_search(queries, index, k=20)
    positives = hits.filter(
        (F.col("cand_id") / 1_000_000).cast("long")
        == F.col("query_id") - 5_000_000_000
    ).select("query_id", "cand_id")
    assert positives.count() > 0  # self-retrieval produces positives

    negs = mine_hard_negatives(queries, positives, index, k=20, n_neg=5)
    rows = negs.collect()
    # no positive leaks into the negatives
    pos = {(r["query_id"], r["cand_id"]) for r in positives.collect()}
    assert all((r["query_id"], r["cand_id"]) not in pos for r in rows)
    # ranks are 1..n per query, descending cosine
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        cos = [r["cosine"] for r in rs]
        assert cos == sorted(cos, reverse=True)
    # negatives are HARD: drawn from the top of the retrieval list
    # (every negative's cosine is within the query's top-20 hits)
    top = {
        (r["query_id"], r["cand_id"]) for r in hits.collect()
    }
    assert all((r["query_id"], r["cand_id"]) in top for r in rows)
    # deterministic
    again = sorted(
        (r["query_id"], r["rank"], r["cand_id"])
        for r in mine_hard_negatives(
            queries, positives, index, k=20, n_neg=5
        ).collect()
    )
    assert again == sorted((r["query_id"], r["rank"], r["cand_id"]) for r in rows)


def test_retrieval_metrics_hand_computed(spark):
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        retrieval_metrics,
    )

    # q1: positives {10, 11} — ranks 1 and 3; q2: positive {20} — rank 2;
    # q3: positive {30} never retrieved; q4: no positives (excluded)
    hits = spark.createDataFrame(
        [
            (1, 10, 1), (1, 99, 2), (1, 11, 3),
            (2, 98, 1), (2, 20, 2), (2, 97, 3),
            (3, 96, 1), (3, 95, 2),
            (4, 94, 1),
        ],
        "query_id long, cand_id long, rank int",
    )
    positives = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)],
        "query_id long, cand_id long",
    )
    m = {r["k"]: r for r in retrieval_metrics(hits, positives, ks=(1, 3)).collect()}
    assert m[1]["n_queries"] == 3  # q4 excluded (no positives)
    # capped recall@1: q1 1/1, q2 0/1, q3 0/1 → 1/3
    assert abs(m[1]["recall_at_k"] - 1 / 3) < 1e-6
    # recall@3: q1 2/2, q2 1/1, q3 0/1 → 2/3
    assert abs(m[3]["recall_at_k"] - 2 / 3) < 1e-6
    assert abs(m[1]["hit_rate_at_k"] - 1 / 3) < 1e-6
    assert abs(m[3]["hit_rate_at_k"] - 2 / 3) < 1e-6
    # MRR: q1 1/1, q2 1/2, q3 0 → (1 + 0.5 + 0)/3
    assert abs(m[1]["mrr"] - 0.5) < 1e-6
    assert m[1]["mrr"] == m[3]["mrr"]  # cutoff-independent


def test_retrieval_metrics_on_real_index(spark):
    from pyspark.sql import functions as F

    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        build_chunk_index,
        retrieval_metrics,
        retrieval_search,
    )
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents").limit(100)
    index, chunks = build_chunk_index(docs)
    queries = docs.limit(10).selectExpr(
        "doc_id + 5000000000 AS query_id",
        "substring(text, 1, 200) AS query_text",
    )
    hits = retrieval_search(queries, index, k=10)
    positives = chunks.select(
        (F.col("doc_id") + 5_000_000_000).alias("query_id"),
        F.col("vec_id").alias("cand_id"),
    ).join(queries.select("query_id"), "query_id", "left_semi")
    m = {r["k"]: r for r in retrieval_metrics(hits, positives).collect()}
    # self-retrieval on this corpus is strong: most queries find their
    # own chunks near the top
    assert m[10]["hit_rate_at_k"] >= 0.8
    assert m[1]["mrr"] >= 0.5
    assert m[10]["n_queries"] == 10


def test_retrieval_metrics_counts_zero_hit_queries(spark):
    """A query with ground truth but NO retrieved rows must drag the
    averages down (recall 0), not silently vanish from n_queries."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        retrieval_metrics,
    )

    hits = spark.createDataFrame(
        [(1, 10, 1)], "query_id long, cand_id long, rank int"
    )
    positives = spark.createDataFrame(
        [(1, 10), (2, 20)], "query_id long, cand_id long"  # q2: zero hits
    )
    m = {r["k"]: r for r in retrieval_metrics(hits, positives, ks=(1,)).collect()}
    assert m[1]["n_queries"] == 2
    assert abs(m[1]["recall_at_k"] - 0.5) < 1e-9  # (1 + 0)/2
    assert abs(m[1]["hit_rate_at_k"] - 0.5) < 1e-9
    assert abs(m[1]["mrr"] - 0.5) < 1e-9  # (1 + 0)/2


def test_ivf_build_auto_derives_cells_and_routes_trainer(spark, monkeypatch):
    """The deployed default (r6): n_cells ≈ √N clamped to [8, 4096], and
    the trainer switches to distributed only once the driver sample can
    no longer populate the cells (n_cells > train_cap/8)."""
    from lakehouse_adventureworks2022_spark.operators import similarity as sim

    docs = read_table(spark, SF, "documents").filter(F.col("doc_id") < 60)
    vecs = hashing_vectorizer(docs, keep_cols=("doc_id",)).selectExpr(
        "doc_id AS vec_id", "embedding"
    )
    n = vecs.count()

    calls = []
    real_build, real_dist = sim.ivf_build, sim.ivf_build_distributed
    monkeypatch.setattr(
        sim, "ivf_build",
        lambda c, n_cells, train_cap, **kw: calls.append(("sampled", n_cells))
        or real_build(c, n_cells=n_cells, train_cap=train_cap, **kw),
    )
    monkeypatch.setattr(
        sim, "ivf_build_distributed",
        lambda c, n_cells, seed: calls.append(("distributed", n_cells))
        or real_dist(c, n_cells=n_cells, seed=seed),
    )

    # small corpus, default cap → sampled trainer, √N cells (≥ floor 8)
    cents, _ = sim.ivf_build_auto(vecs)
    expect = max(8, min(4096, round(n**0.5)))
    assert calls == [("sampled", expect)]
    assert cents.count() == min(expect, n)

    # starved sample (train_cap=16 → ceiling 2 cells) → distributed
    calls.clear()
    sim.ivf_build_auto(vecs, n_cells=5, train_cap=16)
    assert calls == [("distributed", 5)]

    # explicit n_cells within capacity → sampled, derivation skipped
    calls.clear()
    sim.ivf_build_auto(vecs, n_cells=4)
    assert calls == [("sampled", 4)]


def test_ivf_build_auto_fused_sample_identical_to_unfused(spark):
    """r13 opt: with both n_cells and train_cap auto, ivf_build_auto
    fuses the corpus count into one oversized hash-ordered sample
    collect. The top-k order is total (xxhash64, vec_id tie-break), so
    the fused build's training prefix — and therefore its centroids —
    must be bit-identical to the unfused two-job build."""
    from lakehouse_adventureworks2022_spark.operators import similarity as sim

    docs = read_table(spark, SF, "documents")
    vecs = hashing_vectorizer(docs, keep_cols=("doc_id",)).selectExpr(
        "doc_id AS vec_id", "embedding"
    )
    fused_cents, fused_cells = sim.ivf_build_auto(vecs)
    # unfused reference: derive the same parameters with the explicit
    # count, then build with its own sample job
    n = vecs.count()
    n_cells = max(8, min(4096, round(n**0.5)))
    train_cap = min(max(2048, 16 * n_cells), 65536)
    ref_cents, ref_cells = sim.ivf_build(
        vecs, n_cells=n_cells, train_cap=train_cap
    )
    assert sorted(map(tuple, fused_cents.collect())) == sorted(
        map(tuple, ref_cents.collect())
    )
    assert (
        fused_cells.groupBy("cell").count().orderBy("cell").collect()
        == ref_cells.groupBy("cell").count().orderBy("cell").collect()
    )


def test_ann_query_batch_cap_raises_readably(spark):
    """A corpus-sized frame passed as the ANN query batch must raise a
    readable error, not silently OOM the driver (r5 verdict #4). None
    of the catalog queries come near the cap."""
    import pytest as _pytest

    from lakehouse_adventureworks2022_spark.operators import similarity as sim

    vecs = spark.range(30).selectExpr(
        "id AS vec_id", "array(CAST(id AS DOUBLE), 1.0d) AS embedding"
    )
    with _pytest.raises(ValueError, match="driver-side cap"):
        sim.cosine_topk_np(vecs, vecs, k=3, query_cap=10)
    index = sim._build_index(vecs, "ivf", "raw", n_cells=2, train_cap=32)
    with _pytest.raises(ValueError, match="driver-side cap"):
        sim.search_index(index, vecs, k=3, query_cap=10)
    # under the cap everything works unchanged
    assert sim.search_index(index, vecs.limit(5), k=3).count() > 0


# ---- r10: incremental chunk-index growth (chunk_index_append) --------


@pytest.mark.slow
def test_chunk_index_append_makes_new_docs_retrievable(spark, tmp_path):
    """Appended documents must come back through the SAME load path
    every retrieval query uses (chunk_index_ensure → load_index unions
    committed batches)."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        chunk_index_append,
        chunk_index_ensure,
    )

    docs = read_table(spark, SF, "documents").limit(80)
    idx = str(tmp_path / "chunk_idx")
    chunk_index_ensure(docs, idx)
    marker = (
        "zanzibar quokka paradox theorem "  # tokens absent from the fixture
        * 16
    )
    new_docs = spark.createDataFrame(
        [(7_000_000, marker)], "doc_id long, text string"
    )
    chunk_index_append(new_docs, idx, batch_tag="b1")
    index = chunk_index_ensure(docs, idx)
    queries = spark.createDataFrame(
        [(1, marker[:200])], "query_id long, query_text string"
    )
    hits = retrieval_search(queries, index, k=3, n_probe=4).collect()
    assert hits, "appended doc not retrievable"
    top = hits[0]
    assert top["cand_id"] // 1_000_000 == 7_000_000  # decodes to the new doc
    assert top["cosine"] > 0.99  # same text ⇒ same hashed vector


def test_chunk_index_append_replay_is_idempotent(spark, tmp_path):
    """At-least-once delivery: replaying the same batch_tag rewrites the
    same committed dir — the index must not grow."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        chunk_index_append,
        chunk_index_ensure,
    )

    docs = read_table(spark, SF, "documents").limit(60)
    idx = str(tmp_path / "chunk_idx")
    chunk_index_ensure(docs, idx)
    new_docs = read_table(spark, SF, "documents").limit(100).filter(
        F.col("doc_id") >= 60
    ).select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text")
    chunk_index_append(new_docs, idx, batch_tag="replay_me")
    n1 = chunk_index_ensure(docs, idx).data.count()
    chunk_index_append(new_docs, idx, batch_tag="replay_me")  # replay
    assert chunk_index_ensure(docs, idx).data.count() == n1  # replaced, not duplicated
    # a DIFFERENT tag is a new batch and must grow the index
    chunk_index_append(new_docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    ), idx, batch_tag="b2")
    assert chunk_index_ensure(docs, idx).data.count() > n1


@pytest.mark.slow
def test_chunk_index_append_results_match_full_rebuild(spark, tmp_path):
    """Growth path vs rebuild: searching base∪appends with FROZEN
    centroids must rank the planted near-exact match identically to a
    from-scratch index over the union (the centroids differ, so general
    rankings may not be identical — but top-1 self-retrieval of a
    planted doc is invariant, which is the user-visible contract)."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        build_chunk_index,
        chunk_index_append,
        chunk_index_ensure,
    )
    base = read_table(spark, SF, "documents").select("doc_id", "text").limit(80)
    planted = spark.createDataFrame(
        [(8_000_000, "unique sentinel text for rebuild parity check " * 8)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "grown_idx")
    chunk_index_ensure(base, idx)
    chunk_index_append(planted, idx, batch_tag="b1")
    grown = chunk_index_ensure(base, idx)

    rebuilt, _ = build_chunk_index(base.unionByName(planted))

    q = spark.createDataFrame(
        [(1, "unique sentinel text for rebuild parity check")],
        "query_id long, query_text string",
    )
    top_grown = retrieval_search(q, grown, k=1).collect()[0]
    top_rebuilt = retrieval_search(q, rebuilt, k=1).collect()[0]
    assert top_grown["cand_id"] == top_rebuilt["cand_id"]
    assert top_grown["cand_id"] // 1_000_000 == 8_000_000
