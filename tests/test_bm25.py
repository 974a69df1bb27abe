"""BM25 + RRF hybrid retrieval (operators/bm25.py): Python math
differential, ranking semantics, stop-listing, fusion hand-check, and
fixture self-retrieval."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators import bm25
from lakehouse_adventureworks2022_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"

CORPUS = {
    1: "spark runs fast queries on big data",
    2: "spark spark spark tuning guide",
    3: "the cat sat on the mat",
    4: "fast data pipelines with big clusters",
}


def _ref_bm25(corpus, query, k1=1.2, b=0.75, max_df_ratio=0.5):
    toks = {d: t.lower().split() for d, t in corpus.items()}
    n = len(corpus)
    avg = sum(len(t) for t in toks.values()) / n
    df: dict[str, int] = {}
    for t in toks.values():
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    scores: dict[int, float] = {}
    qcounts: dict[str, int] = {}
    for term in query.lower().split():
        qcounts[term] = qcounts.get(term, 0) + 1
    for term, qtf in qcounts.items():
        if term not in df or df[term] > max_df_ratio * n:
            continue
        idf = math.log1p((n - df[term] + 0.5) / (df[term] + 0.5))
        for d, t in toks.items():
            tf = t.count(term)
            if tf == 0:
                continue
            sat = tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avg))
            scores[d] = scores.get(d, 0.0) + qtf * idf * sat
    return scores


def _search(spark, corpus, query_text, **kw):
    docs = spark.createDataFrame(
        [(d, t) for d, t in corpus.items()], "doc_id long, text string"
    )
    postings, stats = bm25.build_bm25_index(docs, **kw)
    queries = spark.createDataFrame(
        [(100, query_text)], "query_id long, query_text string"
    )
    return {
        r["cand_id"]: r["score"]
        for r in bm25.bm25_search(queries, postings, stats, k=10).collect()
    }


@pytest.mark.slow
def test_bm25_matches_python_reference(spark):
    for q in ("spark fast", "big data spark", "cat", "spark spark"):
        got = _search(spark, CORPUS, q)
        want = {
            d: round(s, 6) for d, s in _ref_bm25(CORPUS, q).items() if s > 0
        }
        assert set(got) == set(want)
        for d in want:
            assert abs(got[d] - want[d]) < 1e-5, (q, d)


def test_bm25_ranking_semantics(spark):
    # repetition saturates: doc 2 ("spark"×3) outscores doc 1 for
    # 'spark', but NOT 3×
    got = _search(spark, CORPUS, "spark")
    assert got[2] > got[1]
    assert got[2] < 3 * got[1]
    # rare term beats common: 'cat' only in doc 3
    assert set(_search(spark, CORPUS, "cat")) == {3}


def test_statistical_stop_listing(spark):
    # 'the' appears in >50% of this corpus → dropped from the index
    corpus = {1: "the a", 2: "the b", 3: "the c", 4: "d"}
    assert _search(spark, corpus, "the") == {}


def test_rrf_fusion_hand_computed(spark):
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, cand_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, cand_id long, rank int"
    )
    got = {
        r["cand_id"]: (r["rank"], r["score"])
        for r in bm25.rrf_fuse(a, b, k=10, c=60).collect()
    }
    # 11 in both legs (ranks 2 and 1) wins; 10 and 12 one leg each
    assert got[11][0] == 1
    assert abs(got[11][1] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert abs(got[10][1] - round(1 / 61, 6)) < 1e-9
    assert abs(got[12][1] - round(1 / 62, 6)) < 1e-9
    assert got[10][0] == 2 and got[12][0] == 3  # 1/61 > 1/62


def test_fixture_structural_and_hybrid(spark):
    # NOTE: the synthetic fixture draws every doc from one tiny shared
    # vocabulary, so lexical SELF-retrieval is not meaningful here (a
    # doc's terms appear in most other docs — the idf surface is flat);
    # self-retrieval semantics are pinned on the distinctive synthetic
    # corpora above. This test pins the structural contract at fixture
    # scale: full result lists, rank integrity, determinism, fusion.
    docs = read_table(spark, SF, "documents")
    # max_df_ratio=1.0: with the fixture's ~40-word shared vocabulary,
    # the default statistical stop list would drop nearly every term
    postings, stats = bm25.build_bm25_index(docs, max_df_ratio=1.0)
    queries = docs.limit(10).select(
        (F.col("doc_id") + 1000).alias("query_id"),
        F.substring("text", 1, 150).alias("query_text"),
    )
    lex = bm25.bm25_search(queries, postings, stats, k=10)
    rows = lex.collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 10
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, 11))
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
    # deterministic across partitionings
    again = bm25.bm25_search(
        queries.repartition(7), postings.repartition(13), stats, k=10
    )
    assert {(r["query_id"], r["rank"], r["cand_id"]) for r in again.collect()} == {
        (r["query_id"], r["rank"], r["cand_id"]) for r in rows
    }
    # hybrid: fuse with a second (here: identical) leg — ranks preserved
    fused = bm25.rrf_fuse(lex, lex, k=10)
    l1 = {(r["query_id"], r["rank"], r["cand_id"]) for r in rows}
    f1 = {(r["query_id"], r["rank"], r["cand_id"]) for r in fused.collect()}
    assert f1 == l1  # fusing a leg with itself cannot reorder


@pytest.mark.slow
def test_bm25_index_persist_reuse(spark, tmp_path):
    import os

    docs = spark.createDataFrame(
        [(d, t) for d, t in CORPUS.items()], "doc_id long, text string"
    )
    idx = str(tmp_path / "bm25")
    p1, s1 = bm25.bm25_index_ensure(spark, docs, idx)
    queries = spark.createDataFrame(
        [(1, "spark fast")], "query_id long, query_text string"
    )
    got1 = sorted(
        (r["cand_id"], r["score"])
        for r in bm25.bm25_search(queries, p1, s1, k=10).collect()
    )
    # fresh build matches the persisted index exactly
    p0, s0 = bm25.build_bm25_index(docs)
    got0 = sorted(
        (r["cand_id"], r["score"])
        for r in bm25.bm25_search(queries, p0, s0, k=10).collect()
    )
    assert got1 == got0
    # second ensure() reuses, not rebuilds
    mtime = os.path.getmtime(f"{idx}/manifest.json")
    p2, s2 = bm25.bm25_index_ensure(spark, docs, idx)
    assert os.path.getmtime(f"{idx}/manifest.json") == mtime
    got2 = sorted(
        (r["cand_id"], r["score"])
        for r in bm25.bm25_search(queries, p2, s2, k=10).collect()
    )
    assert got2 == got1


@pytest.mark.parametrize(
    "built,asked",
    [
        ({"max_df_ratio": 1.0}, {"max_df_ratio": 0.5}),
        ({"id_col": "doc_id"}, {"id_col": "text_id"}),
    ],
    ids=["max_df_ratio", "id_col"],
)
def test_bm25_index_changed_params_raise_naming_dir_and_both_sets(
    spark, tmp_path, built, asked
):
    """The manifest records max_df_ratio/text_col/id_col: reopening the
    index with other values raises instead of serving postings built
    with other settings."""
    docs = spark.createDataFrame(
        [(d, d, t) for d, t in CORPUS.items()],
        "doc_id long, text_id long, text string",
    )
    idx = str(tmp_path / "bm25")
    bm25.bm25_index_ensure(spark, docs, idx, **built)
    bm25.bm25_index_ensure(spark, docs, idx, **built)  # same params: reopens
    (key, old), new = next(iter(built.items())), next(iter(asked.values()))
    with pytest.raises(ValueError) as err:
        bm25.bm25_index_ensure(spark, docs, idx, **asked)
    msg = str(err.value)
    assert idx in msg
    assert f"{key}={old!r}" in msg and f"{key}={new!r}" in msg


def test_bm25_index_crash_before_manifest_rebuilds(spark, tmp_path, monkeypatch):
    """A build that dies after writing its postings but before the
    manifest leaves no commit: the next ensure() rebuilds and searches
    exactly like a fresh in-memory index."""
    from lakehouse_adventureworks2022_spark.storage import commit

    docs = spark.createDataFrame(
        [(d, t) for d, t in CORPUS.items()], "doc_id long, text string"
    )
    idx = str(tmp_path / "bm25")

    def crash(*_):
        raise OSError("simulated crash before the manifest write")

    with monkeypatch.context() as mp:
        mp.setattr(commit, "publish", crash)
        with pytest.raises(OSError, match="simulated crash"):
            bm25.bm25_index_ensure(spark, docs, idx)
    assert commit.read_manifest(idx) is None
    queries = spark.createDataFrame(
        [(1, "spark fast")], "query_id long, query_text string"
    )

    def top(postings, stats):
        hits = bm25.bm25_search(queries, postings, stats, k=10)
        return sorted(map(tuple, hits.collect()))

    assert top(*bm25.bm25_index_ensure(spark, docs, idx)) == top(
        *bm25.build_bm25_index(docs)
    )


# ---- learned re-ranking (round 5) ------------------------------------

@pytest.mark.slow
def test_ltr_reranker_end_to_end(spark):
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        build_chunk_index,
        retrieval_metrics,
        retrieval_search,
    )

    docs = read_table(spark, SF, "documents").limit(150)
    index, chunks = build_chunk_index(docs)
    queries = docs.limit(12).selectExpr(
        "doc_id + 5000000000 AS query_id",
        "substring(text, 1, 200) AS query_text",
    )
    vec = retrieval_search(queries, index, k=10)
    postings, stats = bm25.build_bm25_index(
        chunks.withColumn(
            "vec_id",
            (F.col("doc_id") * 1_000_000 + F.col("chunk_id")).cast("long"),
        ),
        text_col="chunk_text",
        id_col="vec_id",
        max_df_ratio=1.0,
    )
    lex = bm25.bm25_search(queries, postings, stats, k=10)
    feats = bm25.ltr_features(lex, vec)
    # ground truth: the query's own chunks
    positives = feats.filter(
        (F.col("cand_id") / 1_000_000).cast("long")
        == F.col("query_id") - 5_000_000_000
    ).select("query_id", "cand_id")
    model = bm25.train_reranker(feats, positives)
    ranked = bm25.rerank(feats, model, k=10)

    # structural contract
    rows = ranked.collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(0.0 <= r["score"] <= 1.0 for r in rs)

    # the model must LEARN the task: trained-on-self MRR beats or
    # matches the unsupervised RRF fusion of the same two legs
    fused = bm25.rrf_fuse(lex, vec, k=10)
    m_ltr = retrieval_metrics(ranked, positives, ks=(5,)).collect()[0]["mrr"]
    m_rrf = retrieval_metrics(fused, positives, ks=(5,)).collect()[0]["mrr"]
    assert m_ltr >= m_rrf - 1e-9

    # deterministic: retrain + rescore reproduces the ranking
    model2 = bm25.train_reranker(feats, positives)
    again = {
        (r["query_id"], r["rank"], r["cand_id"])
        for r in bm25.rerank(feats, model2, k=10).collect()
    }
    assert again == {(r["query_id"], r["rank"], r["cand_id"]) for r in rows}


def test_empty_corpus_index_build_fails_loudly(spark):
    import pytest as _pytest

    empty = spark.createDataFrame([], "doc_id long, text string")
    with _pytest.raises(ValueError, match="empty corpus"):
        bm25.build_bm25_index(empty)
