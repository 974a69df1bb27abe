"""Property tests for the training-data operators: the approximate/fast
variants must agree with their exact counterparts in the documented ways
(the oracle-hash tests in test_catalog.py cover exactness of the exact
variants)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators import dedup, similarity
from lakehouse_adventureworks2022_spark.operators.vector_index import (
    append_index,
    ensure_index,
    load_index,
    recluster_index,
)
from lakehouse_adventureworks2022_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF, "documents").cache()


def test_np_topk_matches_declarative_exactly(spark):
    q, c = similarity.embedding_queries(spark, SF)
    exact = {
        (r["query_id"], r["cand_id"], r["rank"])
        for r in similarity.cosine_topk(q, c, k=10).collect()
    }
    fast = {
        (r["query_id"], r["cand_id"], r["rank"])
        for r in similarity.cosine_topk_np(q, c, k=10).collect()
    }
    assert fast == exact


def test_lsh_topk_is_subset_with_decent_recall(spark):
    q, c = similarity.embedding_queries(spark, SF)
    exact_pairs = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, c, k=10).collect()
    }
    lsh_rows = similarity.cosine_topk_lsh(q, c, k=10).collect()
    # cosine values are computed identically, so any overlapping pair is
    # correct; recall is the approximation trade
    recall = len(
        {(r["query_id"], r["cand_id"]) for r in lsh_rows} & exact_pairs
    ) / len(exact_pairs)
    assert recall >= 0.5  # 8 tables × 4 planes: ~0.7 on fixture geometry
    assert all(r["rank"] <= 10 for r in lsh_rows)


def test_minhash_lsh_subset_of_exact_jaccard(spark, docs):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    lsh = dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
    assert len(lsh) > 0
    for r in lsh:
        key = (r["doc_a"], r["doc_b"])
        assert key in exact  # verified candidates can't invent pairs
        assert r["jaccard"] == exact[key]


def test_minhash_recall_at_high_similarity(spark, docs):
    """LSH with 4 bands × 3 rows: pairs with j ≥ 0.6 are near-certain
    candidates (1-(1-j^3)^4 ≈ 0.96 at j=0.6)."""
    exact_hi = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    if not exact_hi:
        pytest.skip("no high-similarity pairs in fixture")
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    assert len(lsh & exact_hi) / len(exact_hi) >= 0.9


def test_ngram_jaccard_max_df_bounds_hot_shingle_pairs(spark):
    """(r9) A boilerplate shingle shared by D docs costs D² candidate
    pairs in the exact self-join; ``max_df`` stop-lists it so the
    candidate volume stays linear. Planted: 30 docs with distinct
    content plus one shared 3-word footer, and one true near-dup pair
    with private overlap."""
    rows = [
        (i, f"unique{i}a unique{i}b unique{i}c standard legal footer")
        for i in range(30)
    ]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # uncapped at threshold 0: the hot footer shingle alone pairs every
    # boilerplate doc with every other one — C(30,2) quadratic blowup
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    assert len(uncapped) >= 30 * 29 // 2
    # capped: footer df=30 > 5 is stop-listed; only the true pair's
    # private shingles survive, so the output is exactly that pair
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.0, max_df=5).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in capped] == [(100, 101)]
    # jaccard over the capped universe: both docs keep their 4 private
    # shingles, 3 shared -> 3 / (4 + 4 - 3)
    assert abs(capped[0]["jaccard"] - 3 / 5) < 1e-12
    # default (max_df=None) stays bit-identical for the rotated oracle
    base = dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    again = dedup.ngram_jaccard_pairs(docs, threshold=0.4, max_df=None).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, again))


def test_shingles_short_doc_edge(spark):
    df = spark.createDataFrame(
        [(1, "only two"), (2, "a b c d"), (3, "")], ["doc_id", "text"]
    )
    rows = dedup.shingles_df(df).groupBy("doc_id").count().collect()
    counts = {r["doc_id"]: r["count"] for r in rows}
    assert 1 not in counts and 3 not in counts  # <3 tokens ⇒ no shingles
    assert counts[2] == 2  # 4 tokens ⇒ 2 trigrams


def test_dedup_exact_finds_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    rows = dedup.dedup_exact(df).collect()
    by_hash = {r["content_hash"]: r for r in rows}
    assert len(rows) == 2  # normalization folds 1 and 2 together
    dup_group = [r for r in rows if r["dup_count"] == 2][0]
    assert dup_group["keeper_doc_id"] == 1


def test_simhash_block_pairs_equal_naive_on_fixture(spark, docs):
    """The pigeonhole-bucketed pairing is EXACT: identical to the
    all-pairs theta join on the real corpus fixture."""
    fast = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_pairs(docs, max_hamming=3).collect()
    }
    naive = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_pairs_naive(docs, max_hamming=3).collect()
    }
    assert fast == naive and len(naive) > 0


@pytest.fixture(scope="module")
def sparkref(spark):
    return spark


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fps=st.lists(
        st.integers(min_value=0, max_value=2**32 - 1), min_size=2, max_size=16
    ),
    d=st.integers(min_value=0, max_value=9),
)
def test_simhash_fingerprint_pairs_equal_naive_property(sparkref, fps, d):
    """Pigeonhole exactness on ARBITRARY 32-bit fingerprints: the
    block-bucket pairing equals the quadratic definition for any corpus
    and any max_hamming (pattern: test_asof_properties.py)."""
    rows = [(i, fp) for i, fp in enumerate(fps)]
    sh = sparkref.createDataFrame(rows, "doc_id int, simhash long")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_fingerprint_pairs(sh, max_hamming=d).collect()
    }
    want = {
        (a, b, bin(fa ^ fb).count("1"))
        for a, fa in rows
        for b, fb in rows
        if a < b and bin(fa ^ fb).count("1") <= d
    }
    assert got == want


def test_simhash_blocks_cover_high_bits_at_large_hamming(spark):
    """max_hamming >= 8 must still bucket on real fingerprint bits: two
    fingerprints differing ONLY in the high bits (28-31) with Hamming
    distance > d must NOT pair, and close ones must. A fixed ceil-width
    block layout put every block past bit 31 at constant zero, silently
    degrading to an all-pairs cross product."""
    rows = [(0, 0x0000_0001), (1, 0xF000_0001), (2, 0x0000_0003)]
    sh = spark.createDataFrame(rows, "doc_id int, simhash long")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_fingerprint_pairs(sh, max_hamming=8).collect()
    }
    assert got == {(0, 1, 4), (0, 2, 1), (1, 2, 5)}
    # and the distance-9 pair is excluded at d=3 even though it shares
    # low-bit blocks
    got3 = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_fingerprint_pairs(sh, max_hamming=3).collect()
    }
    assert (0, 1) not in got3 and (0, 2) in got3


def test_simhash_and_minhash_input_guards(spark):
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_fingerprint_pairs(
            spark.createDataFrame([(0, 1)], "doc_id int, simhash long"),
            max_hamming=32,
        )
    with pytest.raises(ValueError, match="df or shingles"):
        dedup.minhash_lsh_pairs()


def test_embedding_near_dup_exact_matches_duckdb_oracle(spark):
    """The exact all-pairs form left the query catalog (the SRP-LSH path
    owns the ``dedup_embedding_cosine`` name now), so its DuckDB
    differential check lives here instead."""
    import duckdb

    from lakehouse_adventureworks2022_spark.plans.text_queries import (
        ORACLE_EMBEDDING_NEAR_DUP,
    )

    emb = read_table(spark, SF, "embeddings")
    got = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.45).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    want = {tuple(r) for r in con.sql(ORACLE_EMBEDDING_NEAR_DUP).fetchall()}
    con.close()
    assert got == want and len(want) > 0


def test_embedding_near_dup_lsh_subset_with_recall(spark):
    emb = read_table(spark, SF, "embeddings")
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.45).collect()
    }
    assert exact
    lsh = similarity.embedding_near_dup_pairs_lsh(emb, threshold=0.45).collect()
    for r in lsh:  # verified candidates can't invent or mis-score pairs
        key = (r["vec_a"], r["vec_b"])
        assert key in exact
        assert r["cosine"] == exact[key]
    recall = len({(r["vec_a"], r["vec_b"]) for r in lsh}) / len(exact)
    assert recall >= 0.5  # 8 tables × 4 planes at θ≈63°; truer dups rank higher


def test_ivf_topk_recall_and_determinism(spark):
    q, c = similarity.embedding_queries(spark, SF)
    exact_pairs = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, c, k=10).collect()
    }
    ivf_rows = similarity.cosine_topk_ivf(q, c, k=10).collect()
    pairs = {(r["query_id"], r["cand_id"]) for r in ivf_rows}
    # scored pairs use the exact cosine, so overlap == correct hits
    recall = len(pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.5  # 4 of 16 cells probed
    assert all(r["rank"] <= 10 for r in ivf_rows)
    # seedless training: a second run is bit-identical
    again = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk_ivf(q, c, k=10).collect()
    }
    assert again == pairs


def test_ivf_index_persist_reload_search(spark, tmp_path):
    """The IVF index must survive a write/reload cycle: search over the
    reloaded clustered cells table equals the direct one-shot form."""
    from lakehouse_adventureworks2022_spark.storage.tables import TableManager

    q, c = similarity.embedding_queries(spark, SF)
    direct = {
        (r["query_id"], r["cand_id"], r["rank"])
        for r in similarity.cosine_topk_ivf(q, c, k=10).collect()
    }

    index = similarity._build_index(c, "ivf", "raw")
    tm = TableManager(spark, str(tmp_path))
    tm.write_clustered(index.base, "ivf_cells", "cell", n_files=4)
    reloaded_index = similarity.VectorIndex(
        "ivf", "raw", base=tm.read("ivf_cells"), centroids=index.centroids
    )
    reloaded = {
        (r["query_id"], r["cand_id"], r["rank"])
        for r in similarity.search_index(reloaded_index, q, k=10).collect()
    }
    assert reloaded == direct and len(direct) == 50


def test_ivf_search_prunes_unprobed_cells(spark, tmp_path):
    """Against a PERSISTED clustered index, the driver-known probe set
    must reach the parquet scan as a pushed IN filter (file/row-group
    pruning) — the scan reads ~n_probe/n_cells of the corpus, not all
    of it."""
    q, c = similarity.embedding_queries(spark, SF)
    index = ensure_index(c, str(tmp_path / "ivf_idx"))
    df = similarity.search_index(index, q.limit(1), k=10, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(cell" in plan, plan[:2000]


@pytest.mark.slow
def test_ivf_distributed_training_recall_and_compose(spark, tmp_path):
    """ivf_build_distributed trains on the WHOLE corpus via pyspark.ml
    KMeans (no driver-side sample) yet keeps the (centroids, cells)
    contract: search recall holds and the frames persist/reload like
    the sampled builder's."""
    q, c = similarity.embedding_queries(spark, SF)
    cents, cells = similarity.ivf_build_distributed(c, n_cells=16)
    assert dict(cents.dtypes) == {"cell": "int", "centroid": "array<double>"}
    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, c, k=10).collect()
    }

    def search(cents, cells):
        index = similarity.VectorIndex(
            "ivf", "raw", base=cells, centroids=similarity._centroid_matrix(cents)
        )
        return {
            (r["query_id"], r["cand_id"])
            for r in similarity.search_index(index, q, k=10).collect()
        }

    pairs = search(cents, cells)
    assert len(pairs & exact) / len(exact) >= 0.5  # 4 of 16 cells probed
    cents.write.parquet(str(tmp_path / "centroids"))
    cells.write.parquet(str(tmp_path / "cells"))
    c2 = spark.read.parquet(str(tmp_path / "centroids"))
    l2 = spark.read.parquet(str(tmp_path / "cells"))
    assert search(c2, l2) == pairs


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark, docs):
    """Min-label propagation over the REAL LSH candidate graph equals a
    Python union-find reference (component = min reachable doc_id)."""
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.2)
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert edges
    want = _union_find_components(edges)
    got = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == want


@pytest.mark.slow
def test_connected_components_chain_and_determinism(spark):
    """A 12-node path (worst diameter per edge count) converges to one
    component; result is partitioning-independent."""
    chain = [(i, i + 1) for i in range(100, 112)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    comp = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert set(comp.values()) == {100} and len(comp) == 13
    again = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(pairs.repartition(7)).collect()
    }
    assert again == comp


def test_dedup_keep_canonical_collapses_chains(spark):
    """a~b, b~c (a~c never a pair): canonical dedup keeps ONE of the
    chain; untouched docs survive."""
    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "solo")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    kept = {r["doc_id"] for r in dedup.dedup_keep_canonical(docs, pairs).collect()}
    assert kept == {1, 9}


def test_incremental_dedup_against_history(spark, docs, tmp_path):
    """Daily-ingest dedup: the new batch is checked against persisted
    state (exact + signature-estimated near-dup) and against itself —
    without ever re-scanning or shuffling the historical corpus."""
    hist = docs
    hashes, sigs = dedup.dedup_state(hist)
    # persist the state as real tables (the deployment shape)
    hashes.write.mode("overwrite").parquet(str(tmp_path / "hashes"))
    sigs.write.mode("overwrite").parquet(str(tmp_path / "sigs"))
    state_hashes = spark.read.parquet(str(tmp_path / "hashes"))
    state_sigs = spark.read.parquet(str(tmp_path / "sigs"))

    donor = hist.orderBy(F.desc("n_chars")).limit(1).collect()[0]
    fresh_a = "completely novel benchmark prose about quasar navigation " * 4
    fresh_b = "another unique passage regarding tidal basin cartography " * 4
    new_rows = [
        (10001, donor["text"]),  # exact copy of history -> drop
        (10002, donor["text"] + " trailingnovelty"),  # near copy -> drop
        (10003, fresh_a),  # novel -> keep
        (10004, fresh_b),  # batch-dup pair: min id keeps
        (10005, fresh_b),  # exact batch dup -> drop
        (10006, fresh_a + " smalltail"),  # near-dup of 10003 -> drop
    ]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    out = dedup.incremental_dedup(new_df, state_hashes, state_sigs)
    survivors = {r["doc_id"] for r in out.collect()}
    dedup.release_cached_inputs(out)
    assert survivors == {10003, 10004}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # history-facing joins build on the broadcast (batch) side — the
    # state is streamed, never shuffled wholesale
    assert "BroadcastHashJoin" in plan


def test_incremental_dedup_batch_equals_full_for_fresh_batch(spark, docs):
    """A batch with NO relation to history must reduce exactly like the
    standalone batch pipeline (exact keeper + LSH lower-id rule)."""
    new_rows = [
        (20001, "alpha beta gamma delta epsilon zeta eta theta " * 5),
        (20002, "alpha beta gamma delta epsilon zeta eta theta " * 5),
        (20003, "unrelated solitary content about glacier moraines " * 5),
    ]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    hashes, sigs = dedup.dedup_state(docs)
    out = {
        r["doc_id"]
        for r in dedup.incremental_dedup(new_df, hashes, sigs).collect()
    }
    assert out == {20001, 20003}


@pytest.mark.slow
def test_ivf_index_append_equals_same_centroid_assignment(spark, tmp_path):
    """Appending a batch to a persisted index (frozen centroids) must
    equal assigning ALL vectors under those same centroids — and search
    must see the appended vectors."""
    emb = read_table(spark, SF, "embeddings")
    hist = emb.filter("vec_id % 10 != 0")
    batch = emb.filter("vec_id % 10 == 0")
    q, _ = similarity.embedding_queries(spark, SF)

    idx = str(tmp_path / "idx")
    ensure_index(hist, idx)
    append_index(batch, idx)

    grown = load_index(spark, idx)
    appended = {
        (r["query_id"], r["cand_id"], r["rank"])
        for r in similarity.search_index(grown, q, k=10).collect()
    }
    # reference: same frozen centroids, all vectors assigned in one pass
    reference = similarity.VectorIndex(
        "ivf", "raw",
        base=similarity._assign_cells_df(emb, grown.centroids),
        centroids=grown.centroids,
    )
    want = {
        (r["query_id"], r["cand_id"], r["rank"])
        for r in similarity.search_index(reference, q, k=10).collect()
    }
    assert appended == want
    # appended vectors are findable: every batch vec appears in the index
    n_index = grown.data.count()
    assert n_index == emb.count()


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hist_texts=st.lists(
        st.sampled_from(["aa bb cc dd ee", "ff gg hh ii jj", "kk ll mm nn oo"]),
        min_size=1,
        max_size=5,
    ),
    batch_spec=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), st.booleans()),
        min_size=1,
        max_size=6,
    ),
)
def test_incremental_dedup_invariants_property(spark, hist_texts, batch_spec):
    """For ANY history/batch mix: survivors are a subset of the batch,
    no survivor's content hash exists in history, at most one survivor
    per distinct batch text, and the result is deterministic."""
    pool = [
        "aa bb cc dd ee",
        "ff gg hh ii jj",
        "kk ll mm nn oo",
        "pp qq rr ss tt",  # index 3: never in history
    ]
    hist = spark.createDataFrame(
        [(i, t) for i, t in enumerate(hist_texts)], "doc_id long, text string"
    )
    batch_rows = [
        (1000 + i, pool[idx] + (" uniquetail%d" % i if fresh else ""))
        for i, (idx, fresh) in enumerate(batch_spec)
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    hashes, sigs = dedup.dedup_state(hist)
    out = dedup.incremental_dedup(batch, hashes, sigs)
    survivors = {(r["doc_id"], r["text"]) for r in out.collect()}
    dedup.release_cached_inputs(out)

    batch_set = set(batch_rows)
    assert survivors <= batch_set
    hist_norms = {" ".join(t.lower().split()) for t in hist_texts}
    surv_norms = [" ".join(t.lower().split()) for _, t in survivors]
    assert not (set(surv_norms) & hist_norms)  # exact history dups gone
    assert len(surv_norms) == len(set(surv_norms))  # ≤1 per batch text
    again = {
        (r["doc_id"], r["text"])
        for r in dedup.incremental_dedup(
            spark.createDataFrame(batch_rows, "doc_id long, text string"),
            hashes,
            sigs,
        ).collect()
    }
    assert again == survivors


def test_ivf_index_recluster_compacts_without_changing_results(spark, tmp_path):
    """After several appends the index rows fragment; maintenance
    re-clustering must shrink the file count and leave search results
    bit-identical (centroids untouched)."""
    import glob

    emb = read_table(spark, SF, "embeddings")
    q, _ = similarity.embedding_queries(spark, SF)
    idx = str(tmp_path / "idx")
    ensure_index(emb.filter("vec_id % 4 = 0"), idx, n_files=4)
    for m in (1, 2, 3):  # three append batches -> fragmented files
        append_index(emb.filter(f"vec_id % 4 = {m}"), idx, n_files=4)

    def n_files():
        return len(glob.glob(f"{idx}/gen-*/**/*.parquet", recursive=True))

    def search():
        return {
            (r["query_id"], r["cand_id"], r["rank"], r["cosine"])
            for r in similarity.search_index(
                load_index(spark, idx), q, k=10
            ).collect()
        }

    before_files, before = n_files(), search()
    recluster_index(spark, idx, n_files=4)
    assert n_files() < before_files  # 16 fragmented -> 4 clustered
    assert search() == before  # results bit-identical


# ---- product quantization ---------------------------------------------

def test_pq_recall_floor_and_contract(spark):
    """PQ + exact re-rank must recover most of the true top-k (recall
    1.0 at the defaults on the fixture; floor set lower for headroom),
    and ADC alone must be strictly weaker than the re-ranked form."""
    q, cand = similarity.embedding_queries(spark, SF)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, cand, k=10).collect()
    }
    pq_rows = similarity.cosine_topk_pq(q, cand, k=10).collect()
    pq = {(r["query_id"], r["cand_id"]) for r in pq_rows}
    assert len(exact & pq) / len(exact) >= 0.9
    # contract: k per query, ranks contiguous, exact cosines attached
    per_q = {}
    for r in pq_rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    index = similarity._build_index(cand, "none", "pq")
    adc = {  # the ADC scan alone, no exact re-rank
        (r["query_id"], r["cand_id"])
        for r in similarity._scan(index, q, 10).collect()
    }
    assert len(exact & adc) <= len(exact & pq)


def test_pq_codebooks_deterministic_and_persistable(spark, tmp_path):
    import numpy as np

    q, cand = similarity.embedding_queries(spark, SF)
    index = similarity._build_index(cand, "none", "pq")
    again = similarity._build_index(cand.repartition(7), "none", "pq")
    # hash-order sample + fixed init → bit-identical
    assert np.array_equal(index.codebooks, again.codebooks)
    idx = str(tmp_path / "pq_idx")
    ensure_index(cand, idx, "none", "pq")
    reloaded = load_index(spark, idx)
    assert np.array_equal(reloaded.codebooks, index.codebooks)
    enc1 = sorted(map(tuple, index.base.collect()))
    enc2 = sorted(map(tuple, similarity._encode(reloaded, cand).collect()))
    assert enc1 == enc2


def test_pq_codes_shape_and_compression(spark):
    _, cand = similarity.embedding_queries(spark, SF)
    index = similarity._build_index(cand, "none", "pq", m=16, n_codes=32)
    rows = index.base.collect()
    assert len(rows) == cand.count()
    for r in rows[:20]:
        assert len(r["codes"]) == 16
        assert all(0 <= c < 32 for c in r["codes"])
        assert r["vnorm"] > 0
    # codebook tensor is kilobytes: 16 subspaces x 32 codes
    assert index.codebooks.shape[:2] == (16, 32)


def test_pq_adc_scan_reads_codes_not_vectors(spark):
    """The ADC stage's scan of the encoded frame must not drag the raw
    embedding column through the plan (the compression win)."""
    q, cand = similarity.embedding_queries(spark, SF)
    index = similarity._build_index(cand, "none", "pq")
    plan = (
        similarity._scan(index, q, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "adc_cosine" in plan
    assert "BatchEvalPython" not in plan  # scoring itself is codegen'd


def test_ivf_pq_recall_not_below_plain_ivf(spark):
    """The PQ layer under IVF must cost nothing after exact re-rank:
    recall at identical cell settings ≥ plain IVF's (the loss budget is
    the coarse pruning, not the quantization)."""
    q, cand = similarity.embedding_queries(spark, SF)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, cand, k=10).collect()
    }
    ivf = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk_ivf(q, cand, k=10).collect()
    }
    ivfpq_rows = similarity.cosine_topk_ivf_pq(q, cand, k=10).collect()
    ivfpq = {(r["query_id"], r["cand_id"]) for r in ivfpq_rows}
    assert len(exact & ivfpq) >= len(exact & ivf)
    per_q = {}
    for r in ivfpq_rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_pq_recall_grows_with_probes(spark):
    q, cand = similarity.embedding_queries(spark, SF)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, cand, k=10).collect()
    }

    def recall(n_probe):
        got = {
            (r["query_id"], r["cand_id"])
            for r in similarity.cosine_topk_ivf_pq(
                q, cand, k=10, n_probe=n_probe
            ).collect()
        }
        return len(exact & got) / len(exact)

    lo, hi = recall(2), recall(12)
    assert hi >= lo  # monotone knob
    assert hi >= 0.8  # near-exhaustive probing recovers most of top-k


@pytest.mark.parametrize(
    "coarse,codec,one_shot",
    [
        pytest.param(
            "ivf", "raw", "cosine_topk_ivf", marks=pytest.mark.slow, id="ivf"
        ),
        pytest.param("none", "pq", "cosine_topk_pq", id="pq"),
        pytest.param(
            "none", "sq8", "cosine_topk_sq8", marks=pytest.mark.slow, id="sq8"
        ),
        pytest.param(
            "ivf", "sq8", "cosine_topk_ivf_sq8", marks=pytest.mark.slow,
            id="ivf_sq8",
        ),
    ],
)
def test_amortized_matches_one_shot_and_reuses_index(
    spark, tmp_path, coarse, codec, one_shot
):
    """Every persisted kind: the first call builds and commits the
    index, and its search returns exactly the one-shot result
    (deterministic train/assign/encode); the second call REUSES the
    index — same answer, manifest not rewritten."""
    import os

    q, c = similarity.embedding_queries(spark, SF)
    idx = str(tmp_path / f"{coarse}_{codec}_idx")

    def amortized():
        index = ensure_index(c, idx, coarse, codec)
        return sorted(
            map(
                tuple,
                similarity.search_index(index, q, k=10, candidates=c).collect(),
            )
        )

    expected = sorted(
        map(tuple, getattr(similarity, one_shot)(q, c, k=10).collect())
    )
    first = amortized()
    assert first == expected  # deterministic build ⇒ same answer
    stamp = os.path.getmtime(f"{idx}/manifest.json")
    again = amortized()
    assert again == first
    assert os.path.getmtime(f"{idx}/manifest.json") == stamp  # not rebuilt


def test_sq8_recall_and_determinism(spark):
    """SQ8 tier (r7): 256-level per-dim quantization should be
    near-exact — recall ≥ 0.95 vs brute force on the fixture, identical
    output across physical layouts, codes bounded to 0..255."""
    from lakehouse_adventureworks2022_spark.operators import similarity

    q, c = similarity.embedding_queries(spark, "/root/testdata/sf0.001")
    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, c, k=10).collect()
    }
    got_rows = similarity.cosine_topk_sq8(q, c, k=10).collect()
    got = {(r["query_id"], r["cand_id"]) for r in got_rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.95, recall
    # layout invariance
    again = {
        (r["query_id"], r["cand_id"], r["rank"])
        for r in similarity.cosine_topk_sq8(
            q.repartition(5), c.repartition(11), k=10
        ).collect()
    }
    base = {(r["query_id"], r["cand_id"], r["rank"]) for r in got_rows}
    assert again == base
    # codes really are single-byte range
    mins, scales = similarity.sq8_train(c)
    codes = similarity.sq8_encode(c, mins, scales)
    from pyspark.sql import functions as F

    bad = codes.filter(
        F.exists("codes", lambda x: (x < 0) | (x > 255))
    ).count()
    assert bad == 0


# ---- IVF + SQ8 combined tier (r8) ------------------------------------


def test_ivf_sq8_recall_not_below_plain_ivf(spark):
    """The SQ8 layer under IVF must cost nothing after exact re-rank:
    recall at identical cell settings >= plain IVF's (the loss budget
    is the coarse pruning, not the 256-level quantization) — the same
    contract as the IVF-PQ tier."""
    q, cand = similarity.embedding_queries(spark, SF)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, cand, k=10).collect()
    }
    ivf = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk_ivf(q, cand, k=10).collect()
    }
    got_rows = similarity.cosine_topk_ivf_sq8(q, cand, k=10).collect()
    got = {(r["query_id"], r["cand_id"]) for r in got_rows}
    assert len(exact & got) >= len(exact & ivf)
    per_q = {}
    for r in got_rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_sq8_recall_grows_with_probes(spark):
    q, cand = similarity.embedding_queries(spark, SF)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, cand, k=10).collect()
    }

    def recall(n_probe):
        got = {
            (r["query_id"], r["cand_id"])
            for r in similarity.cosine_topk_ivf_sq8(
                q, cand, k=10, n_probe=n_probe
            ).collect()
        }
        return len(exact & got) / len(exact)

    lo, hi = recall(2), recall(12)
    assert hi >= lo  # monotone knob
    assert hi >= 0.8  # near-exhaustive probing recovers most of top-k


def test_ivf_sq8_scan_reads_codes_not_vectors(spark):
    """The probed scan must score the int codes pure-Catalyst: no
    Python evaluation in the scoring stage, and the persisted-index
    plan must read the codes table (1 byte/dim), never a raw embedding
    column."""
    q, cand = similarity.embedding_queries(spark, SF)
    index = similarity._build_index(cand, "ivf", "sq8", n_cells=16)
    plan = (
        similarity.search_index(index, q, k=10, candidates=cand)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan  # scoring is codegen'd


# ---- Matryoshka-style embedding truncation (r8) ------------------------


def test_truncate_embeddings_shape_norm_and_recall_floor(spark):
    import math

    q, cand = similarity.embedding_queries(spark, SF)
    t = similarity.truncate_embeddings(cand, 16)
    rows = t.limit(20).collect()
    for r in rows:
        assert len(r["embedding"]) == 16
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        assert abs(n - 1.0) < 1e-9 or n == 0.0
    # the fixture's embeddings spread signal uniformly over all 64
    # coordinates (NOT MRL-trained — truncation is an inference trick
    # for models trained with matryoshka losses), so the meaningful
    # invariant is monotonicity: more prefix dims ⇒ recall of the
    # full-dim top-k never degrades (measured 0.08/0.32/0.56 at
    # 16/32/56 dims on this fixture)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, cand, k=10).collect()
    }

    def recall(d):
        tq = similarity.truncate_embeddings(q, d)
        tc = similarity.truncate_embeddings(cand, d)
        got = {
            (r["query_id"], r["cand_id"])
            for r in similarity.cosine_topk(tq, tc, k=10).collect()
        }
        return len(exact & got) / len(exact)

    r16, r56 = recall(16), recall(56)
    assert 0 < r16 <= r56
    assert r56 >= 0.4
    # no-renormalize mode preserves raw prefixes exactly
    raw = similarity.truncate_embeddings(cand, 16, renormalize=False)
    orig = {r["vec_id"]: r["embedding"] for r in cand.limit(5).collect()}
    for r in raw.limit(5).collect():
        assert list(r["embedding"]) == [float(x) for x in orig[r["vec_id"]][:16]]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dims"):
        similarity.truncate_embeddings(cand, 0)


def test_truncate_embeddings_composes_with_ann_tiers(spark):
    """The truncated column IS the embedding column: IVF builds, PQ
    encodes, SQ8 quantizes on it unchanged — the 4x scan cut multiplies
    every tier's own pruning."""
    q, cand = similarity.embedding_queries(spark, SF)
    tq = similarity.truncate_embeddings(q, 16)
    tc = similarity.truncate_embeddings(cand, 16)
    trunc_exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(tq, tc, k=10).collect()
    }
    ivf = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk_ivf(tq, tc, k=10, n_probe=12).collect()
    }
    assert len(trunc_exact & ivf) / len(trunc_exact) >= 0.8


@pytest.mark.slow
def test_ivf_sq8_index_append_idempotent_and_searchable(spark, tmp_path):
    """The combined index grows under ingest like the plain IVF one:
    frozen centroids + frozen quantizer encode the batch, a replayed
    batch_tag rewrites instead of duplicating, and searches over the
    grown index surface the appended vectors."""
    q, c = similarity.embedding_queries(spark, SF)
    idx = str(tmp_path / "ivf_sq8_grow")
    ensure_index(c, idx, "ivf", "sq8")  # builds + persists
    newv = c.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    append_index(newv, idx, batch_tag="b1")
    append_index(newv, idx, batch_tag="b1")  # replay
    grown = load_index(spark, idx)
    enc = grown.data
    n = c.count()
    assert enc.count() == 2 * n  # replay did not duplicate
    # appended codes carry valid cells and byte-range values
    row = enc.filter(F.col("cand_id") >= 10_000).first()
    assert row is not None and all(0 <= x <= 255 for x in row["codes"])
    # search over the grown index: the appended exact duplicates of the
    # corpus vectors must appear among results
    all_cand = c.select("vec_id", "embedding").unionByName(
        newv.select("vec_id", "embedding")
    )
    got = similarity.search_index(grown, q, k=10, candidates=all_cand).collect()
    assert any(r["cand_id"] >= 10_000 for r in got)
    # and through ensure_index (r9): the deployed open path itself must
    # union committed appends — a grown index whose amortized search
    # silently drops ingested vectors would violate the daily-ingest
    # contract the append docstring promises
    pub = similarity.search_index(
        ensure_index(c, idx, "ivf", "sq8"), q, k=10, candidates=all_cand
    ).collect()
    assert any(r["cand_id"] >= 10_000 for r in pub)
