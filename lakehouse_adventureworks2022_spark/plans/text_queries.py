"""Catalog wrappers + DuckDB oracles for the training-data operators
(text analysis, dedup, similarity search) over the ``documents`` and
``embeddings`` fixtures.

The oracles re-implement each operator in DuckDB SQL using the SHARED
portability contracts:
- tokenizer: lower → trim → split on ``textops.WS_CLASS``+ (never
  ``\\s`` — Java and RE2 disagree on ``\\x0b``);
- hashes: md5 hex strings (string min is byte-wise in both engines);
- ratios/cosines: int/int or sequential-double divisions — bit-identical
  (verified empirically), so raw doubles are compared unrounded.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators import dedup, similarity, textops
from lakehouse_adventureworks2022_spark.operators.vector_index import (
    append_index,
    ensure_index,
    load_index,
)
from lakehouse_adventureworks2022_spark.session import default_parallelism
from lakehouse_adventureworks2022_spark.sources.readers import read_table
from lakehouse_adventureworks2022_spark.storage import commit


# ---- persisted amortized-query state ---------------------------------

#: Build-recipe tags folded into a state family's fingerprint, so a
#: cached build of an older recipe cannot masquerade as the current one
#: (the chunk index switched to corpus-scaled auto cells in ``-v2``).
RAG_INDEX_RECIPE = "ivf-auto-v2"
MP4_CORPUS_RECIPE = "mjpeg-4f-v1"
BM25_INDEX_RECIPE = "chunk-64-8-v1"

#: Every family of persisted amortized-query state as
#: ``fixture_state_dir(sf_dir, table, prefix, recipe)`` arguments.
AMORTIZED_STATE: tuple[tuple[str, str, str | None], ...] = (
    ("embeddings", "ivf_index_", None),
    ("embeddings", "pq_index_", None),
    ("embeddings", "sq8_index_", None),
    ("embeddings", "ivf_sq8_index_", None),
    ("embeddings", "ivf_sq8_ingest_", None),
    ("documents", "rag_index_", RAG_INDEX_RECIPE),
    ("documents", "rag_ingest_index_", RAG_INDEX_RECIPE),
    ("documents", "dedup_state_", None),
    ("documents", "mp4_corpus_", MP4_CORPUS_RECIPE),
    ("documents", "warc_archive_", None),
    ("documents", "bm25_index_", BM25_INDEX_RECIPE),
)


def fixture_state_dir(
    sf_dir: str, table: str, prefix: str, recipe: str | None = None
) -> str:
    """Deterministic per-fixture-version location (under the temp dir)
    of one family of persisted amortized-query state: keyed to
    ``sf_dir`` and the identity (size + mtime) of ``table``'s parquet
    file, so a regenerated fixture gets fresh state instead of stale
    indexes or history. ``prefix`` names the family; ``recipe``
    versions its build."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    key = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
    if recipe:
        key += f"|{recipe}"
    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"{prefix}{tag}")


def _ann_amortized(
    spark: SparkSession, sf_dir: str, prefix: str, coarse: str, codec: str
) -> DataFrame:
    """Top-10 of the embeddings query split against the persisted
    ``(coarse, codec)`` index under ``prefix``: built and committed on
    first use per corpus version, every later call pays the search
    only. The same search the one-shot form runs over an in-memory
    build, so results are identical (tested)."""
    q, c = similarity.embedding_queries(spark, sf_dir)
    idx = fixture_state_dir(sf_dir, "embeddings", prefix)
    index = ensure_index(c, idx, coarse, codec)
    return similarity.search_index(index, q, k=10, candidates=c)


# ---- query functions -------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_stats(read_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(read_table(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprint(read_table(spark, sf_dir, "documents"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(read_table(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), threshold=0.2
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"), threshold=0.2
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(
        read_table(spark, sf_dir, "documents"), max_hamming=3
    )


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs_lsh(
        read_table(spark, sf_dir, "embeddings"), threshold=0.45
    )


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = similarity.embedding_queries(spark, sf_dir)
    return similarity.cosine_topk(q, c, k=10)


def q_ann_cosine_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = similarity.embedding_queries(spark, sf_dir)
    return similarity.cosine_topk_np(q, c, k=10)


def q_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = similarity.embedding_queries(spark, sf_dir)
    return similarity.cosine_topk_lsh(q, c, k=10)


def q_ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = similarity.embedding_queries(spark, sf_dir)
    return similarity.cosine_topk_ivf(q, c, k=10)


def q_ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN with exact re-rank (ADC over 16-int codes, raw
    vectors touched only for the shortlist). Recall floor + codebook
    determinism tests in tests/test_training_ops.py."""
    q, c = similarity.embedding_queries(spark, sf_dir)
    return similarity.cosine_topk_pq(q, c, k=10)


def q_ann_cosine_pq_amortized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployed-PQ shape: codes index built+persisted on first use per
    corpus version, later calls pay the compressed ADC scan + re-rank
    only. Identical results to the one-shot form (tested)."""
    return _ann_amortized(spark, sf_dir, "pq_index_", "none", "pq")


def q_ann_cosine_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ: probe-pruned cells × compressed codes × exact
    re-rank — the multiplicative-pruning deployment shape. Recall
    parity-with-IVF and probe-monotonicity tests in
    tests/test_training_ops.py."""
    q, c = similarity.embedding_queries(spark, sf_dir)
    return similarity.cosine_topk_ivf_pq(q, c, k=10)


def q_packed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus→training-batches chain (scrub → clean → split →
    chunk → split-aware pack); invariants tested end-to-end in
    tests/test_curation.py."""
    from lakehouse_adventureworks2022_spark.operators.curation import (
        prepare_packed_corpus,
    )

    return prepare_packed_corpus(
        read_table(spark, sf_dir, "documents"),
        budget=512,
        chunk_tokens=64,
        overlap_tokens=8,
        split_weights={"train": 0.9, "val": 0.1},
    )


def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repeated-n-gram character fractions over the
    corpus (hand-computed + planted-spam tests in
    tests/test_textops_extended.py)."""
    return textops.ngram_repetition_stats(read_table(spark, sf_dir, "documents"))


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus drift (even/odd doc_id halves stand
    in for before/after ingests): per-source count/share/token deltas.
    DuckDB differential on the profile in tests/test_monitoring.py."""
    from lakehouse_adventureworks2022_spark.operators.monitoring import (
        corpus_drift,
    )

    docs = read_table(spark, sf_dir, "documents")
    return corpus_drift(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    )


def q_clean_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide C4/RefinedWeb boilerplate-line removal over the
    documents table (lines in ≥3 distinct docs stripped everywhere,
    order preserved). Python-reference differential + semantics tests
    in tests/test_textops_extended.py."""
    return textops.remove_boilerplate_lines(
        read_table(spark, sf_dir, "documents")
    ).select("doc_id", "text", "n_boilerplate_removed")


#: DuckDB twin of remove_boilerplate_lines: same inventory (per-doc
#: distinct trimmed lines ≥6 chars in ≥3 docs), NOT-IN line filter,
#: order-preserving string_agg rebuild, all-boilerplate docs → ''.
ORACLE_CLEAN_BOILERPLATE = r"""
    WITH lines AS (
      SELECT doc_id,
             unnest(str_split(text, chr(10))) AS line,
             unnest(range(len(str_split(text, chr(10))))) AS pos
      FROM documents
    ),
    bp AS (
      SELECT t AS bp_line
      FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(str_split(text, chr(10)),
                                                   x -> trim(x)))) AS t
        FROM documents
      )
      WHERE len(t) >= 6
      GROUP BY t
      HAVING COUNT(*) >= 3
    ),
    kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM lines l
      WHERE trim(l.line) NOT IN (SELECT bp_line FROM bp)
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             COUNT(*) AS kept_n
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(r.clean_text, '') AS text,
           CAST(len(str_split(d.text, chr(10))) - COALESCE(r.kept_n, 0) AS INT)
             AS n_boilerplate_removed
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-scored bigram add-k perplexity over the documents corpus
    (the CCNet-family model-based quality signal). Python-reference
    math differential + ranking/determinism tests in tests/test_lm.py;
    swept DuckDB twin with avg_nll/ppl display-rounded to 6dp in both
    engines (the log-fold association noise sits ~1e-15, never
    reaching a compared digit; the smoothing ratio itself is an exact
    division in both engines)."""
    from lakehouse_adventureworks2022_spark.operators.lm import doc_perplexity

    return (
        doc_perplexity(read_table(spark, sf_dir, "documents"))
        .withColumn("avg_nll", F.round("avg_nll", 6))
        .withColumn("ppl", F.round("ppl", 6))
    )


def q_corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (top terms by frequency with doc frequencies)
    — the vocab/stopword-discovery pass. Exact; DuckDB hash differential
    in tests/test_textops_extended.py (oracle window full)."""
    return textops.vocabulary(read_table(spark, sf_dir, "documents"))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality gate, self-supervised demo shape: train the
    pyspark.ml logistic model on the corpus's own heuristic labels,
    then score every doc (deployment trains on a trusted seed set
    instead — same operators). Separation/calibration/save-load tests
    in tests/test_classifier.py."""
    from pyspark.sql import functions as F

    from lakehouse_adventureworks2022_spark.operators import classifier
    from lakehouse_adventureworks2022_spark.operators.dedup import (
        _attach_cached_input,
    )

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.join(
        textops.token_stats(docs).select(
            "doc_id", F.col("is_quality").cast("int").alias("label")
        ),
        "doc_id",
    )
    # one feature build serves both training (L-BFGS materializes it
    # once) and scoring — persisted across the two, released with the
    # result per the engine cache contract
    feats = classifier.quality_features(docs).persist()
    model = classifier.train_quality_classifier(labeled, features=feats)
    out = classifier.score_quality(docs, model, features=feats)
    return _attach_cached_input(out, feats)


def q_shuffle_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded epoch shuffle of the corpus (training-order
    randomization): returns ``(doc_id, __shuffle_key__)`` in global
    order. Permutation/stability/plan tests in tests/test_curation.py."""
    from lakehouse_adventureworks2022_spark.operators.curation import (
        shuffle_corpus,
    )

    return shuffle_corpus(
        read_table(spark, sf_dir, "documents"), seed="epoch0"
    ).select("doc_id", "__shuffle_key__")


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between snapshot halves (even/odd vec_id):
    per-label count/norm deltas + centroid cosine. Identity and
    planted-shift tests in tests/test_monitoring.py; swept DuckDB twin
    with the float outputs display-rounded to 6dp in both engines
    (norm/centroid folds carry ~1e-15 association noise only)."""
    from lakehouse_adventureworks2022_spark.operators.monitoring import (
        embedding_drift,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    out = embedding_drift(
        emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")
    )
    for c in ("mean_norm_a", "mean_norm_b", "mean_norm_delta",
              "centroid_cosine"):
        # + 0.0 canonicalizes IEEE -0.0 (a tiny negative delta rounds to
        # -0.0 in DuckDB but 0.0 in Spark — equal values, different hash)
        out = out.withColumn(c, F.round(c, 6) + F.lit(0.0))
    return out


def dedup_fixture(spark: SparkSession, sf_dir: str, with_bloom: bool = False):
    """The daily-ingest dedup split of the documents fixture: the 10%
    batch, the persisted ``(hashes, sigs)`` state of the other 90%, and
    its bloom gate (None unless ``with_bloom``) — built once per
    fixture version, shared by the dedup queries and the plan audit."""
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        ensure_dedup_bloom,
        ensure_dedup_state,
    )

    docs = read_table(spark, sf_dir, "documents")
    state_dir = fixture_state_dir(sf_dir, "documents", "dedup_state_")
    hashes, sigs = ensure_dedup_state(docs.filter("doc_id % 10 != 0"), state_dir)
    bf = ensure_dedup_bloom(spark, state_dir) if with_bloom else None
    return docs.filter("doc_id % 10 == 0"), hashes, sigs, bf


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup shape: 90% of the corpus is the historical
    state (hash + signature tables, PERSISTED once per corpus version —
    the deployed layout, so steady-state cost is the batch dedup
    alone), the other 10% arrives as the new batch and is deduped
    against history + itself without shuffling the historical side.
    Results are identical whether state is freshly built or reloaded
    (state construction is deterministic). Planted-scenario +
    plan-shape tests in tests/test_training_ops.py."""
    from lakehouse_adventureworks2022_spark.operators.dedup import (
        incremental_dedup,
    )

    batch, hashes, sigs, _ = dedup_fixture(spark, sf_dir)
    return incremental_dedup(batch, hashes, sigs).select(
        "doc_id", "source", "lang", "n_chars"
    )


def q_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same daily-ingest dedup shape as ``q_incremental_dedup`` in
    its deployed steady state: the exact vs-history stage is gated by
    the PERSISTED Bloom sketch of the historical hashes
    (operators/bloom.py — kilobytes-to-megabytes of state read instead
    of the O(corpus) hash table). Bloom-negative batch rows never touch
    the state table; the tiny maybe-dup hash list is pushed into the
    state scan as an ``In()`` filter (row-group pruning on clustered
    state). Output ≡ ``incremental_dedup`` ungated — bloom has no false
    negatives and positives are exactly confirmed; equivalence,
    planted-FP, FPR-bound and plan-shape tests in tests/test_bloom.py.
    First call per fixture builds hash/sig state + the bloom (the
    amortized-index pattern); later calls pay the gated batch cost only.
    """
    from lakehouse_adventureworks2022_spark.operators.dedup import (
        incremental_dedup,
    )

    batch, hashes, sigs, bf = dedup_fixture(spark, sf_dir, with_bloom=True)
    return incremental_dedup(batch, hashes, sigs, bloom=bf).select(
        "doc_id", "source", "lang", "n_chars"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization: MinHash-LSH pairs → connected
    components via min-label propagation (component = min reachable
    doc_id). Exact given the deterministic LSH pairs; union-find
    differential in tests/test_training_ops.py."""
    from lakehouse_adventureworks2022_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    return connected_components(minhash_lsh_pairs(docs, threshold=0.2))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking of the documents corpus (256-token
    windows, 32-token overlap) — zero-shuffle projection+generate;
    Python-reference differential + boundary semantics in
    tests/test_curation.py."""
    from lakehouse_adventureworks2022_spark.operators.curation import (
        chunk_documents,
    )

    return chunk_documents(read_table(spark, sf_dir, "documents"))


#: DuckDB twin of the Catalyst chunker: same tokens (split of trimmed
#: lowered text on the shared WS class), inclusive start sequence with stride
#: chunk−overlap (Spark ``sequence`` ⇒ ``range`` with +1 upper bound),
#: zip-unnest for (chunk_id, start), 1-based inclusive list slice.
ORACLE_CHUNK_DOCUMENTS = r"""
    WITH tt AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+') AS toks,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+'),
                             x -> x <> '')) AS n
      FROM documents
    ),
    st AS (
      SELECT doc_id, toks, n,
             range(0, greatest(0, n - 32 - 1) + 1, 224) AS starts
      FROM tt WHERE n > 0
    ),
    s AS (
      SELECT doc_id, toks, n,
             unnest(starts) AS start,
             unnest(range(len(starts))) AS chunk_id
      FROM st
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(toks[start + 1 : start + 256], ' ') AS chunk_text,
           CAST(least(256, n - start) AS INT) AS n_tokens
    FROM s
"""


def q_ann_cosine_ivf_amortized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployed-IVF shape: index built+persisted (clustered on cell)
    on first use per corpus version, every later call pays search only —
    this is the steady-state ANN cost a serving pipeline sees, vs
    ``q_ann_cosine_ivf`` which re-trains per call (the one-shot form).
    Results are identical to the one-shot form (build is deterministic).
    """
    return _ann_amortized(spark, sf_dir, "ivf_index_", "ivf", "raw")


# ---- oracles ---------------------------------------------------------

# the shared whitespace class (textops.WS_CLASS): Java \s includes
# \x0b, RE2 \s does not — every twin regex interpolates the explicit
# class so the engines can never diverge on vertical-tab input
_WS = textops.WS_CLASS

_TOKS = f"regexp_split_to_array(trim(lower(text)), '{_WS}+')"

_STOP_ALL = ", ".join(f"'{w}'" for w in textops.STOPWORDS_ALL)

#: SQL twin of textops.token_stats' is_quality gate, built from the SAME
#: threshold constants so the two can never silently diverge. Expects
#: columns ``text`` and ``toks`` in scope.
_QUALITY_PRED = f"""(len(toks) >= {textops.QUALITY_MIN_TOKENS}
            AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > {textops.QUALITY_MIN_TTR}
            AND CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                / length(text) < {textops.QUALITY_MAX_PUNCT_RATIO})"""

ORACLE_TEXT_STATS = f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
               AS avg_token_len,
           CAST(len(list_filter(toks, x -> x IN ({_STOP_ALL}))) AS INT)
               AS stopword_hits,
           CAST(len(list_filter(toks, x -> x IN ({_STOP_ALL}))) AS DOUBLE) / len(toks)
               AS stopword_ratio,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INT)
               AS punct_count,
           {_QUALITY_PRED} AS is_quality
    FROM t
"""

_LANG_HIT = {
    lang: f"CAST(len(list_filter(toks, x -> x IN ({', '.join(chr(39) + w + chr(39) for w in words)}))) AS INT)"
    for lang, words in textops.LANG_STOPWORDS.items()
}

ORACLE_LANG_ID = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    h AS (
      SELECT doc_id,
             {_LANG_HIT['en']} AS hits_en,
             {_LANG_HIT['es']} AS hits_es,
             {_LANG_HIT['de']} AS hits_de,
             {_LANG_HIT['fr']} AS hits_fr
      FROM t
    )
    SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
           CASE
             WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
             WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
             WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
             WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
             ELSE 'fr'
           END AS predicted_lang
    FROM h
"""

#: 1-based DuckDB twin of the Spark shingle expr: i = 1..L-2 ⇒ L-2
#: 3-gram shingles, empty list for docs under 3 tokens.
_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN"
    " list_distinct(list_transform(range(1, len(toks) - 1),"
    "   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
    " ELSE [] END"
)

ORACLE_FINGERPRINT = f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, text, {_SHINGLES} AS shingles FROM t)
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '{_WS}+', ' ', 'g')) AS content_hash,
           list_min(list_transform(shingles, s -> md5(s))) AS min_shingle_hash
    FROM s
"""

#: Exact vocabulary twin under the shared tokenizer contract
#: (whitespace split of trimmed lowercased text, empty tokens dropped);
#: count(*) over the (doc_id, term) pre-agg IS the distinct-doc count.
ORACLE_CORPUS_VOCABULARY = r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+'),
                                t -> len(t) > 0)) AS term
      FROM documents
    ), per_doc AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    )
    SELECT term, CAST(SUM(tf) AS BIGINT) AS term_freq,
           COUNT(*) AS doc_freq
    FROM per_doc GROUP BY term
    ORDER BY term_freq DESC, term ASC LIMIT 1000
"""

ORACLE_DEDUP_EXACT = f"""
    SELECT md5(regexp_replace(trim(lower(text)), '{_WS}+', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY 1
"""

_SHINGLE_PAIRS = f"""
    t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""

ORACLE_NGRAM_JACCARD = f"""
    WITH {_SHINGLE_PAIRS}
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE)
             / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE)
          / (sa.n_shingles + sb.n_shingles - n_common) >= 0.2
"""

_K = dedup.MINHASH_K
_BR = dedup.BAND_ROWS

def _minhash_pairs_sql(src: str, threshold: float = 0.2) -> str:
    """Standalone SELECT producing the MinHash-LSH near-dup pairs
    (doc_a, doc_b, n_common, jaccard) of relation ``src`` — parameterized
    so composite oracles (``clean_corpus``) can run it over a filtered
    subset. Per-doc signatures are input-set independent, so pairs over a
    subset == full pairs restricted to the subset."""
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM {src}),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM t),
    seeds AS (SELECT lpad(CAST(i AS VARCHAR), 2, '0') AS seed
              FROM range({_K}) r(i)),
    mh AS (
      SELECT doc_id, seed, MIN(md5(seed || '|' || shingle)) AS minhash
      FROM sh, seeds GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed AS INT) // {_BR} AS band,
             md5(string_agg(seed || ':' || minhash, '|' ORDER BY seed)) AS band_sig
      FROM mh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
      SELECT doc_a, doc_b, COUNT(*) AS n_common
      FROM cand
      JOIN sh sa ON doc_a = sa.doc_id
      JOIN sh sb ON doc_b = sb.doc_id AND sa.shingle = sb.shingle
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE)
             / (za.n_shingles + zb.n_shingles - n_common) AS jaccard
    FROM common
    JOIN sizes za ON doc_a = za.doc_id
    JOIN sizes zb ON doc_b = zb.doc_id
    WHERE CAST(n_common AS DOUBLE)
          / (za.n_shingles + zb.n_shingles - n_common) >= {threshold}
    """


ORACLE_MINHASH_LSH = _minhash_pairs_sql("documents")

ORACLE_SIMHASH = f"""
    WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
    tok AS (
      SELECT doc_id, unnest(toks) AS token FROM t
    ),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
      FROM tok
    ),
    votes AS (
      SELECT doc_id, j.i AS j,
             SUM(CASE WHEN (h >> j.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed, range(32) j(i)
      GROUP BY doc_id, j.i
    ),
    fp AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
               AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

ORACLE_EMBEDDING_NEAR_DUP = """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
             AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
            >= 0.45
"""

ORACLE_ANN_COSINE = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, cand_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cosine
      FROM q, c WHERE query_id <> cand_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rk
      FROM scored
    )
    SELECT query_id, cand_id, CAST(rk AS INT) AS rank, cosine
    FROM ranked WHERE rk <= 10
"""


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.clean_corpus(read_table(spark, sf_dir, "documents"))


ORACLE_CLEAN_CORPUS = f"""
    WITH stats AS (
      SELECT doc_id, {_QUALITY_PRED} AS is_quality
      FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    ),
    q AS (
      SELECT d.* FROM documents d
      JOIN stats s ON d.doc_id = s.doc_id AND s.is_quality
    ),
    keep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), '{_WS}+', ' ', 'g')) AS h
            FROM q)
      GROUP BY h
    ),
    u AS (SELECT q.* FROM q JOIN keep ON q.doc_id = keep.doc_id),
    pairs AS ({_minhash_pairs_sql("u")}),
    dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
    SELECT doc_id, source, lang, n_chars
    FROM u
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_counts(read_table(spark, sf_dir, "documents"))


ORACLE_TOKEN_COUNTS = f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks,
                      regexp_extract_all(text, '{textops.BPE_PATTERN}') AS subs
               FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_ws_tokens,
           CAST(len(subs) AS INT) AS n_subword_tokens,
           CASE WHEN len(subs) > 0
                THEN CAST(length(text) AS DOUBLE) / len(subs) END
             AS chars_per_subword
    FROM t
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus profile: doc count, mean tokens, quality
    rate — the summary a data curator reads before/after clean_corpus."""
    docs = read_table(spark, sf_dir, "documents")
    stats = textops.token_stats(docs)
    joined = docs.select("doc_id", "source", "lang").join(stats, "doc_id")
    from pyspark.sql import functions as F

    return joined.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("doc_count"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias(
            "mean_tokens"
        ),
        (
            F.sum(F.when(F.col("is_quality"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("quality_rate"),
    )


ORACLE_CORPUS_REPORT = f"""
    WITH t AS (SELECT doc_id, source, lang, {_TOKS} AS toks, text FROM documents)
    SELECT source, lang,
           COUNT(*) AS doc_count,
           CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS mean_tokens,
           CAST(SUM(CASE WHEN {_QUALITY_PRED} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS quality_rate
    FROM t
    GROUP BY 1, 2
"""


# ---- deterministic sampling family (operators/sampling.py) -----------
#
# All four are oracle-EXACT even though they sample: membership is a
# pure function of md5(key || seed) that DuckDB evaluates identically
# (lowercase hex, byte-wise string comparison). The projected columns
# drop `text` only to keep the compared payload small — membership is
# decided before the projection.

_SAMPLE_COLS = ("doc_id", "lang", "source", "n_chars")


def q_docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_adventureworks2022_spark.operators import sampling

    return sampling.hash_sample(
        read_table(spark, sf_dir, "documents"), rate=0.1, seed="v1"
    ).select(*_SAMPLE_COLS)


ORACLE_DOCS_HASH_SAMPLE = """
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 4) < '1999'
"""


def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_adventureworks2022_spark.operators import sampling

    return sampling.hash_sample_stratified(
        read_table(spark, sf_dir, "documents"),
        rates={"en": 0.05, "zh": 0.5, "de": 0.25},
        strata_col="lang",
        seed="v1",
        default_rate=0.1,
    ).select(*_SAMPLE_COLS)


ORACLE_DOCS_STRATIFIED_SAMPLE = """
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 4) <
          CASE lang WHEN 'en' THEN '0ccc'
                    WHEN 'zh' THEN '8000'
                    WHEN 'de' THEN '4000'
                    ELSE '1999' END
"""


def q_docs_sample_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_adventureworks2022_spark.operators import sampling

    return sampling.hash_sample_exact_n(
        read_table(spark, sf_dir, "documents"), n=100, seed="v1"
    ).select(*_SAMPLE_COLS)


ORACLE_DOCS_SAMPLE_EXACT_N = """
    SELECT doc_id, lang, source, n_chars FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':v1'), doc_id
    LIMIT 100
"""


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_adventureworks2022_spark.operators import sampling

    return sampling.temperature_mixture_sample(
        read_table(spark, sf_dir, "documents"),
        temperature=0.7,
        target_frac=0.3,
        strata_col="lang",
        seed="v1",
    ).select(*_SAMPLE_COLS)


ORACLE_TEMPERATURE_MIXTURE = """
    WITH counts AS (
      SELECT lang AS stratum, COUNT(*) AS n FROM documents GROUP BY lang
    ), z AS (
      SELECT SUM(POW(CAST(n AS DOUBLE), 0.7)) AS z, SUM(n) AS total
      FROM counts
    ), thr AS (
      SELECT stratum,
             CASE WHEN FLOOR(LEAST(1.0,
                      0.3 * total * (POW(CAST(n AS DOUBLE), 0.7) / z) / n
                    ) * 65536.0) >= 65536
                  THEN 'g'
                  ELSE lpad(lower(to_hex(CAST(FLOOR(LEAST(1.0,
                      0.3 * total * (POW(CAST(n AS DOUBLE), 0.7) / z) / n
                    ) * 65536.0) AS BIGINT))), 4, '0') END AS t
      FROM counts CROSS JOIN z
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN thr ON d.lang = thr.stratum
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || ':v1'), 1, 4) < thr.t
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruned corpus: survivors of cluster-bounded semantic
    dedup at cosine ≥ 1-eps. Deterministic given the corpus (k-means
    init is hash-ordered) but not SQL-expressible ⇒ rows-only check;
    planted-duplicate and greedy-rule differentials in
    tests/test_sampling.py."""
    return similarity.semdedup(
        read_table(spark, sf_dir, "embeddings"), eps=0.55, n_cells=8
    ).select("vec_id", "label")


def q_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval composite: chunk the documents table,
    hashing-trick vectorize, IVF-index, then answer every 50th doc's
    leading text as a free-text query with top-5 chunks. Approximate
    (IVF probe pruning) ⇒ rows-only; self-retrieval and recall
    differentials in tests/test_vectorize.py."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        build_chunk_index,
        retrieval_search,
    )

    docs = read_table(spark, sf_dir, "documents")
    index, _ = build_chunk_index(docs)
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(5_000_000_000)).alias("query_id"),
        F.substring("text", 1, 200).alias("query_text"),
    )
    return retrieval_search(queries, index, k=5)


def q_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-family repeated-substring removal over the documents
    corpus: every 12-token run occurring twice+ corpus-wide is cut out,
    keeping the globally first occurrence. Exact; Python-reference
    differential in tests/test_substring_dedup.py (oracle window full —
    the span-merge fold has no tractable SQL twin)."""
    from lakehouse_adventureworks2022_spark.operators.substring_dedup import (
        remove_duplicate_spans,
    )

    return remove_duplicate_spans(
        read_table(spark, sf_dir, "documents"), window=12
    )


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained BPE tokenization of the documents table (200
    merges learned from the corpus's own word-frequency table, then a
    distributed encode). Deterministic/exact, but the merge loop has no
    SQL twin ⇒ rows-only; Sennrich worked-example, replay-equivalence,
    and round-trip differentials in tests/test_bpe.py."""
    from lakehouse_adventureworks2022_spark.operators.bpe import (
        train_and_segment,
    )

    seg = train_and_segment(
        read_table(spark, sf_dir, "documents"), num_merges=200
    )
    # space-joined token string instead of the raw array: lossless (BPE
    # symbols come from whitespace-split words, so they never contain a
    # space) and keeps the driver-facing schema array-free
    return seg.select(
        "doc_id",
        F.array_join("bpe_tokens", " ").alias("bpe_text"),
        "n_bpe_tokens",
    )


def q_rag_retrieval_amortized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployed-retrieval twin of ``q_rag_retrieval``: the chunk index
    (chunk → vectorize → IVF) is built+persisted on first use per corpus
    version; every later call pays probe-pruned search only — the
    steady-state cost a serving pipeline sees. Results ≡ the one-shot
    form (build is deterministic; tested in tests/test_vectorize.py)."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        chunk_index_ensure,
        retrieval_search,
    )

    docs = read_table(spark, sf_dir, "documents")
    rag_idx = fixture_state_dir(sf_dir, "documents", "rag_index_", RAG_INDEX_RECIPE)
    index = chunk_index_ensure(docs, rag_idx)
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(5_000_000_000)).alias("query_id"),
        F.substring("text", 1, 200).alias("query_text"),
    )
    return retrieval_search(queries, index, k=5)


def q_rag_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest steady state of the persisted CHUNK index (r10 —
    closes the one >5× row in the r9 20× scaling ledger: corpus growth
    used to pay ``rag_retrieval``'s full chunk-index rebuild, linear in
    the CORPUS; now it pays ``vectorize.chunk_index_append``, linear in
    the BATCH): a deterministic 10% new-docs batch (``doc_id % 10 = 0``
    re-keyed +1_000_000 — daily ingest is batch << corpus) lands via
    the replay-idempotent ``batch_tag`` path (each rep REWRITES the
    same committed batch dir — the index never grows across reps), then
    probe-pruned retrieval runs over base ∪ appends (``load_index``
    unions the batches the manifest committed, so appended chunks are
    retrievable through the SAME load path every rag query uses).
    Measures chunk-encode-assign-append + grown-index search; the base
    build amortizes into the first call per fixture version. Own index
    dir — the plain amortized query must never see these appends.
    Approximate by design (IVF probing) ⇒ rows-only; the
    append/replay/retrievability contracts are pinned in
    tests/test_vectorize.py."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        chunk_index_append,
        chunk_index_ensure,
        retrieval_search,
    )

    docs = read_table(spark, sf_dir, "documents")
    idx = fixture_state_dir(
        sf_dir, "documents", "rag_ingest_index_", RAG_INDEX_RECIPE
    )
    base = docs.filter(F.col("doc_id") % 10 != 0)
    new_docs = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    # base build paid once per fixture version (9/10ths of the corpus —
    # the other tenth arrives as "today's batch" below)
    chunk_index_ensure(base, idx)
    chunk_index_append(new_docs, idx, batch_tag="bench_ingest")
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(5_000_000_000)).alias("query_id"),
        F.substring("text", 1, 200).alias("query_text"),
    )
    return retrieval_search(queries, load_index(spark, idx), k=5)


def q_clean_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal asset dedup composite over binary assets derived
    deterministically from the documents table by
    ``multimodal.attach_real_assets`` (modality cycles JPEG/PNG/PPM/WAV,
    every byte encoded and decoded by the in-container codecs): exact
    md5 dedup → per-modality perceptual near-dup (dHash of the decoded
    image / audio fingerprint of the decoded WAV) →
    connected-components canonicalization. Rows-only (binary fixtures
    don't exist in the oracle tables); planted-dup composite + codec
    round-trip tests in tests/test_multimodal.py."""
    from lakehouse_adventureworks2022_spark.operators.multimodal import (
        attach_real_assets,
        clean_assets,
    )

    docs = read_table(spark, sf_dir, "documents")
    return clean_assets(attach_real_assets(docs)).select(
        "asset_id", "mime", "width", "height"
    )


def _synth_video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MJPEG-MP4 corpus: every 20th document becomes a
    4-frame MJPEG MP4 (md5-seeded content, encoded by the real T.81
    JPEG encoder + ISO-BMFF muxer). Zero-shuffle Arrow generation after
    one repartition of (id, text) rows."""
    from lakehouse_adventureworks2022_spark.operators.mp4 import (
        build_synth_mp4,
    )
    from lakehouse_adventureworks2022_spark.operators.multimodal import (
        ASSET_SCHEMA,
    )

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    )
    gen = build_synth_mp4()  # by-value closure chain (encoder + muxer)

    def make_videos(batches):
        import hashlib as _hl

        import pandas as _pd

        for pdf in batches:
            out = _pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "content": pdf["text"].map(
                        lambda t: gen(
                            4, 32, 24, seed=_hl.md5(t.encode()).digest()
                        )
                    ),
                }
            )
            out["mime"] = "video/mp4"
            out["width"] = 32
            out["height"] = 24
            out["duration_ms"] = 400
            yield out[[f.name for f in ASSET_SCHEMA.fields]]

    return (
        docs.select("doc_id", "text")
        .repartition(default_parallelism(spark))
        .mapInPandas(make_videos, schema=ASSET_SCHEMA)
    )


def _harvest_frames(videos: DataFrame) -> DataFrame:
    """The measured harvest operator: parse the containers' sample
    tables (no ffmpeg), decode every extracted frame through the real
    JPEG path, dHash, and aggregate per video. Zero-shuffle Arrow
    stages + one uniform-key aggregation."""
    from lakehouse_adventureworks2022_spark.operators.multimodal import (
        image_hashes,
        sample_frames,
    )

    frames = sample_frames(videos, every_ms=100)
    hashed = image_hashes(
        frames.select(
            # composite frame id keeps image_hashes' one-row-per-asset
            # contract; offsets are multiples of 100 ms, so //100 < 10^4
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
    return (
        hashed.groupBy(
            (F.col("asset_id") / 10_000).cast("long").alias("video_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.countDistinct("dhash").alias("distinct_hashes"),
            # composite id is video_id*10_000 + offset_ms/100: recover
            # the last sampled offset for the covered time span
            (F.max(F.col("asset_id") % 10_000) * 100)
            .cast("int")
            .alias("span_ms"),
        )
        .orderBy("video_id")
    )


def q_video_frame_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real MP4 frame extraction at query scale (r7, closing the r6
    "MP4 remains stubbed" gap): one-shot form — synthesizes the MJPEG
    corpus in-plan (``_synth_video_corpus``), then parses each
    container's sample tables, decodes every frame through the real
    JPEG path, dHashes, and aggregates per video (frame count, distinct
    perceptual hashes, covered time span).

    The bench number for THIS form conflates fixture generation (JPEG
    encode + mux per doc — CPU-bound by design, no ffmpeg in-container)
    with the harvest operator; ``q_video_frame_harvest_amortized``
    below measures the harvest alone. Rows-only (binary by design);
    container spec-conformance and codec round-trips in
    tests/test_mp4.py."""
    return _harvest_frames(_synth_video_corpus(spark, sf_dir))


def _mp4_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic MP4 corpus, committed once per fixture version."""
    d = fixture_state_dir(sf_dir, "documents", "mp4_corpus_", MP4_CORPUS_RECIPE)
    manifest = commit.ensure(
        d, {}, lambda base: _synth_video_corpus(spark, sf_dir).write.parquet(base)
    )
    # the corpus is kilobytes-per-video: without an explicit repartition
    # maxPartitionBytes folds the whole read into ONE input split and
    # the Arrow decode stages run on a single core (observed 12.9 s vs
    # 5.0 s one-shot at sf0.1 — the r8 bench caught it)
    return spark.read.parquet(commit.gen_path(d, manifest, "base")).repartition(
        default_parallelism(spark)
    )


def q_video_frame_harvest_amortized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployed-shape twin of ``q_video_frame_harvest``: the synthetic
    MP4 corpus is persisted once per fixture version (first call) and
    the measured path is parse → decode → dHash → aggregate only —
    the operator a user actually runs over an EXISTING video corpus.
    Same result as the one-shot form (generation is deterministic)."""
    return _harvest_frames(_mp4_corpus(spark, sf_dir))


def q_video_keyframe_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes-level video near-dup (r8): md5 the KEYFRAME payloads out of
    each container's sample tables — no pixel decode, so it covers the
    codecs the decoder stubs (H.264 …) as well as MJPEG. Every 5th
    corpus video gains an in-plan RE-MUX twin (same frame payloads,
    different fps/container bytes, asset_id + 10^9) — the canonical
    "same material re-uploaded through another packager" case — and the
    query must recover exactly those planted pairs. Candidates come
    only from the equi-join on payload hash (never all-pairs); one
    uniform-key shuffle. Rows-only (binary by design); planted
    H.264-container differentials in tests/test_mp4.py."""
    from lakehouse_adventureworks2022_spark.operators.multimodal import (
        ASSET_SCHEMA,
        video_near_dup_pairs,
    )
    from lakehouse_adventureworks2022_spark.operators.mp4 import (
        build_frame_extractor,
        build_mjpeg_muxer,
    )

    videos = _mp4_corpus(spark, sf_dir)

    extract = build_frame_extractor()  # by-value closures
    mux = build_mjpeg_muxer()

    def remux(batches):
        import pandas as _pd

        for pdf in batches:
            out = pdf.copy()
            out["asset_id"] = out["asset_id"] + 1_000_000_000
            out["content"] = out["content"].map(
                lambda b: mux(
                    [p for _, p in extract(bytes(b))], fps=25
                )
            )
            yield out[[f.name for f in ASSET_SCHEMA.fields]]

    twins = videos.filter(F.col("asset_id") % 100 == 0).mapInPandas(
        remux, schema=ASSET_SCHEMA
    )
    return video_near_dup_pairs(
        videos.unionByName(twins), min_overlap=0.5
    ).orderBy("a", "b")


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval-model training: every 50th
    doc's leading text queries the persisted chunk index; its own
    chunks are the positives, and the top non-positive hits come back
    as (query_id, cand_id, rank, cosine). Approximate (IVF probing) ⇒
    rows-only; leak/rank/determinism tests in tests/test_vectorize.py."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        chunk_index_ensure,
        mine_hard_negatives,
        retrieval_search,
    )

    docs = read_table(spark, sf_dir, "documents")
    rag_idx = fixture_state_dir(sf_dir, "documents", "rag_index_", RAG_INDEX_RECIPE)
    index = chunk_index_ensure(docs, rag_idx)
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(5_000_000_000)).alias("query_id"),
        F.substring("text", 1, 200).alias("query_text"),
    )
    hits = retrieval_search(queries, index, k=20)
    positives = hits.filter(
        (F.col("cand_id") / 1_000_000).cast("long")
        == F.col("query_id") - 5_000_000_000
    ).select("query_id", "cand_id")
    return mine_hard_negatives(queries, positives, index, k=20, n_neg=5)


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-leg hybrid retrieval over the chunked documents corpus:
    BM25 (inverted index over chunk text) and IVF vector search (the
    persisted chunk index) answer the same free-text queries, fused by
    reciprocal-rank fusion. Candidate ids share the chunk id space
    (doc_id·10⁶ + chunk_id), so fusion is a plain (query, cand) outer
    join. Approximate (IVF leg) ⇒ rows-only; BM25 math and RRF are
    exactly pinned in tests/test_bm25.py."""
    from lakehouse_adventureworks2022_spark.operators.bm25 import (
        bm25_search,
        build_bm25_index,
        rrf_fuse,
    )
    from lakehouse_adventureworks2022_spark.operators.curation import (
        chunk_documents,
    )
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        chunk_index_ensure,
        retrieval_search,
    )

    docs = read_table(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(5_000_000_000)).alias("query_id"),
        F.substring("text", 1, 200).alias("query_text"),
    )
    rag_idx = fixture_state_dir(sf_dir, "documents", "rag_index_", RAG_INDEX_RECIPE)
    vec = retrieval_search(queries, chunk_index_ensure(docs, rag_idx), k=10)
    # BM25 index persisted once per corpus version (the deployed
    # lexical-leg shape). The fixture vocabulary is tiny and shared, so
    # keep all terms (see tests/test_bm25.py on statistical
    # stop-listing).
    from lakehouse_adventureworks2022_spark.operators.bm25 import (
        bm25_index_ensure,
    )

    idx = fixture_state_dir(sf_dir, "documents", "bm25_index_", BM25_INDEX_RECIPE)
    # lazy plan — costs nothing when ensure() finds the persisted index
    chunks = chunk_documents(
        docs, chunk_tokens=64, overlap_tokens=8
    ).withColumn(
        "vec_id",
        (F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_id")).cast("long"),
    )
    postings, stats = bm25_index_ensure(
        spark, chunks, idx, text_col="chunk_text", id_col="vec_id",
        max_df_ratio=1.0,
    )
    lex = bm25_search(queries, postings, stats, k=10)
    return rrf_fuse(lex, vec, k=5)


def q_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomalies over the events stream (each
    event judged against its user's preceding 20 values — the spike
    detector of the monitoring family). Exact; planted-spike and
    zero-variance differentials in tests/test_monitoring.py, plus a
    swept DuckDB window-frame twin (baselines rounded to 6dp like the
    z-score so cross-engine float association noise cannot reach the
    compared digits)."""
    from lakehouse_adventureworks2022_spark.operators.monitoring import (
        value_anomalies,
    )

    # event_id tiebreak: tied timestamps within a user must not let the
    # partition layout reorder the trailing baseline (ADVICE r5)
    out = value_anomalies(
        read_table(spark, sf_dir, "events"), tiebreak_col="event_id"
    ).withColumn("baseline_mean", F.round("baseline_mean", 6)).withColumn(
        "baseline_std", F.round("baseline_std", 6)
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        "baseline_mean",
        "baseline_std",
        "z_score",
        "is_anomaly",
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k most frequent event types via the Misra-Gries
    candidates + exact-verify pass (``sketches.heavy_hitters``) — the
    bounded-shuffle frequent-items op (top domains/URLs at 100 TB).
    Exact here by construction (distinct values < summary size, so the
    candidate set is complete); skew/layout-invariance and the
    flat-distribution caveat are pinned in tests/test_sketches.py."""
    from lakehouse_adventureworks2022_spark.operators.sketches import (
        heavy_hitters,
    )

    return heavy_hitters(read_table(spark, sf_dir, "events"), "event_type", k=5)


ORACLE_HEAVY_HITTERS = """
    SELECT value, freq FROM (
      SELECT event_type AS value, COUNT(*) AS freq
      FROM events GROUP BY 1
    )
    ORDER BY freq DESC, CAST(value AS VARCHAR) LIMIT 5
"""


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value percentiles from MERGEABLE KLL sketches
    (``sketches.kll_sketches``) — the persisted/incremental form of
    ``event_value_stats_approx``'s query-time t-digest: store one sketch
    per (day, group) and any rollup reads kilobyte sketches, never the
    base table. Approximate by design (rank error ~1/k, bounds pinned
    across distributions in tests/test_sketches.py) ⇒ rows-only check."""
    from lakehouse_adventureworks2022_spark.operators.sketches import (
        kll_quantiles,
        kll_sketches,
    )

    sk = kll_sketches(
        read_table(spark, sf_dir, "events"), ["event_type"], "value", k=200
    )
    return kll_quantiles(sk, [0.5, 0.9, 0.99], keys=["event_type"]).orderBy(
        "event_type", "q"
    )


def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram-LM (SentencePiece-style) tokenization of
    the documents table: piece table learned from the corpus's own
    word-frequency table (lattice EM + Kudo loss pruning), then a
    distributed Viterbi encode. Deterministic/exact, but the EM loop
    has no SQL twin ⇒ rows-only; Viterbi-vs-bruteforce, EM-
    monotonicity, determinism and round-trip differentials in
    tests/test_unigram.py."""
    from lakehouse_adventureworks2022_spark.operators.unigram import (
        train_and_segment,
    )

    seg = train_and_segment(
        read_table(spark, sf_dir, "documents"), vocab_size=500
    )
    return seg.select(
        "doc_id",
        F.array_join("pieces", " ").alias("piece_text"),
        "n_pieces",
    )


#: DuckDB twin of ngram_repetition_stats (Gopher repeated-n-gram
#: fractions): same tokens, sliding n-grams via list_transform+range,
#: (doc_id, gram) counts, clamped dup/top fractions over the doc's
#: non-space char count; n-gram-less docs report 0.0.
ORACLE_NGRAM_REPETITION = r"""
WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+') AS toks,
         CAST(len(regexp_replace(text, '[ \t\n\r\f]+', '', 'g')) AS DOUBLE) AS chars
  FROM documents
),
g2 AS (
  SELECT doc_id, chars,
         unnest(list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])) AS gram
  FROM base WHERE len(toks) >= 2
),
c2 AS (
  SELECT doc_id, gram, first(chars) AS chars, COUNT(*) AS c
  FROM g2 GROUP BY doc_id, gram
),
d2 AS (
  SELECT doc_id,
         least(1.0, SUM((c - 1) * len(regexp_replace(gram, '[ \t\n\r\f]+', '', 'g'))) / first(chars)) AS dup_2gram_frac,
         least(1.0, MAX(c * len(regexp_replace(gram, '[ \t\n\r\f]+', '', 'g'))) / first(chars)) AS top_2gram_frac
  FROM c2 GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, chars,
         unnest(list_transform(range(len(toks) - 2), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
  FROM base WHERE len(toks) >= 3
),
c3 AS (
  SELECT doc_id, gram, first(chars) AS chars, COUNT(*) AS c
  FROM g3 GROUP BY doc_id, gram
),
d3 AS (
  SELECT doc_id,
         least(1.0, SUM((c - 1) * len(regexp_replace(gram, '[ \t\n\r\f]+', '', 'g'))) / first(chars)) AS dup_3gram_frac,
         least(1.0, MAX(c * len(regexp_replace(gram, '[ \t\n\r\f]+', '', 'g'))) / first(chars)) AS top_3gram_frac
  FROM c3 GROUP BY doc_id
),
g4 AS (
  SELECT doc_id, chars,
         unnest(list_transform(range(len(toks) - 3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS gram
  FROM base WHERE len(toks) >= 4
),
c4 AS (
  SELECT doc_id, gram, first(chars) AS chars, COUNT(*) AS c
  FROM g4 GROUP BY doc_id, gram
),
d4 AS (
  SELECT doc_id,
         least(1.0, SUM((c - 1) * len(regexp_replace(gram, '[ \t\n\r\f]+', '', 'g'))) / first(chars)) AS dup_4gram_frac,
         least(1.0, MAX(c * len(regexp_replace(gram, '[ \t\n\r\f]+', '', 'g'))) / first(chars)) AS top_4gram_frac
  FROM c4 GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(dup_2gram_frac, 0.0) AS dup_2gram_frac,
       COALESCE(top_2gram_frac, 0.0) AS top_2gram_frac,
       COALESCE(dup_3gram_frac, 0.0) AS dup_3gram_frac,
       COALESCE(top_3gram_frac, 0.0) AS top_3gram_frac,
       COALESCE(dup_4gram_frac, 0.0) AS dup_4gram_frac,
       COALESCE(top_4gram_frac, 0.0) AS top_4gram_frac
FROM documents d
LEFT JOIN d2 USING (doc_id) LEFT JOIN d3 USING (doc_id) LEFT JOIN d4 USING (doc_id)
"""


#: DuckDB twin of connected_components over the LSH pairs: recursive
#: transitive closure (tiny near-dup components keep it cheap) with
#: component = MIN reachable doc_id — identical to the min-label
#: propagation fixpoint.
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLE_MINHASH_LSH}) lsh
),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
reach AS (
  SELECT doc_a AS doc_id, doc_a AS r FROM edges
  UNION
  SELECT e.doc_a AS doc_id, rr.r
  FROM edges e JOIN reach rr ON e.doc_b = rr.doc_id
)
SELECT doc_id, MIN(r) AS component FROM reach GROUP BY doc_id
"""


#: DuckDB window-frame twin of value_anomalies (lookback 20, min
#: history 5, |z| > 3): identical trailing frame ordered by
#: (ts, event_id); display baselines and z rounded to 6dp in BOTH
#: engines so segment-tree-vs-sequential float association noise
#: (~1e-12) can never reach a compared digit.
ORACLE_EVENT_ANOMALIES = """
    WITH w AS (
      SELECT event_id, user_id, value,
             AVG(value) OVER win AS mean_raw,
             STDDEV_SAMP(value) OVER win AS std_raw,
             COUNT(*) OVER win AS n
      FROM events
      WINDOW win AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING
      )
    )
    SELECT event_id, user_id, value,
           ROUND(mean_raw, 6) AS baseline_mean,
           ROUND(std_raw, 6) AS baseline_std,
           CASE WHEN n >= 5 AND std_raw > 0
                THEN ROUND((value - mean_raw) / std_raw, 6) END AS z_score,
           CASE WHEN n < 5 THEN FALSE
                WHEN std_raw = 0 THEN value <> mean_raw
                ELSE ABS(ROUND((value - mean_raw) / std_raw, 6)) > 3.0
           END AS is_anomaly
    FROM w
"""


#: DuckDB twin of corpus_drift over the even/odd doc_id halves: every
#: compared number is EXACT cross-engine — token counts are
#: integer-valued doubles (sums exact at any association order), shares
#: are int/int divisions, and interpolated medians match quantile_cont
#: (the event_value_stats precedent) — so no rounding is needed.
ORACLE_CORPUS_DRIFT = r"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+'))
                  AS DOUBLE) AS n
      FROM documents
    ),
    pa AS (
      SELECT source, COUNT(*) AS n_docs, AVG(n) AS mean_tokens,
             quantile_cont(n, 0.5) AS p50
      FROM tok WHERE doc_id % 2 = 0 GROUP BY source
    ),
    pb AS (
      SELECT source, COUNT(*) AS n_docs, AVG(n) AS mean_tokens,
             quantile_cont(n, 0.5) AS p50
      FROM tok WHERE doc_id % 2 = 1 GROUP BY source
    ),
    ta AS (SELECT SUM(n_docs) AS t FROM pa),
    tb AS (SELECT SUM(n_docs) AS t FROM pb),
    j AS (
      SELECT COALESCE(pa.source, pb.source) AS source,
             COALESCE(pa.n_docs, 0) AS n_docs_a,
             COALESCE(pb.n_docs, 0) AS n_docs_b,
             COALESCE(CAST(pa.n_docs AS DOUBLE) / (SELECT t FROM ta), 0.0)
               AS share_a,
             COALESCE(CAST(pb.n_docs AS DOUBLE) / (SELECT t FROM tb), 0.0)
               AS share_b,
             pa.mean_tokens AS mean_tokens_a,
             pb.mean_tokens AS mean_tokens_b,
             pa.p50 AS p50_tokens_a,
             pb.p50 AS p50_tokens_b
      FROM pa FULL OUTER JOIN pb ON pa.source = pb.source
    )
    SELECT source, n_docs_a, n_docs_b, share_a, share_b,
           share_b - share_a AS share_delta,
           mean_tokens_a, mean_tokens_b,
           mean_tokens_b - mean_tokens_a AS mean_tokens_delta,
           p50_tokens_a, p50_tokens_b,
           p50_tokens_b - p50_tokens_a AS p50_tokens_delta
    FROM j
"""



#: DuckDB twin of the self-scored bigram add-k perplexity: identical
#: padded transitions, count model, V = distinct predicted words, and
#: smoothing ratio (exact division — integer counts + 0.5 terms are
#: exact doubles); ln/avg/exp folds are display-rounded to 6dp in both
#: engines so libm 1-ulp and association noise never reach a digit.
ORACLE_DOC_PERPLEXITY = r"""
    WITH toks AS (
      SELECT doc_id,
             ['<s>'] || list_filter(
               regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+'),
               x -> x <> '') || ['</s>'] AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(len(t) - 1), i -> t[i + 1])) AS context,
             unnest(list_transform(range(len(t) - 1), i -> t[i + 2])) AS word
      FROM toks
    ),
    lm AS (SELECT context, word, COUNT(*) AS c FROM grams GROUP BY 1, 2),
    ctx AS (SELECT context, SUM(c) AS ctx_c FROM lm GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS vv FROM lm),
    scored AS (
      SELECT g.doc_id,
             ln((l.c + 0.5) / (x.ctx_c + 0.5 * (SELECT vv FROM v))) AS logp
      FROM grams g
      JOIN lm l ON g.context = l.context AND g.word = l.word
      JOIN ctx x ON g.context = x.context
    )
    SELECT doc_id,
           COUNT(*) AS n_transitions,
           ROUND(-AVG(logp), 6) AS avg_nll,
           ROUND(EXP(-AVG(logp)), 6) AS ppl
    FROM scored GROUP BY doc_id
"""



#: DuckDB twin of q_embedding_drift: identical halves/profiles (norms
#: via double-cast folds, per-dim centroid means, centroid cosine),
#: float outputs rounded to 6dp in both engines.
ORACLE_EMBEDDING_DRIFT = r"""
    WITH e AS (
      SELECT vec_id, label,
             CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS half,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT half, label,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e
    ),
    scalars AS (
      SELECT half, label, COUNT(*) AS n, AVG(nrm) AS mean_norm
      FROM norms GROUP BY 1, 2
    ),
    dims AS (
      SELECT half, label,
             unnest(range(len(v))) AS dim,
             unnest(v) AS val
      FROM e
    ),
    cent AS (
      SELECT half, label, dim, AVG(val) AS m FROM dims GROUP BY 1, 2, 3
    ),
    cosine AS (
      SELECT a.label,
             SUM(a.m * b.m)
               / (sqrt(SUM(a.m * a.m)) * sqrt(SUM(b.m * b.m))) AS cos_ab
      FROM cent a
      JOIN cent b ON a.label = b.label AND a.dim = b.dim
      WHERE a.half = 0 AND b.half = 1
      GROUP BY a.label
    )
    SELECT COALESCE(sa.label, sb.label) AS label,
           COALESCE(sa.n, 0) AS n_a,
           COALESCE(sb.n, 0) AS n_b,
           ROUND(sa.mean_norm, 6) + 0.0 AS mean_norm_a,
           ROUND(sb.mean_norm, 6) + 0.0 AS mean_norm_b,
           ROUND(sb.mean_norm - sa.mean_norm, 6) + 0.0 AS mean_norm_delta,
           ROUND(c.cos_ab, 6) + 0.0 AS centroid_cosine
    FROM (SELECT * FROM scalars WHERE half = 0) sa
    FULL OUTER JOIN (SELECT * FROM scalars WHERE half = 1) sb
      ON sa.label = sb.label
    LEFT JOIN cosine c ON COALESCE(sa.label, sb.label) = c.label
"""


#: DuckDB twin of remove_duplicate_spans (ExactSubstr, window=12,
#: keep=first): windows matched by their literal lowercased token runs
#: (the engine's xxhash64 equality IS string equality), keeper = first
#: (doc_id, pos) via ROW_NUMBER, span merge as gaps-and-islands
#: (sorted 12-long intervals ⇒ new span iff pos > prev + 12),
#: covered-position anti-join + ordered string_agg rebuild.
ORACLE_REMOVE_REPEATED_SPANS = r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '[ \t\n\r\f]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    norm AS (
      SELECT doc_id, toks, list_transform(toks, x -> lower(x)) AS nt FROM base
    ),
    wins AS (
      SELECT doc_id,
             unnest(range(len(nt) - 11)) AS pos,
             unnest(list_transform(range(len(nt) - 11),
                    i -> array_to_string(nt[i + 1 : i + 12], chr(31)))) AS key
      FROM norm WHERE len(nt) >= 12
    ),
    ranked AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY key) AS occ,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
      FROM wins
    ),
    flagged AS (SELECT doc_id, pos FROM ranked WHERE occ >= 2 AND rn > 1),
    islands AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                    OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 12
                  THEN 1 ELSE 0 END AS is_start
      FROM flagged
    ),
    spanstats AS (
      SELECT doc_id, CAST(SUM(is_start) AS INT) AS span_count
      FROM islands GROUP BY doc_id
    ),
    covered AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + 12)) AS idx FROM flagged
    ),
    removedcount AS (
      SELECT doc_id, CAST(COUNT(*) AS INT) AS removed
      FROM covered GROUP BY doc_id
    ),
    tokidx AS (
      SELECT doc_id,
             unnest(toks) AS tok,
             unnest(range(len(toks))) AS idx
      FROM base
    ),
    kept AS (
      SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.idx) AS txt
      FROM tokidx t
      LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.idx
      WHERE c.idx IS NULL
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(k.txt, '') AS text,
           COALESCE(r.removed, 0) AS removed_tokens,
           COALESCE(s.span_count, 0) AS span_count
    FROM documents d
    LEFT JOIN kept k ON d.doc_id = k.doc_id
    LEFT JOIN removedcount r ON d.doc_id = r.doc_id
    LEFT JOIN spanstats s ON d.doc_id = s.doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the documents corpus (r7): deterministic PII
    spans are planted IN-PLAN (the synthetic fixture text contains
    none — a vacuous differential would prove nothing), then scrubbed
    by the fixed-order regexp chain in ``operators/pii.py``. One
    zero-shuffle whole-stage-codegen projection; the DuckDB twin below
    shares the LITERAL pattern strings, so the differential verifies
    regex semantics across engines, not just plumbing."""
    from lakehouse_adventureworks2022_spark.operators.pii import scrub_pii

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            )
            .when(
                did % 3 == 1,
                F.concat(
                    F.lit(" call +1 555-"),
                    F.lpad((did % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit(" host 10."),
                    (did % 256).cast("string"),
                    F.lit(".0.1 ssn 123-45-6789"),
                )
            ),
        ).alias("text"),
    )
    return scrub_pii(planted).select("doc_id", "text", "n_redactions")


def _build_oracle_pii_scrub() -> str:
    """DuckDB twin of q_pii_scrub, generated from the SAME pattern
    table the Spark operator scrubs with (one source of truth: a
    pattern edit cannot silently diverge the twin)."""
    from lakehouse_adventureworks2022_spark.operators.pii import (
        PII_PATTERNS,
    )

    sql = """
    WITH planted AS (
      SELECT doc_id,
             text || CASE
               WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
               WHEN doc_id % 3 = 1
                 THEN ' call +1 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 ssn 123-45-6789'
             END AS t0
      FROM documents
    )"""
    prev_t, prev_n, prev_src = "t0", "CAST(0 AS INT)", "planted"
    for i, (name, (pat, tok)) in enumerate(PII_PATTERNS.items(), 1):
        p = pat.replace("'", "''")
        sql += f""",
    s{i} AS (
      SELECT doc_id,
             {prev_n} + len(regexp_extract_all({prev_t}, '{p}')) AS n{i},
             regexp_replace({prev_t}, '{p}', '{tok}', 'g') AS t{i}
      FROM {prev_src}
    )"""
        prev_t, prev_n, prev_src = f"t{i}", f"n{i}", f"s{i}"
    sql += f"""
    SELECT doc_id, {prev_t} AS text, CAST({prev_n} AS INT) AS n_redactions
    FROM {prev_src}
"""
    return sql


ORACLE_PII_SCRUB = _build_oracle_pii_scrub()


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/typography normalization over the documents corpus (r7):
    messy suffixes (curly quotes, em-dash, NBSP, a control char) are
    planted IN-PLAN — the ASCII fixture contains none — then folded by
    ``textops.normalize_text``. Zero-shuffle codegen projection; the
    twin shares the translate table and regex classes verbatim."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        normalize_text,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 2 == 0,
                F.lit(" “Quoted—Text”\x07TAIL End "),
            ).otherwise(F.lit("  Plain   Suffix ")),
        ).alias("text"),
    )
    return normalize_text(planted)


def _build_oracle_normalize_text() -> str:
    from lakehouse_adventureworks2022_spark.operators.textops import (
        _CONTROL_CLASS,
        NORMALIZE_FROM,
        NORMALIZE_TO,
    )

    frm = NORMALIZE_FROM.replace("'", "''")
    to = NORMALIZE_TO.replace("'", "''")
    return f"""
    WITH planted AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 2 = 0
               THEN ' “Quoted—Text”' || chr(7) || 'TAIL' || chr(160) || 'End '
               ELSE '  Plain   Suffix ' END AS t0
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
             lower(regexp_replace(
               translate(t0, '{frm}', '{to}'),
               '{_CONTROL_CLASS}', ' ', 'g')),
             '{_WS}+', ' ', 'g')) AS text
    FROM planted
"""


ORACLE_NORMALIZE_TEXT = _build_oracle_normalize_text()


def q_domain_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL census over the documents corpus (r7): URLs are
    planted IN-PLAN (the fixture text has none) — one per doc plus a
    second mirror link for every third doc — then counted by
    ``textops.domain_census`` (the blocklist-policy input table). One
    uniform-key aggregation over the exploded mentions."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        domain_census,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://cdn"),
            (did % 7).cast("string"),
            F.lit(".Example.org/page"),
            F.when(
                did % 3 == 0, F.lit(" and http://mirror.example.net/x")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return domain_census(planted)


def _build_oracle_domain_census() -> str:
    from lakehouse_adventureworks2022_spark.operators.textops import (
        URL_DOMAIN_PATTERN,
    )

    pat = URL_DOMAIN_PATTERN.replace("'", "''")
    return f"""
    WITH planted AS (
      SELECT doc_id,
             text || ' see https://cdn' || CAST(doc_id % 7 AS VARCHAR)
                  || '.Example.org/page'
                  || CASE WHEN doc_id % 3 = 0
                       THEN ' and http://mirror.example.net/x' ELSE '' END
               AS t0
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             lower(unnest(regexp_extract_all(t0, '{pat}', 1))) AS domain
      FROM planted
    ),
    refs AS (SELECT domain, COUNT(*) AS n_refs FROM m GROUP BY 1),
    docs AS (
      SELECT domain, COUNT(*) AS n_docs
      FROM (SELECT DISTINCT doc_id, domain FROM m) GROUP BY 1
    )
    SELECT docs.domain, docs.n_docs, refs.n_refs
    FROM docs JOIN refs USING (domain)
"""


ORACLE_DOMAIN_CENSUS = _build_oracle_domain_census()


def q_docs_capped_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced-source cap (r7): every ``source`` stratum keeps exactly
    min(|stratum|, 15) deterministically-chosen docs (15 < every
    fixture stratum, so the cap BINDS at all three SFs — non-vacuous) — the
    per-group twin of the exact-N sampler. One stratum-key shuffle;
    WindowGroupLimit prunes before the full per-group sort."""
    from lakehouse_adventureworks2022_spark.operators.sampling import (
        hash_sample_cap_per_stratum,
    )

    docs = read_table(spark, sf_dir, "documents")
    return hash_sample_cap_per_stratum(
        docs, 15, strata_col="source", seed="r7"
    ).select("doc_id", "source", "lang")


ORACLE_DOCS_CAPPED_PER_SOURCE = """
    SELECT doc_id, source, lang
    FROM (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':r7') ASC,
                        doc_id ASC
             ) AS rk
      FROM documents
    )
    WHERE rk <= 15
"""


def q_ann_cosine_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN with exact re-rank (r7): the third
    compression tier beside IVF (probe pruning) and PQ (16x codes) —
    per-dim 256-level codes scan ~4-8x less than raw vectors at
    near-exact recall. Approximate by design ⇒ rows-only; recall floor
    + layout invariance + code-range tests in
    tests/test_training_ops.py."""
    q, c = similarity.embedding_queries(spark, sf_dir)
    return similarity.cosine_topk_sq8(q, c, k=10)


def q_ann_cosine_sq8_amortized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployed-SQ8 shape: params+codes index built+persisted on first
    use per corpus version; later calls pay the compressed scan +
    re-rank only. Identical results to the one-shot form (tested)."""
    return _ann_amortized(spark, sf_dir, "sq8_index_", "none", "sq8")


def q_ann_cosine_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+SQ8 combined tier (r8): probe cells bound WHICH rows are
    scanned, SQ8 codes shrink WHAT each row reads — closes the r7
    gap where plain SQ8 scanned every code row (the slowest ANN
    variant). Approximate by design ⇒ rows-only; recall-vs-IVF parity
    + probe monotonicity + amortized-identity tests in
    tests/test_training_ops.py."""
    q, c = similarity.embedding_queries(spark, sf_dir)
    return similarity.cosine_topk_ivf_sq8(q, c, k=10)


def q_ann_cosine_ivf_sq8_amortized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployed IVF+SQ8: cell-clustered codes index built+persisted on
    first use per corpus version; steady state pays the probe-pruned
    compressed scan + re-rank only. Identical results to the one-shot
    form (tested)."""
    return _ann_amortized(spark, sf_dir, "ivf_sq8_index_", "ivf", "sq8")


def q_ivf_sq8_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest steady state of the persisted IVF+SQ8 index (r9 —
    benches the IVF+SQ8 append, tested-but-unbenched in r8): a
    deterministic 10% batch (``vec_id % 10 = 0`` re-keyed +1_000_000 —
    daily ingest is batch << corpus) lands via
    the replay-idempotent ``batch_tag`` path (each rep REWRITES the same
    committed batch dir — the index never grows across reps), then the
    amortized search runs over base ∪ appends. Measures encode-assign-
    append + grown-index search, i.e. the recurring cost an ingest
    pipeline pays per batch; the base build amortizes into the first
    call per fixture version. Own index dir — the plain amortized query
    must never see these appends. Approximate by design ⇒ rows-only;
    the append/replay/searchability contracts are pinned in
    tests/test_training_ops.py."""
    q, c = similarity.embedding_queries(spark, sf_dir)
    idx = fixture_state_dir(sf_dir, "embeddings", "ivf_sq8_ingest_")
    newv = c.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    # base build, paid once per fixture version (same contract as the
    # other amortized ANN entries)
    ensure_index(c, idx, "ivf", "sq8")
    append_index(newv, idx, batch_tag="bench_ingest")
    all_cand = c.select("vec_id", "embedding").unionByName(newv)
    return similarity.search_index(
        load_index(spark, idx), q, k=10, candidates=all_cand
    )


def q_eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-hygiene contamination report (r8): every 97th document
    stands in for a held-out eval set; the rest is the training corpus;
    any train doc sharing a word 3-gram with any eval doc is flagged
    with its DISTINCT shared-gram count. n=3 because the fixture's docs
    are 10-99 words of a small shared vocabulary — production default
    is the published 13-gram convention (tested with planted 13-gram
    leaks in tests/test_decontaminate.py). EXACT (swept DuckDB twin
    below): xxhash64 gram hashing changes nothing but bytes moved.

    The train side repartitions to defaultParallelism before the gram
    explode (r9): the sf0.1 fixture is ONE sub-megabyte parquet file,
    so the scan is one input split and the whole train explode ran on
    a single task (~5 s of the 9-10 s r8 bench entry — profiled; r8's
    SCALE.md had mis-attributed the cost to fixture gram density). At
    100 TB the corpus is thousands of splits and the explode
    parallelizes for free — the repartition makes the bench measure
    the operator, not the toy file layout (same fix as
    video_frame_harvest_amortized). Values are unchanged: the oracle
    twin is layout-independent."""
    from lakehouse_adventureworks2022_spark.operators.decontaminate import (
        contamination_report,
    )

    docs = read_table(spark, sf_dir, "documents")
    evalset = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0).repartition(
        default_parallelism(spark)
    )
    return contamination_report(train, evalset, n=3).orderBy("doc_id")


#: DuckDB twin of q_eval_decontamination: same whitespace tokenization,
#: same 97-modulus split, same DISTINCT-gram count — joined on the gram
#: STRING (the operator's xxhash64 join is count-identical absent a
#: 2^-64 collision).
ORACLE_EVAL_DECONTAMINATION = r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest([array_to_string(w[i:i+2], ' ')
                     for i in range(1, len(w) - 1)]) AS gram
      FROM tok
    )
    SELECT a.doc_id,
           COUNT(DISTINCT a.gram) AS n_contaminated_ngrams
    FROM g a
    JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0) e USING (gram)
    WHERE a.doc_id % 97 != 0
    GROUP BY a.doc_id
    ORDER BY a.doc_id
"""


def q_eval_decontamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (paraphrase-robust) decontamination (r8): every 50th
    document becomes a PERTURBED eval item — first two words dropped, a
    marker suffix appended — so no 13-gram (often no 3-gram run) of the
    edit boundary survives verbatim, yet shingle Jaccard with the
    source doc stays high. The cross-corpus MinHash-LSH tier must
    recover the planted (train, eval) pairs it was built for. EXACT
    despite the LSH (md5 band signatures + exact-Jaccard verify are
    deterministic): swept DuckDB twin below, hash-verified."""
    from lakehouse_adventureworks2022_spark.operators.decontaminate import (
        fuzzy_contamination_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), textops.WS_PLUS)
    evalset = docs.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id",
        F.concat(
            F.array_join(F.slice(toks, 3, F.size(toks)), " "),
            F.lit(" held out benchmark answer key"),
        ).alias("text"),
    )
    return (
        fuzzy_contamination_pairs(docs, evalset, n=3, threshold=0.5)
        .withColumn("jaccard", F.round("jaccard", 6))
        .orderBy("train_id", "eval_id")
    )


#: DuckDB twin of q_eval_decontamination_fuzzy: the same perturbation
#: (1-based toks[3:] == Spark slice(toks, 3, size)), the same md5
#: minhash/band machinery as ORACLE_MINHASH_LSH, joined train×eval.
ORACLE_EVAL_DECONTAMINATION_FUZZY = f"""
    WITH tr AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ev AS (
      SELECT doc_id,
             regexp_split_to_array(
               array_to_string(({_TOKS})[3:], ' ')
                 || ' held out benchmark answer key', '{_WS}+') AS toks
      FROM documents WHERE doc_id % 50 = 0
    ),
    tsh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM tr),
    esh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM ev),
    seeds AS (SELECT lpad(CAST(i AS VARCHAR), 2, '0') AS seed
              FROM range({_K}) r(i)),
    tmh AS (SELECT doc_id, seed, MIN(md5(seed || '|' || shingle)) AS minhash
            FROM tsh, seeds GROUP BY doc_id, seed),
    emh AS (SELECT doc_id, seed, MIN(md5(seed || '|' || shingle)) AS minhash
            FROM esh, seeds GROUP BY doc_id, seed),
    tbands AS (
      SELECT doc_id, CAST(seed AS INT) // {_BR} AS band,
             md5(string_agg(seed || ':' || minhash, '|' ORDER BY seed)) AS band_sig
      FROM tmh GROUP BY doc_id, band
    ),
    ebands AS (
      SELECT doc_id, CAST(seed AS INT) // {_BR} AS band,
             md5(string_agg(seed || ':' || minhash, '|' ORDER BY seed)) AS band_sig
      FROM emh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
      FROM tbands t JOIN ebands e
        ON t.band = e.band AND t.band_sig = e.band_sig
    ),
    tsizes AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY doc_id),
    esizes AS (SELECT doc_id, COUNT(*) AS n FROM esh GROUP BY doc_id),
    common AS (
      SELECT train_id, eval_id, COUNT(*) AS n_common
      FROM cand
      JOIN tsh sa ON train_id = sa.doc_id
      JOIN esh sb ON eval_id = sb.doc_id AND sa.shingle = sb.shingle
      GROUP BY train_id, eval_id
    )
    SELECT train_id, eval_id, n_common,
           ROUND(CAST(n_common AS DOUBLE) / (zt.n + ze.n - n_common), 6)
             AS jaccard
    FROM common
    JOIN tsizes zt ON train_id = zt.doc_id
    JOIN esizes ze ON eval_id = ze.doc_id
    WHERE CAST(n_common AS DOUBLE) / (zt.n + ze.n - n_common) >= 0.5
    ORDER BY train_id, eval_id
"""


def q_perplexity_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-source head/middle/tail split (r8): self-scored
    bigram perplexity, 6dp-rounded (the module's cross-engine display
    policy — the hash-verified doc_perplexity rounding), ntile(3) per
    source ordered by (ppl, doc_id). EXACT: ntile over an identical
    total order is engine-independent; swept DuckDB twin below."""
    from lakehouse_adventureworks2022_spark.operators.lm import (
        perplexity_buckets,
    )

    docs = read_table(spark, sf_dir, "documents")
    return perplexity_buckets(docs, 3).orderBy("doc_id")


ORACLE_PERPLEXITY_QUALITY_BUCKETS = f"""
    WITH pp AS ({ORACLE_DOC_PERPLEXITY}),
    lab AS (
      SELECT d.doc_id, d.source, pp.ppl,
             CAST(ntile(3) OVER (
               PARTITION BY d.source ORDER BY pp.ppl, d.doc_id
             ) AS INT) AS bucket
      FROM documents d JOIN pp ON d.doc_id = pp.doc_id
    )
    SELECT doc_id, source, ppl, bucket,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket_label
    FROM lab ORDER BY doc_id
"""


#: Per-source epoch weights for the materialized-mixture query: the 20
#: fixture sources cycle through 0.25 / 1.0 / 1.75 / 2.5 epochs;
#: src19 is deliberately ABSENT (absence drops — tested).
EPOCH_WEIGHTS: dict[str, float] = {
    f"src{i}": 0.25 + 0.75 * (i % 4) for i in range(19)
}


def q_docs_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-epochs mixture materialization (r8): each source's docs
    appear floor(e) times plus a deterministic-md5 fractional copy —
    the step that turns chosen mixture weights (DoReMi et al.) into an
    actual training corpus. EXACT (twin generated from the same weights
    table)."""
    from lakehouse_adventureworks2022_spark.operators.sampling import (
        materialize_mixture,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        materialize_mixture(docs, EPOCH_WEIGHTS)
        .select("doc_id", "source", F.col("copy_idx").cast("int").alias("copy_idx"))
        .orderBy("doc_id", "copy_idx")
    )


def _epoch_mixture_sql() -> str:
    """DuckDB twin GENERATED from EPOCH_WEIGHTS + the sampling module's
    threshold encoding (one source of truth — edit the weights and the
    twin follows)."""
    from lakehouse_adventureworks2022_spark.operators.sampling import (
        _threshold_lit,
    )

    whole = " ".join(
        f"WHEN source = '{s}' THEN {int(e)}" for s, e in EPOCH_WEIGHTS.items()
    )
    thr = " ".join(
        f"WHEN source = '{s}' THEN '{_threshold_lit(e - int(e))}'"
        for s, e in EPOCH_WEIGHTS.items()
    )
    return f"""
    WITH t AS (
      SELECT doc_id, source,
             CASE {whole} ELSE NULL END AS whole,
             CASE {thr} ELSE NULL END AS thr
      FROM documents
    ),
    n AS (
      SELECT doc_id, source,
             whole + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)
                                          || ':epochs-v1'), 1, 4) < thr
                          THEN 1 ELSE 0 END AS n_copies
      FROM t WHERE whole IS NOT NULL
    )
    SELECT doc_id, source, CAST(unnest(range(n_copies)) AS INT) AS copy_idx
    FROM n
    ORDER BY doc_id, copy_idx
    """


ORACLE_DOCS_EPOCH_MIXTURE = _epoch_mixture_sql()


def q_docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (r10): every 7th document stands
    in for the TARGET domain sample; the rest is the raw corpus; each
    raw doc gets its log importance ratio under add-k smoothed
    hashed-n-gram (uni+bi, 4096 md5 buckets) target/raw bucket models —
    the published cheap domain-selection signal (Xie et al. 2023).
    EXACT (swept DuckDB twin below): md5 bucketing and the add-k math
    are engine-independent; the float fold is 6dp-display-rounded in
    both engines per the cross-engine float policy. The Gumbel-top-k
    resampler (``dsir.dsir_select``) is equally deterministic and is
    pinned by worked-example/property tests in tests/test_dsir.py."""
    from lakehouse_adventureworks2022_spark.operators.dsir import dsir_weights

    docs = read_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    return dsir_weights(raw, target, buckets=4096)


#: DuckDB twin of q_docs_dsir_weights: same whitespace tokenization,
#: same uni+bigram bag (multiplicity kept), same md5-prefix buckets,
#: same add-k (k=0.5, B=4096) smoothing and 6dp display rounding.
ORACLE_DOCS_DSIR_WEIGHTS = r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(w) AS gram FROM tok
      UNION ALL
      SELECT doc_id,
             unnest([array_to_string(w[i:i+1], ' ')
                     for i in range(1, len(w))]) AS gram
      FROM tok
    ),
    feats AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % 4096 AS bucket,
             COUNT(*) AS n
      FROM grams GROUP BY 1, 2
    ),
    p AS (SELECT bucket, SUM(n) AS c FROM feats WHERE doc_id % 7 = 0 GROUP BY 1),
    q AS (SELECT bucket, SUM(n) AS c FROM feats WHERE doc_id % 7 <> 0 GROUP BY 1),
    pn AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM p),
    qn AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM q),
    w AS (
      SELECT f.doc_id,
             SUM(f.n) AS n_features,
             SUM(f.n * (ln((COALESCE(p.c, 0) + 0.5) / (pn.n + 0.5 * 4096))
                      - ln((COALESCE(q.c, 0) + 0.5) / (qn.n + 0.5 * 4096))))
               AS lw
      FROM feats f
      LEFT JOIN p USING (bucket)
      LEFT JOIN q USING (bucket), pn, qn
      WHERE f.doc_id % 7 <> 0
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(w.n_features, 0) AS BIGINT) AS n_features,
           ROUND(COALESCE(w.lw, 0.0), 6) AS log_weight
    FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
    LEFT JOIN w USING (doc_id)
    """


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix (r10): for every unordered
    pair of provenance sources in the documents table, the distinct
    3-gram overlap with Jaccard and containment — the corpus-level
    mixing-diligence twin of the per-document decontamination tiers
    (which source duplicates which, which slice leaks into which).
    n=3 for the same fixture reason as q_eval_decontamination. EXACT
    (swept DuckDB twin below): distinct-set intersection counts and
    int/int ratios, 6dp display rounding only."""
    from lakehouse_adventureworks2022_spark.operators.decontaminate import (
        source_overlap_matrix,
    )

    # the sf0.1 fixture is ONE parquet file = one input split: without
    # this the whole gram explode runs on a single task (the same
    # layout artifact q_eval_decontamination repartitions away; at
    # 100 TB the corpus is thousands of splits and this is a no-op
    # cost-wise). Values are layout-independent.
    docs = read_table(spark, sf_dir, "documents").repartition(
        default_parallelism(spark)
    )
    return source_overlap_matrix(docs, n=3)


#: DuckDB twin of q_source_overlap: same tokenization, same distinct
#: (source, 3-gram) sets, same pair/ratio math.
ORACLE_SOURCE_OVERLAP = r"""
    WITH tok AS (
      SELECT source,
             list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+'),
                         t -> len(t) > 0) AS w
      FROM documents
    ),
    g AS (
      SELECT DISTINCT source,
             unnest([array_to_string(w[i:i+2], ' ')
                     for i in range(1, len(w) - 1)]) AS gram
      FROM tok
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
    ov AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_shared_grams
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a,
           source_b,
           n_shared_grams,
           sa.n AS n_grams_a,
           sb.n AS n_grams_b,
           ROUND(n_shared_grams
                 / CAST(sa.n + sb.n - n_shared_grams AS DOUBLE), 6) AS jaccard,
           ROUND(n_shared_grams / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6)
             AS containment
    FROM ov
    JOIN sizes sa ON ov.source_a = sa.source
    JOIN sizes sb ON ov.source_b = sb.source
    """


# ---- HTML -> plain-text extraction (r10) ------------------------------

#: deterministic HTML wrapper planted around each fixture document —
#: the ASCII fixture has no markup, so the adversarial bits live in the
#: wrapper: a script whose BODY contains comparison operators and a
#: tag-lookalike string (must vanish before generic tag handling), CSS,
#: a comment containing tags, every entity the decoder handles, and
#: trailing block structure. Shared verbatim by the Spark plan and the
#: generated DuckDB twin.
HTML_WRAP_PRE = (
    '<html><head><title>doc</title>'
    "<style type=\"text/css\">p { color: red; }</style>"
    "<script type=\"text/javascript\">"
    "if (1 < 2 && 3 > 2) { var s = \"<p>not real</p>\"; }"
    "</script></head><body><h1>"
)
HTML_WRAP_MID = "</h1><!-- comment with <b>tags</b> inside --><p>"
HTML_WRAP_POST = (
    " &amp; more&nbsp;entities &lt;escaped&gt; &quot;quoted&quot;"
    " &#39;apostrophes&#39;</p><br><div>trailing block</div></body></html>"
)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style HTML→text extraction (textops.extract_html_text) over
    the documents corpus wrapped in the planted adversarial markup.
    Exact: the ordered strip pipeline is shared with the generated
    DuckDB twin step for step. Zero-shuffle codegen projection —
    worked-example, idempotence and plan tests in
    tests/test_html_extract.py."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        extract_html_text,
    )

    docs = read_table(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit(HTML_WRAP_PRE),
            F.col("source"),
            F.lit(HTML_WRAP_MID),
            F.col("text"),
            F.lit(HTML_WRAP_POST),
        ).alias("html"),
    )
    return extract_html_text(wrapped).select("doc_id", "text_plain")


def _build_oracle_html_extract() -> str:
    """DuckDB twin GENERATED from textops.HTML_STRIP_STEPS — edit the
    step table and the twin follows (the ORACLE_PII_SCRUB /
    ORACLE_NORMALIZE_TEXT convention). Newlines in replacements are
    emitted as chr(10) (DuckDB string literals don't interpret
    backslash escapes); all patterns are already RE2-safe by the step
    table's contract."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        HTML_STRIP_STEPS,
    )

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def repl(s: str) -> str:
        return "chr(10)" if s == "\n" else lit(s)

    cur = (
        f"{lit(HTML_WRAP_PRE)} || source || {lit(HTML_WRAP_MID)}"
        f" || text || {lit(HTML_WRAP_POST)}"
    )
    for pat, rep in HTML_STRIP_STEPS:
        cur = f"regexp_replace({cur},\n        {lit(pat)}, {repl(rep)}, 'g')"
    return f"""
    SELECT doc_id,
           {cur} AS text_plain
    FROM documents
"""


ORACLE_HTML_EXTRACT = _build_oracle_html_extract()


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-exact dedup census (r11): messy crawl
    URLs are planted IN-PLAN (scheme/host case variance, default :80
    ports, tracking params, shuffled query order, fragments — the
    fixture text has none), canonicalized
    (``textops.canonicalize_url_col``) and collapsed one row per
    canonical resource with keeper/doc/variant counts
    (``textops.url_census``) — the crawl-budget primitive that runs
    BEFORE fetch/extract in a web pipeline. Exact: every
    canonicalization step is a Java∩RE2 regex or an order-stable array
    op, and the DuckDB twin is GENERATED from the same constants. One
    zero-shuffle projection + one uniform-key aggregation."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        url_census,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            # scheme case variance
            F.when(did % 4 == 1, F.lit("HTTP://"))
            .when(did % 4 == 3, F.lit("Http://"))
            .otherwise(F.lit("http://")),
            # host case variance × 13 resource hosts
            F.when(did % 3 == 0, F.lit("Example"))
            .when(did % 3 == 1, F.lit("example"))
            .otherwise(F.lit("EXAMPLE")),
            (did % 13).cast("string"),
            F.lit(".org"),
            # explicit default port on some spellings
            F.when(did % 4 == 2, F.lit(":80")).otherwise(F.lit("")),
            # 7 paths (case-significant, preserved)
            F.lit("/P/"),
            (did % 7).cast("string"),
            # same two params, order shuffled / tracking noise injected
            F.when(did % 2 == 0, F.lit("?b=2&a=1")).otherwise(
                F.concat(
                    F.lit("?a=1&utm_source=x"),
                    (did % 5).cast("string"),
                    F.lit("&b=2"),
                )
            ),
            # client-side fragments on some spellings
            F.when(
                did % 5 == 0,
                F.concat(F.lit("#sec"), (did % 3).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    return url_census(planted)


#: the planted-URL expression above, as DuckDB SQL (same CASE structure
#: so the twin plants byte-identical raw URLs)
_URL_PLANT_SQL = """
      CASE doc_id % 4 WHEN 1 THEN 'HTTP://' WHEN 3 THEN 'Http://'
           ELSE 'http://' END
      || CASE doc_id % 3 WHEN 0 THEN 'Example' WHEN 1 THEN 'example'
              ELSE 'EXAMPLE' END
      || CAST(doc_id % 13 AS VARCHAR) || '.org'
      || CASE WHEN doc_id % 4 = 2 THEN ':80' ELSE '' END
      || '/P/' || CAST(doc_id % 7 AS VARCHAR)
      || CASE doc_id % 2 WHEN 0 THEN '?b=2&a=1'
              ELSE '?a=1&utm_source=x' || CAST(doc_id % 5 AS VARCHAR)
                   || '&b=2' END
      || CASE WHEN doc_id % 5 = 0
              THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END
"""


def build_url_canon_sql(source_sql: str) -> str:
    """Per-row canonicalization twin GENERATED step for step from the
    operator's constants (``URL_SCHEME_PATTERN`` /
    ``URL_HOSTPORT_PATTERN`` / ``URL_REST_PATTERN`` /
    ``TRACKING_PARAM_PATTERN`` / ``WS_CLASS``) — edit the constants and
    the twin follows (the ORACLE_HTML_EXTRACT convention). Every
    pattern is Java∩RE2 by the operator's contract; list_sort /
    array_sort agree bytewise on ASCII query params. ``source_sql``
    must yield ``(doc_id, url)``; the result adds ``url_canonical``
    (NULL for non-URLs, matching the Spark column)."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        TRACKING_PARAM_PATTERN,
        URL_HOSTPORT_PATTERN,
        URL_REST_PATTERN,
        URL_SCHEME_PATTERN,
        WS_CLASS,
    )

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    trk = lit(TRACKING_PARAM_PATTERN)
    return f"""
    WITH __src AS ({source_sql}),
    __clean AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(url, {lit("^" + WS_CLASS + "+|" + WS_CLASS + "+$")}, '', 'g'),
               '#.*', '') AS u
      FROM __src
    ),
    __parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(u, {lit(URL_SCHEME_PATTERN)}, 1)) AS scheme,
             lower(regexp_extract(u, {lit(URL_HOSTPORT_PATTERN)}, 1)) AS hostport,
             regexp_extract(u, {lit(URL_REST_PATTERN)}, 1) AS rest
      FROM __clean
    ),
    __norm AS (
      SELECT doc_id, url, scheme,
             CASE WHEN scheme = 'http'
                    THEN regexp_replace(hostport, ':80$', '')
                  WHEN scheme = 'https'
                    THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END AS host,
             CASE WHEN regexp_extract(rest, '^([^?]*)', 1) = '' THEN '/'
                  ELSE regexp_extract(rest, '^([^?]*)', 1) END AS path,
             array_to_string(
               list_sort(
                 list_filter(
                   string_split(regexp_extract(rest, '\\?(.*)$', 1), '&'),
                   p -> len(p) > 0 AND NOT regexp_matches(p, {trk}))),
               '&') AS qs
      FROM __parts
    )
    SELECT doc_id, url,
           CASE WHEN scheme <> ''
                THEN scheme || '://' || host || path
                     || CASE WHEN len(qs) > 0 THEN '?' || qs ELSE '' END
           END AS url_canonical
    FROM __norm
"""


def _build_oracle_url_canonicalize() -> str:
    """Census wrapper over :func:`build_url_canon_sql` applied to the
    planted crawl URLs — the swept catalog twin."""
    canon = build_url_canon_sql(
        f"SELECT doc_id, {_URL_PLANT_SQL} AS url FROM documents"
    )
    return f"""
    SELECT url_canonical,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT url) AS n_variants
    FROM ({canon})
    WHERE url_canonical IS NOT NULL
    GROUP BY 1
"""


ORACLE_URL_CANONICALIZE = _build_oracle_url_canonicalize()


def _warc_blobs(spark: SparkSession, sf_dir: str, records) -> DataFrame:
    """The documents corpus muxed IN-PLAN into spec-shaped WARC files
    (the mp4_corpus pattern: the fixture has no binary crawl files, so
    the WARC queries synthesize spec-valid ones): one ``(grp, content)``
    blob per ``doc_id % 16`` group, records in doc_id order, per-record
    gzip members. ``records(doc_id, body)`` returns one document's
    record dicts (the keys of ``sources.warc.build_warc_codec()["write"]``);
    it must be a nested function so it ships by value inside the
    ``applyInPandas`` closure. One groupBy on the 16-key group id."""
    from lakehouse_adventureworks2022_spark.sources.warc import build_warc_codec

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 16).cast("int").alias("grp")
    )
    write = build_warc_codec()["write"]

    def mux(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.sort_values("doc_id")
        recs = [
            rec
            for d, t in zip(rows["doc_id"], rows["text"])
            for rec in records(int(d), str(t).encode("utf-8"))
        ]
        blob = write(recs, gzip_members=True)
        return pd.DataFrame({"grp": [int(pdf["grp"].iloc[0])], "content": [blob]})

    return docs.groupBy("grp").applyInPandas(mux, schema="grp int, content binary")


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container ingestion (r11): the documents corpus is muxed
    IN-PLAN into spec-shaped multi-record WARC files (one blob per
    16-group of docs, one HTTP response record per doc + a warcinfo
    header record, per-record gzip members — the mp4_corpus pattern:
    the fixture has no binary crawl files, so the query synthesizes
    spec-valid ones), parsed back through the REAL record parser
    (``sources/warc.parse_warc_frame``), and each recovered page is
    fingerprinted. Exact: the oracle recomputes the planted URI and the
    payload md5/length straight from ``documents`` — a parser that
    drops, truncates, duplicates or mis-splits any record diverges the
    hash. Arrow-batched mux+parse, one groupBy on the 16-key group id,
    no other shuffle."""
    from lakehouse_adventureworks2022_spark.sources.warc import (
        parse_warc_frame,
        warc_pages,
    )

    def records(doc_id: int, body: bytes) -> list[dict]:
        return [
            {
                "uri": f"http://crawl.example.org/doc/{doc_id}",
                "record_id": f"<urn:uuid:doc-{doc_id}>",
                "body": body,
            }
        ]

    blobs = _warc_blobs(spark, sf_dir, records)
    pages = warc_pages(parse_warc_frame(blobs, "content", path_col=None))
    return pages.select(
        F.col("url").alias("target_uri"),
        F.lit(200).alias("http_status"),
        F.md5(F.encode(F.col("html"), "UTF-8")).alias("payload_md5"),
        F.length(F.encode(F.col("html"), "UTF-8")).alias("payload_bytes"),
    )


ORACLE_WARC_INGEST = """
    SELECT 'http://crawl.example.org/doc/' || CAST(doc_id AS VARCHAR)
             AS target_uri,
           CAST(200 AS INTEGER) AS http_status,
           md5(text) AS payload_md5,
           CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes
    FROM documents
"""


def q_crawl_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl health report (r13): the documents corpus is
    muxed IN-PLAN into WARC responses with a planted operational mix —
    status bands (``doc_id%8``: 0-4 → 200, 5 → 301, 6 → 404,
    7 → 503), content types (``doc_id%3``: HTML / image/jpeg / header
    missing) — across five hosts, then
    ``sources.warc.crawl_health_report`` aggregates the fetch-tier
    alert surface in ONE uniform-key agg. Exact: the oracle recomputes
    every band count and the payload byte sum straight from
    ``documents`` — a parser that drops a record, misreads a status or
    a header, or an agg that miscounts a band diverges the hash."""
    from lakehouse_adventureworks2022_spark.sources.warc import (
        crawl_health_report,
        parse_warc_frame,
    )

    statuses = (200, 200, 200, 200, 200, 301, 404, 503)
    cts = ("text/html; charset=utf-8", "image/jpeg", None)

    def records(doc_id: int, body: bytes) -> list[dict]:
        return [
            {
                "uri": f"http://h{doc_id % 5}.crawl.io/p/{doc_id}",
                "record_id": f"<urn:uuid:hc-{doc_id}>",
                "body": body,
                "status": statuses[doc_id % 8],
                "http_content_type": cts[doc_id % 3],
            }
        ]

    blobs = _warc_blobs(spark, sf_dir, records)
    return crawl_health_report(parse_warc_frame(blobs, "content", path_col=None))


ORACLE_CRAWL_HEALTH = """
    SELECT 'h' || CAST(doc_id % 5 AS VARCHAR) || '.crawl.io' AS host,
           COUNT(*) AS n_responses,
           CAST(0 AS BIGINT) AS n_revisits,
           COUNT(*) FILTER (doc_id % 8 < 5) AS n_2xx,
           COUNT(*) FILTER (doc_id % 8 = 5) AS n_3xx,
           COUNT(*) FILTER (doc_id % 8 = 6) AS n_4xx,
           COUNT(*) FILTER (doc_id % 8 = 7) AS n_5xx,
           COUNT(*) FILTER (doc_id % 3 = 0) AS n_html,
           COUNT(*) FILTER (doc_id % 3 = 1) AS n_non_html,
           COUNT(*) FILTER (doc_id % 3 = 2) AS n_missing_ct,
           CAST(0 AS BIGINT) AS n_encoding_excluded,
           CAST(SUM(octet_length(encode(text))) AS BIGINT)
             AS payload_bytes
    FROM documents
    GROUP BY 1
"""


def q_warc_random_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amortized random-access capture fetch (r13): a persisted WARC
    archive (one ``.warc.gz`` per 16-group of docs + its CDX parquet,
    built ONCE per fixture version — the deployed web-archive shape)
    serves a 2%-of-captures lookup batch: CDX filter →
    :func:`~sources.warc.fetch_by_cdx` byte-range reads →
    fingerprint. The measured path never scans the archive — it reads
    ~N/50 gzip members out of 16 files by seek+read, which is the
    entire point of the index at 100 TB (a re-processing job over a
    classifier's flagged captures touches kilobytes per hit, not the
    crawl). Exact: the oracle recomputes URI + payload md5/len for
    exactly the ``doc_id % 50 = 0`` rows from ``documents`` — a fetch
    that slices the wrong range, drops a hit, or returns a stale
    record diverges the hash."""
    from lakehouse_adventureworks2022_spark.sources.warc import (
        build_warc_codec,
        cdx_records,
        fetch_by_cdx,
        read_warc,
    )

    d = fixture_state_dir(sf_dir, "documents", "warc_archive_")

    def build(base: str) -> None:
        os.makedirs(base)
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            (F.col("doc_id") % 16).cast("int").alias("grp"),
        )
        write = build_warc_codec()["write"]

        def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = pdf.sort_values("doc_id")
            blob = write(
                [
                    {
                        "uri": (
                            "http://archive.example.org/doc/"
                            f"{int(r['doc_id'])}"
                        ),
                        "record_id": f"<urn:uuid:ra-{int(r['doc_id'])}>",
                        "body": str(r["text"]).encode("utf-8"),
                    }
                    for _, r in rows.iterrows()
                ],
                gzip_members=True,
            )
            grp = int(pdf["grp"].iloc[0])
            name = f"part-{grp:05d}.warc.gz"
            # no manifest names this generation yet: a retried task
            # rewrites the whole file, a crashed build is never read
            with open(os.path.join(base, name), "wb") as f:
                f.write(blob)
            return pd.DataFrame({"grp": [grp], "path": [name]})

        n = (
            docs.groupBy("grp")
            .applyInPandas(write_group, schema="grp int, path string")
            .count()
        )
        assert n == 16, f"archive build wrote {n}/16 files"
        cdx_records(
            read_warc(spark, os.path.join(base, "*.warc.gz"))
        ).write.parquet(os.path.join(base, "cdx"))

    archive = commit.gen_path(d, commit.ensure(d, {}, build), "base")
    cdx = spark.read.parquet(os.path.join(archive, "cdx"))
    sel = cdx.filter(
        F.regexp_extract(F.col("url"), r"/doc/([0-9]+)$", 1)
        .cast("long")
        % 50
        == 0
    )
    fetched = fetch_by_cdx(sel, archive)
    return fetched.select(
        "target_uri",
        F.md5(F.col("payload")).alias("payload_md5"),
        F.length(F.col("payload")).alias("payload_bytes"),
    )


ORACLE_WARC_RANDOM_ACCESS = """
    SELECT 'http://archive.example.org/doc/' || CAST(doc_id AS VARCHAR)
             AS target_uri,
           md5(text) AS payload_md5,
           CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes
    FROM documents
    WHERE doc_id % 50 = 0
"""


def q_warc_revisit_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit records + crawler-digest dedup (r12): the documents
    corpus is muxed IN-PLAN into spec-shaped WARC files where every doc
    is a full ``response`` capture and every third doc ALSO gets a
    ``revisit`` record (the identical-payload-digest profile — the
    digest-only duplicate marker real crawls ship instead of storing
    the payload twice). Parsed back through the real record parser,
    then ``sources.warc.dedup_payload_digest`` resolves captures on the
    crawler's own digests: all revisits drop, one response survives per
    digest. Exact: the oracle recomputes digest, keeper URI and capture
    count straight from ``documents`` — a parser that misses a revisit,
    drops the digest header, or picks a different keeper diverges the
    hash. Shape: one 16-key mux agg, then uniform-short-key aggs on the
    digest (payloads never ride a shuffle in the dedup)."""
    from lakehouse_adventureworks2022_spark.sources.warc import (
        dedup_payload_digest,
        parse_warc_frame,
    )

    def doc_records(doc_id: int, body: bytes) -> list[dict]:
        uri = f"http://crawl.example.org/doc/{doc_id}"
        recs = [
            {"uri": uri, "record_id": f"<urn:uuid:doc-{doc_id}>", "body": body}
        ]
        if doc_id % 3 == 0:
            recs.append(
                {"uri": f"{uri}?recrawl",
                 "record_id": f"<urn:uuid:rev-{doc_id}>",
                 "body": body, "revisit": True}
            )
        return recs

    blobs = _warc_blobs(spark, sf_dir, doc_records)
    records = parse_warc_frame(blobs, "content", path_col=None)
    captures = records.filter(
        F.col("warc_type").isin("response", "revisit")
    )
    counts = captures.groupBy("payload_digest").agg(
        F.count(F.lit(1)).alias("n_captures")
    )
    keepers = (
        dedup_payload_digest(records)
        .filter(F.col("warc_type") == "response")
        .select("payload_digest", F.col("target_uri").alias("keeper_uri"))
    )
    return keepers.join(counts, "payload_digest")


ORACLE_WARC_REVISIT_DIGEST = """
    SELECT 'md5:' || md5(text) AS payload_digest,
           MIN('http://crawl.example.org/doc/' || CAST(doc_id AS VARCHAR))
             AS keeper_uri,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END) AS BIGINT)
             AS n_captures
    FROM documents
    GROUP BY md5(text)
"""


def q_wet_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET container ingestion (r12): the documents corpus is muxed
    IN-PLAN into spec-shaped WET files (``conversion`` records whose
    block IS the extracted text — the CommonCrawl ``*.warc.wet.gz``
    layout, per-record gzip members), parsed back through the real
    record parser and projected by ``sources.warc.wet_pages``. Exact:
    the oracle recomputes the planted URI and the text md5/byte-length
    straight from ``documents`` — a parser or projection that drops,
    truncates or mis-decodes any record diverges the hash. One 16-key
    mux agg, no other shuffle."""
    from lakehouse_adventureworks2022_spark.sources.warc import (
        parse_warc_frame,
        wet_pages,
    )

    def records(doc_id: int, body: bytes) -> list[dict]:
        return [
            {
                "uri": f"http://crawl.example.org/doc/{doc_id}",
                "record_id": f"<urn:uuid:wet-{doc_id}>",
                "body": body,
                "conversion": True,
            }
        ]

    blobs = _warc_blobs(spark, sf_dir, records)
    pages = wet_pages(parse_warc_frame(blobs, "content", path_col=None))
    return pages.select(
        "url",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
        F.length(F.encode(F.col("text"), "UTF-8")).alias("text_bytes"),
    )


ORACLE_WET_INGEST = """
    SELECT 'http://crawl.example.org/doc/' || CAST(doc_id AS VARCHAR)
             AS url,
           md5(text) AS text_md5,
           CAST(octet_length(encode(text)) AS INTEGER) AS text_bytes
    FROM documents
"""


def q_robots_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``Sitemap:`` directive discovery from robots.txt (r12): per-doc
    planted robots bodies carry two sitemap directives amid group rules
    and comments — one canonical spelling, one case-variant with messy
    whitespace (the directive is group-independent and key
    case-insensitive per sitemaps.org) — extracted by
    ``textops.robots_sitemaps``. Exact: the oracle recomputes both
    planted URLs per host straight from ``documents``. Zero-shuffle
    split+explode projection."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        robots_sitemaps,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host = F.concat(
        F.lit("h"), (did % 11).cast("string"), F.lit(".example.com")
    )
    sm1 = F.concat(
        F.lit("http://h"),
        (did % 11).cast("string"),
        F.lit(".example.com/sm/"),
        did.cast("string"),
        F.lit(".xml"),
    )
    sm2 = F.concat(
        F.lit("http://mirror.example.net/"),
        (did % 3).cast("string"),
        F.lit(".xml.gz"),
    )
    body = F.concat(
        F.lit("# crawler policy\nUser-agent: *\nDisallow: /tmp\n"
              "Sitemap: "),
        sm1,
        F.lit("\nAllow: /\nsITEMAP:   "),
        sm2,
        F.lit("  \nUser-agent: otherbot\nDisallow: /x\n"),
    )
    robots = docs.select(host.alias("host"), body.alias("robots_txt"))
    return robots_sitemaps(robots)


ORACLE_ROBOTS_SITEMAP_DISCOVERY = """
    SELECT host, sitemap_url FROM (
      SELECT 'h' || CAST(doc_id % 11 AS VARCHAR) || '.example.com'
               AS host,
             'http://h' || CAST(doc_id % 11 AS VARCHAR)
               || '.example.com/sm/' || CAST(doc_id AS VARCHAR)
               || '.xml' AS sitemap_url
      FROM documents
      UNION ALL
      SELECT 'h' || CAST(doc_id % 11 AS VARCHAR) || '.example.com',
             'http://mirror.example.net/' || CAST(doc_id % 3 AS VARCHAR)
               || '.xml.gz'
      FROM documents
    )
"""


def _planted_outlink_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared plant for the outlink/link-graph/pagerank tier: per doc a
    page at ``http://h<id%11>.example.com/p/<id>`` whose HTML carries
    an absolute anchor (entity-encoded query), a single-quoted
    protocol-relative anchor, a root-relative anchor, and three
    DROPPED forms (fragment, javascript:, path-relative) amid tag
    noise."""
    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("http://h"), (did % 11).cast("string"),
        F.lit(".example.com/p/"), did.cast("string"),
    )
    html = F.concat(
        F.lit('<html><body><p>x</p><a href="http://s'),
        (did % 7).cast("string"),
        F.lit('.example.org/x?a=1&amp;b=2">t</a>'),
        F.lit("<a href='//cdn.example.net/"),
        (did % 3).cast("string"),
        F.lit("'>i</a>"),
        F.lit('<a id="k" href="/local/'),
        (did % 5).cast("string"),
        F.lit('">l</a>'),
        F.lit('<a href="#top">f</a><a href="javascript:void(0)">j</a>'
              '<a href="sub/rel.html">r</a></body></html>'),
    )
    return docs.select(url.alias("url"), html.alias("html"))


def q_outlink_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-outlink extraction (r12): planted pages through
    ``textops.extract_outlinks`` — three kept links per doc (absolute
    with mandatory ``&amp;`` decode, protocol-relative gaining the page
    scheme, root-relative gaining scheme+authority), three dropped
    forms. Exact: the oracle recomputes the resolved links straight
    from ``documents``. Zero-shuffle extract+explode projection."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        extract_outlinks,
    )

    return extract_outlinks(_planted_outlink_pages(spark, sf_dir))


ORACLE_OUTLINK_EXTRACT = """
    SELECT url, link FROM (
      SELECT 'http://h' || CAST(doc_id % 11 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
             'http://s' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.org/x?a=1&b=2' AS link
      FROM documents
      UNION ALL
      SELECT 'http://h' || CAST(doc_id % 11 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id AS VARCHAR),
             'http://cdn.example.net/' || CAST(doc_id % 3 AS VARCHAR)
      FROM documents
      UNION ALL
      SELECT 'http://h' || CAST(doc_id % 11 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id AS VARCHAR),
             'http://h' || CAST(doc_id % 11 AS VARCHAR)
               || '.example.com/local/' || CAST(doc_id % 5 AS VARCHAR)
      FROM documents
    )
"""


def q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host link graph (r12): the planted outlinks collapsed to
    ``(src_host, dst_host, n_links)`` — ONE uniform-key aggregation on
    two short strings (the PageRank feedstock). Exact: the oracle
    recomputes the same grouped counts from ``documents``."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        extract_outlinks,
        host_link_graph,
    )

    return host_link_graph(
        extract_outlinks(_planted_outlink_pages(spark, sf_dir))
    )


ORACLE_HOST_LINK_GRAPH = """
    SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
    FROM (
      SELECT 'h' || CAST(doc_id % 11 AS VARCHAR) || '.example.com'
               AS src_host,
             's' || CAST(doc_id % 7 AS VARCHAR) || '.example.org'
               AS dst_host
      FROM documents
      UNION ALL
      SELECT 'h' || CAST(doc_id % 11 AS VARCHAR) || '.example.com',
             'cdn.example.net'
      FROM documents
      UNION ALL
      SELECT 'h' || CAST(doc_id % 11 AS VARCHAR) || '.example.com',
             'h' || CAST(doc_id % 11 AS VARCHAR) || '.example.com'
      FROM documents
    )
    GROUP BY src_host, dst_host
"""


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host PageRank (r12): 5 power iterations over the planted host
    graph (``operators.graph.pagerank`` — per-iteration one join + one
    uniform-key agg, dangling/teleport terms attached by a one-row
    scalar broadcast, lineage truncated per iteration). Rows-only by
    design: an iterative float fixpoint has no SQL twin; the
    math differential (pure-Python reference, rank-sum and ordering
    invariants, dangling handling) lives in tests/test_graph.py."""
    from lakehouse_adventureworks2022_spark.operators.graph import pagerank
    from lakehouse_adventureworks2022_spark.operators.textops import (
        extract_outlinks,
        host_link_graph,
    )

    edges = host_link_graph(
        extract_outlinks(_planted_outlink_pages(spark, sf_dir))
    )
    return pagerank(edges, iterations=5)


def q_host_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-authority enrichment (r13): the consumption side of the
    PageRank prior — a planted ``(node, rank)`` table (hosts
    ``h0..h7.example.com`` ranked ``(k+1)/66``, ``h8..h10`` left
    UNRANKED) broadcast-joined onto per-doc URLs by canonical host via
    ``graph.host_authority``, unranked hosts taking the 0.0 default.
    Exact: the oracle recomputes rank-or-default straight from
    ``documents`` (int/double division — the identical IEEE sequence
    in both engines, no rounding needed). Zero doc-side shuffle: the
    rank side is one row per HOST and explicitly broadcast."""
    from lakehouse_adventureworks2022_spark.operators.graph import (
        host_authority,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("http://h"), (did % 11).cast("string"),
        F.lit(".example.com/p/"), did.cast("string"),
    )
    ranks = spark.range(8).select(
        F.concat(
            F.lit("h"), F.col("id").cast("string"), F.lit(".example.com")
        ).alias("node"),
        ((F.col("id") + 1) / F.lit(66.0)).alias("rank"),
    )
    pages = docs.select(did.alias("doc_id"), url.alias("url"))
    return host_authority(pages, ranks).select("doc_id", "host_authority")


ORACLE_HOST_AUTHORITY = """
    SELECT doc_id,
           CASE WHEN doc_id % 11 < 8
                THEN (doc_id % 11 + 1) / 66.0
                ELSE 0.0 END AS host_authority
    FROM documents
"""


def q_crawl_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness planning chain (r13): planted per-host robots bodies
    (hosts ``h0..h3`` declare ``Crawl-delay: k+2``, ``h4..h6`` none)
    through ``textops.robots_crawl_delay`` →
    ``curation.politeness_shards`` — md5 host shards (every URL of a
    host in ONE shard), declared-or-default delay, deterministic
    per-host fetch sequence and eta. Exact: the oracle recomputes
    shard (the identical md5-hex bucket), delay, seq (ROW_NUMBER over
    the same url string order) and eta straight from ``documents``.
    Shape: the delays side collapses to one row per host and
    broadcasts; the one window is partitioned BY HOST — per-host
    sequential order IS the politeness semantics."""
    from lakehouse_adventureworks2022_spark.operators.curation import (
        politeness_shards,
    )
    from lakehouse_adventureworks2022_spark.operators.textops import (
        robots_crawl_delay,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host = F.concat(
        F.lit("h"), (did % 7).cast("string"), F.lit(".example.com")
    )
    frontier = docs.select(
        F.concat(
            F.lit("http://"), host, F.lit("/p/"), did.cast("string")
        ).alias("url")
    )
    k = F.col("k")
    robots = (
        docs.select((did % 7).alias("k"))
        .distinct()
        .select(
            F.concat(
                F.lit("h"), k.cast("string"), F.lit(".example.com")
            ).alias("host"),
            F.when(
                k < 4,
                F.concat(
                    F.lit("User-agent: *\nCrawl-delay: "),
                    (k + 2).cast("string"),
                    F.lit("\nDisallow: /private/\n"),
                ),
            )
            .otherwise(F.lit("User-agent: *\nDisallow: /private/\n"))
            .alias("robots_txt"),
        )
    )
    return politeness_shards(
        frontier, delays=robots_crawl_delay(robots), num_shards=8
    ).select("url", "host", "shard", "crawl_delay", "fetch_seq", "eta_sec")


ORACLE_CRAWL_POLITENESS = """
    SELECT url, host, shard, crawl_delay, fetch_seq,
           fetch_seq * crawl_delay AS eta_sec
    FROM (
      SELECT 'http://h' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
             CAST(CAST('0x' || substr(md5(
                 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
               ), 1, 8) AS BIGINT) % 8 AS INT) AS shard,
             CASE WHEN doc_id % 7 < 4
                  THEN CAST(doc_id % 7 + 2 AS DOUBLE)
                  ELSE 1.0 END AS crawl_delay,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id % 7
               ORDER BY 'http://h' || CAST(doc_id % 7 AS VARCHAR)
                 || '.example.com/p/' || CAST(doc_id AS VARCHAR)
             ) - 1 AS INT) AS fetch_seq
      FROM documents
    )
"""


def q_frontier_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive-aware frontier pruning (r13): planted frontier entries
    against a planted CDX capture index through
    ``curation.frontier_minus_index`` — four ``doc_id%4`` classes
    (uncaptured → fetch; captured before lastmod → fetch; captured
    after lastmod → skip; captured with no lastmod → skip). Exact: the
    oracle recomputes the surviving class set straight from
    ``documents`` — a key mismatch, a reversed comparison, or the
    wrong unknown-age polarity diverges the hash."""
    from lakehouse_adventureworks2022_spark.operators.curation import (
        frontier_minus_index,
    )
    from lakehouse_adventureworks2022_spark.operators.textops import (
        surt_key_col,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("http://h"), (did % 7).cast("string"),
        F.lit(".refresh.io/p/"), did.cast("string"),
    )
    m4 = did % 4
    frontier = docs.select(
        url.alias("url"),
        F.when(m4 < 3, F.lit("2024-06-15")).alias("lastmod"),
    )
    cdx = (
        docs.filter(m4 != 0)
        .select(
            surt_key_col(url).alias("urlkey"),
            F.when(m4 == 1, F.lit("20240101000000"))
            .otherwise(F.lit("20240615120000"))
            .alias("timestamp"),
        )
    )
    return frontier_minus_index(frontier, cdx).select("url", "lastmod")


ORACLE_FRONTIER_REFRESH = """
    SELECT 'http://h' || CAST(doc_id % 7 AS VARCHAR)
             || '.refresh.io/p/' || CAST(doc_id AS VARCHAR) AS url,
           CASE WHEN doc_id % 4 < 3 THEN '2024-06-15' END AS lastmod
    FROM documents
    WHERE doc_id % 4 IN (0, 1)
"""


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery-tier composite (r12): planted per-doc sitemap bodies
    (four entries each: a fresh page with lastmod, a fragment-spelling
    canonical dup, a robots-blocked path, a stale pre-watermark entry;
    every 10th doc a <sitemapindex>) + planted per-host robots bodies
    through ``curation.build_crawl_frontier`` — watermark filter →
    URL-exact dedup → robots gate, exactly one survivor per doc. Exact:
    the oracle recomputes the surviving frontier straight from
    ``documents`` — a gate that over- or under-blocks, a dedup that
    picks the wrong keeper, or a watermark comparing wrong diverges the
    hash (first oracle-channel evidence for the robots gate, which is
    pytest-only standalone: the planted prefixes make the verdict
    SQL-recomputable without per-row regexes)."""
    from lakehouse_adventureworks2022_spark.operators.curation import (
        build_crawl_frontier,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host = F.concat(
        F.lit("h"), (did % 11).cast("string"), F.lit(".example.com")
    )
    base = F.concat(F.lit("http://"), host)
    body = F.concat(
        F.lit("<url><loc>"), base, F.lit("/p/"), did.cast("string"),
        F.lit("</loc><lastmod>2024-06-15</lastmod></url>"),
        F.lit("<url><loc>"), base, F.lit("/p/"), did.cast("string"),
        F.lit("#dup</loc></url>"),
        F.lit("<url><loc>"), base, F.lit("/blocked/"),
        did.cast("string"), F.lit("</loc></url>"),
        F.lit("<url><loc>"), base, F.lit("/old/"), did.cast("string"),
        F.lit("</loc><lastmod>2023-01-01</lastmod></url>"),
    )
    xml = F.when(
        did % 10 == 0,
        F.concat(
            F.lit("<sitemapindex>"),
            F.regexp_replace(
                F.regexp_replace(body, "<url>", "<sitemap>"),
                "</url>",
                "</sitemap>",
            ),
            F.lit("</sitemapindex>"),
        ),
    ).otherwise(F.concat(F.lit("<urlset>"), body, F.lit("</urlset>")))
    sitemaps = docs.select(
        F.concat(base, F.lit("/sitemap.xml")).alias("sitemap_url"),
        xml.alias("sitemap_xml"),
    )
    robots = (
        docs.select((did % 11).cast("string").alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("k"), F.lit(".example.com")).alias(
                "host"
            ),
            F.lit("User-agent: *\nDisallow: /blocked/\n").alias(
                "robots_txt"
            ),
        )
    )
    return build_crawl_frontier(robots, sitemaps, watermark="2024-01-01")


ORACLE_CRAWL_FRONTIER = """
    SELECT 'http://h' || CAST(doc_id % 11 AS VARCHAR)
             || '.example.com/sitemap.xml' AS sitemap_url,
           'http://h' || CAST(doc_id % 11 AS VARCHAR)
             || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
           '2024-06-15' AS lastmod,
           doc_id % 10 = 0 AS is_index
    FROM documents
"""


def q_cdx_urlkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT url keys (r12): planted capture URLs with every noise class
    the canonicalizer folds (host case, default :80 port, unsorted
    params, a tracking param, a fragment) through
    ``textops.surt_key_col`` — the CDX-index sort key (host labels
    reversed so one domain's captures sort adjacent). Exact: the oracle
    recomputes the SURT strings straight from ``documents``.
    Zero-shuffle projection (canonical form staged once)."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        canonicalize_url_col,
        surt_key_col,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("HTTP://WWW"), (did % 5).cast("string"),
        F.lit(".Sub"), (did % 7).cast("string"),
        F.lit(".Example.COM:80/P/"), did.cast("string"),
        F.lit("?b=2&utm_source=x&a="), (did % 3).cast("string"),
        F.lit("#frag"),
    )
    staged = docs.select(
        did.alias("doc_id"), canonicalize_url_col(url).alias("__canon__")
    )
    return staged.select(
        "doc_id",
        surt_key_col(F.col("__canon__"), canonical=True).alias("urlkey"),
    )


ORACLE_CDX_URLKEY = """
    SELECT doc_id,
           'com,example,sub' || CAST(doc_id % 7 AS VARCHAR)
             || ',www' || CAST(doc_id % 5 AS VARCHAR)
             || ')/P/' || CAST(doc_id AS VARCHAR)
             || '?a=' || CAST(doc_id % 3 AS VARCHAR) || '&b=2' AS urlkey
    FROM documents
"""


def q_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion (r11): spec-shaped sitemap XML is planted
    IN-PLAN per doc (every 10th doc gets a ``<sitemapindex>`` instead
    of a ``<urlset>``; locs carry insignificant whitespace and the
    mandatory ``&amp;`` query escaping), extracted + entity-decoded by
    ``textops.sitemap_urls``, two frontier rows per doc out. Exact:
    the oracle recomputes the planted URLs directly from ``documents``.
    One zero-shuffle extract+explode projection."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        sitemap_urls,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    loc1 = F.concat(
        F.lit("http://s"),
        (did % 7).cast("string"),
        F.lit(".Example.com/p/"),
        did.cast("string"),
        F.lit("?a=1&amp;b="),
        (did % 5).cast("string"),
    )
    loc2 = F.concat(
        F.lit("http://mirror.example.net/"), (did % 3).cast("string")
    )
    body = F.concat(
        F.lit("<url><loc>\n  "), loc1, F.lit("\n </loc></url>"),
        F.lit("<url><loc>"), loc2, F.lit("</loc></url>"),
    )
    xml = F.when(
        did % 10 == 0,
        F.concat(
            F.lit('<sitemapindex xmlns="http://www.sitemaps.org/'
                  'schemas/sitemap/0.9">'),
            F.regexp_replace(
                F.regexp_replace(body, "<url>", "<sitemap>"),
                "</url>",
                "</sitemap>",
            ),
            F.lit("</sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/'
                  'sitemap/0.9">'),
            body,
            F.lit("</urlset>"),
        )
    )
    planted = docs.select(did.alias("site_id"), xml.alias("sitemap_xml"))
    return sitemap_urls(planted)


ORACLE_SITEMAP_EXTRACT = """
    SELECT site_id, url, is_index FROM (
      SELECT doc_id AS site_id,
             'http://s' || CAST(doc_id % 7 AS VARCHAR)
               || '.Example.com/p/' || CAST(doc_id AS VARCHAR)
               || '?a=1&b=' || CAST(doc_id % 5 AS VARCHAR) AS url,
             doc_id % 10 = 0 AS is_index
      FROM documents
      UNION ALL
      SELECT doc_id,
             'http://mirror.example.net/' || CAST(doc_id % 3 AS VARCHAR),
             doc_id % 10 = 0
      FROM documents
    )
"""


def q_sitemap_lastmod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ``<lastmod>`` extraction (r12): the planted XML now
    carries the protocol's optional per-entry ``<lastmod>`` (with
    insignificant whitespace) on the FIRST entry of each document and
    omits it on the second — ``textops.sitemap_entries`` must pair each
    ``<loc>`` with its OWN entry's lastmod (a global extract would
    misalign) and surface NULL where absent. This is what makes
    re-crawling incremental: fetch only entries newer than the ingest
    watermark. Exact: the oracle recomputes URL + lastmod straight from
    ``documents``. One zero-shuffle extract+explode projection."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        sitemap_entries,
    )

    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    loc1 = F.concat(
        F.lit("http://s"),
        (did % 7).cast("string"),
        F.lit(".Example.com/p/"),
        did.cast("string"),
        F.lit("?a=1&amp;b="),
        (did % 5).cast("string"),
    )
    lm = F.concat(
        F.lit("2024-"),
        F.lpad((did % 12 + 1).cast("string"), 2, "0"),
        F.lit("-15"),
    )
    loc2 = F.concat(
        F.lit("http://mirror.example.net/"), (did % 3).cast("string")
    )
    body = F.concat(
        F.lit("<url><loc>\n  "), loc1, F.lit("\n </loc><lastmod> "),
        lm, F.lit(" </lastmod></url>"),
        F.lit("<url><loc>"), loc2, F.lit("</loc></url>"),
    )
    xml = F.when(
        did % 10 == 0,
        F.concat(
            F.lit('<sitemapindex xmlns="http://www.sitemaps.org/'
                  'schemas/sitemap/0.9">'),
            F.regexp_replace(
                F.regexp_replace(body, "<url>", "<sitemap>"),
                "</url>",
                "</sitemap>",
            ),
            F.lit("</sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/'
                  'sitemap/0.9">'),
            body,
            F.lit("</urlset>"),
        )
    )
    planted = docs.select(did.alias("site_id"), xml.alias("sitemap_xml"))
    return sitemap_entries(planted)


ORACLE_SITEMAP_LASTMOD = """
    SELECT site_id, url, lastmod, is_index FROM (
      SELECT doc_id AS site_id,
             'http://s' || CAST(doc_id % 7 AS VARCHAR)
               || '.Example.com/p/' || CAST(doc_id AS VARCHAR)
               || '?a=1&b=' || CAST(doc_id % 5 AS VARCHAR) AS url,
             '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
               || '-15' AS lastmod,
             doc_id % 10 = 0 AS is_index
      FROM documents
      UNION ALL
      SELECT doc_id,
             'http://mirror.example.net/' || CAST(doc_id % 3 AS VARCHAR),
             CAST(NULL AS VARCHAR),
             doc_id % 10 = 0
      FROM documents
    )
"""


def q_web_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full raw-crawl pipeline over the adversarially wrapped
    corpus: WET extraction → PII scrub → within-doc de-boilerplate →
    C4-style corpus-wide boilerplate strip (min_docs=50 — the planted
    wrapper chrome appears in EVERY doc and must vanish before dedup
    measures content) → quality gate + exact/near dedup → deterministic
    split. Rows-only by design (MinHash-LSH near-dup stage — same
    reason as clean_corpus); identity and cross-HTML-boundary dedup
    differentials in tests/test_web_corpus.py."""
    from lakehouse_adventureworks2022_spark.operators.curation import (
        prepare_web_corpus,
    )

    docs = read_table(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        "source",
        "lang",
        F.concat(
            F.lit(HTML_WRAP_PRE),
            F.col("source"),
            F.lit(HTML_WRAP_MID),
            F.col("text"),
            F.lit(HTML_WRAP_POST),
        ).alias("html"),
    )
    return prepare_web_corpus(wrapped, boilerplate_min_docs=50)


def q_corpus_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-100 corpus vocabulary
    (textops.zipf_fit): one scalar diagnostic row. Exact swept twin —
    regr aggregates exist verbatim in both engines; outputs
    display-rounded 6dp per the cross-engine float policy (regr sums
    associate differently at ~1e-12)."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        zipf_fit,
    )

    return zipf_fit(read_table(spark, sf_dir, "documents"))


ORACLE_CORPUS_ZIPF = r"""
    WITH tok AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+'),
               x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS term_freq FROM tok GROUP BY 1),
    ranked AS (
      SELECT term_freq,
             ROW_NUMBER() OVER (ORDER BY term_freq DESC, term ASC) AS rank
      FROM tf
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(regr_slope(ln(term_freq), ln(rank)), 6) AS slope,
           ROUND(regr_intercept(ln(term_freq), ln(rank)), 6) AS intercept,
           ROUND(regr_r2(ln(term_freq), ln(rank)), 6) AS r2
    FROM ranked WHERE rank <= 100
"""


def q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (textops.readability): words /
    sentence-runs / vowel-group syllable proxy, all from LITERALLY the
    same regexes in both engines. The flesch expression is written in
    the identical operation order on both sides, so the doubles are
    bit-identical before the 2dp display round. Exact swept twin."""
    from lakehouse_adventureworks2022_spark.operators.textops import (
        readability,
    )

    return readability(read_table(spark, sf_dir, "documents"))


ORACLE_DOC_READABILITY = r"""
    WITH c AS (
      SELECT doc_id,
             CAST(len(list_filter(
               regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f]+'),
               x -> x <> '')) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           -- floor-based 2dp round with DOUBLE-cast literals: DECIMAL
           -- literal arithmetic and DuckDB's ROUND(double) both diverge
           -- from Spark at half-epsilon boundaries; floor(x*100+0.5)
           -- is the identical IEEE sequence both engines run
           CASE WHEN n_words > 0 THEN
             floor((CAST(206.835 AS DOUBLE)
                    - CAST(1.015 AS DOUBLE) * (n_words / n_sentences)
                    - CAST(84.6 AS DOUBLE) * (n_syllables / n_words))
                   * 100 + 0.5) / 100
           END AS flesch
    FROM c
"""
