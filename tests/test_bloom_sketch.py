"""Application-level Bloom sketch (operators/bloom.py) and the
bloom-gated exact-vs-history stage of incremental_dedup.

Invariants under test:
- no false negatives, ever (the property the gate's exactness rests on);
- empirical FPR within a small factor of the textbook bound;
- OR-merge is the exact sketch union (bitmap-identical to a one-shot
  build over the union — deterministic double hashing);
- the gated incremental_dedup output is row-identical to the ungated
  path, including under PLANTED false positives (a deliberately
  saturated bloom) and under a dup-heavy batch that overflows the
  In()-pushdown list into the broadcast-semi fallback;
- the plan actually changes: candidate hashes appear as a pushed In()
  filter on the state scan, and an all-new batch never references the
  state table at all.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators import bloom as B
from lakehouse_adventureworks2022_spark.operators.dedup import (
    content_hash_col,
    incremental_dedup,
    incremental_dedup_gate_stage,
    release_cached_inputs,
)
from lakehouse_adventureworks2022_spark.sources.readers import read_table
from lakehouse_adventureworks2022_spark.storage import commit
from lakehouse_adventureworks2022_spark.streaming import corpus
from lakehouse_adventureworks2022_spark.streaming.corpus import (
    ensure_dedup_bloom,
    ensure_dedup_state,
)

SF = "/root/testdata/sf0.001"


def _md5s(prefix: str, n: int) -> list[str]:
    return [hashlib.md5(f"{prefix}-{i}".encode()).hexdigest() for i in range(n)]


def _hash_df(spark, keys: list[str]):
    return spark.createDataFrame(
        [(k,) for k in keys], "content_hash string"
    )


def test_no_false_negatives(spark):
    keys = _md5s("member", 2000)
    n_bits, n_hashes = B.bloom_params(2000, fpr=0.01)
    bf = B.bloom_build(_hash_df(spark, keys), "content_hash", n_bits, n_hashes)
    got = (
        B.contains_col(_hash_df(spark, keys), "content_hash", bf, "hit")
        .agg(F.sum(F.col("hit").cast("int")))
        .head()[0]
    )
    assert got == 2000  # every inserted key answers "maybe"


def test_fpr_within_bound(spark):
    keys = _md5s("member", 2000)
    held_out = _md5s("absent", 10000)
    n_bits, n_hashes = B.bloom_params(2000, fpr=0.01)
    bf = B.bloom_build(_hash_df(spark, keys), "content_hash", n_bits, n_hashes)
    hits = (
        B.contains_col(_hash_df(spark, held_out), "content_hash", bf, "hit")
        .agg(F.sum(F.col("hit").cast("int")))
        .head()[0]
    )
    # deterministic given md5 inputs; 3x headroom over the sizing target
    assert hits / 10000 <= 0.03


def test_merge_equals_union_build(spark):
    a, b = _md5s("left", 500), _md5s("right", 500)
    n_bits, n_hashes = B.bloom_params(1000, fpr=0.01)
    bf_a = B.bloom_build(_hash_df(spark, a), "content_hash", n_bits, n_hashes)
    bf_b = B.bloom_build(_hash_df(spark, b), "content_hash", n_bits, n_hashes)
    union = B.bloom_build(
        _hash_df(spark, a + b), "content_hash", n_bits, n_hashes
    )
    assert B.bloom_or(bf_a, bf_b).bits == union.bits


def test_oversize_sizing_refused():
    # ~890M keys at 1% fits; 10B does not — must refuse loudly with
    # deployment guidance, never OOM a merge task silently
    B.bloom_params(800_000_000, fpr=0.01)
    with pytest.raises(ValueError, match="MAX_BLOOM_BITS"):
        B.bloom_params(10_000_000_000, fpr=0.01)


def test_param_mismatch_refused(spark):
    bf_a = B.bloom_build(_hash_df(spark, _md5s("x", 10)), "content_hash", 1024, 3)
    bf_b = B.bloom_build(_hash_df(spark, _md5s("x", 10)), "content_hash", 2048, 3)
    with pytest.raises(ValueError):
        B.bloom_or(bf_a, bf_b)


def test_roundtrip_save_load_absorb(spark, tmp_path):
    path = str(tmp_path / "bloom.bin")
    keys = _md5s("seed", 300)
    n_bits, n_hashes = B.bloom_params(1200, fpr=0.01)
    bf = B.bloom_build(_hash_df(spark, keys), "content_hash", n_bits, n_hashes)
    assert B.BloomFilter.from_bytes(bf.to_bytes()) == bf
    assert B.load_bloom(path) is None
    B.save_bloom(path, bf)
    assert B.load_bloom(path) == bf
    B.save_bloom(path, bf)  # idempotent replay
    assert B.load_bloom(path) == bf

    extra = _md5s("extra", 300)
    batch = B.bloom_build(_hash_df(spark, extra), "content_hash", n_bits, n_hashes)
    B.save_bloom(path, B.bloom_or(B.load_bloom(path), batch))
    grown = B.load_bloom(path)
    hits = (
        B.contains_col(_hash_df(spark, extra), "content_hash", grown, "hit")
        .agg(F.sum(F.col("hit").cast("int")))
        .head()[0]
    )
    assert hits == 300  # invariant: bloom covers everything appended
    # fill monotone, fpr monitor sane
    assert 0 < B.fill_ratio(bf) < B.fill_ratio(grown) < 1
    assert 0 < B.estimated_fpr(grown) < 1


def test_empty_build_contains_nothing(spark):
    empty = _hash_df(spark, []).filter("content_hash IS NOT NULL")
    bf = B.bloom_build(empty, "content_hash", 1024, 3)
    assert B.fill_ratio(bf) == 0.0
    probe = B.contains_col(
        _hash_df(spark, _md5s("p", 50)), "content_hash", bf, "hit"
    )
    assert probe.filter("hit").count() == 0


def _split_docs(spark):
    docs = read_table(spark, SF, "documents")
    return docs.filter("doc_id % 10 != 0"), docs.filter("doc_id % 10 == 0")


def _state(spark, tmp_path):
    hist, batch = _split_docs(spark)
    state = str(tmp_path / "dstate")
    hashes, sigs = ensure_dedup_state(hist, state)
    return state, hashes, sigs, batch


def _rows(df):
    out = sorted(map(tuple, df.select("doc_id").collect()))
    release_cached_inputs(df)
    return out


@pytest.mark.slow
def test_gated_equals_ungated(spark, tmp_path):
    state, hashes, sigs, batch = _state(spark, tmp_path)
    bf = ensure_dedup_bloom(spark, state)
    want = _rows(incremental_dedup(batch, hashes, sigs))
    got = _rows(incremental_dedup(batch, hashes, sigs, bloom=bf))
    assert got == want


def test_planted_false_positives_still_exact(spark, tmp_path):
    """A deliberately saturated 64-bit / 1-probe bloom answers 'maybe'
    for nearly everything — the gate must degrade to extra confirms,
    never to wrong output."""
    state, hashes, sigs, batch = _state(spark, tmp_path)
    bf = B.bloom_build(hashes, "content_hash", 64, 1)
    assert B.estimated_fpr(bf) > 0.5  # saturation is the point
    want = _rows(incremental_dedup(batch, hashes, sigs))
    got = _rows(incremental_dedup(batch, hashes, sigs, bloom=bf))
    assert got == want


def test_overflow_falls_back_to_broadcast_semi(spark, tmp_path):
    state, hashes, sigs, batch = _state(spark, tmp_path)
    bf = B.bloom_build(hashes, "content_hash", 64, 1)  # ~everything maybe
    want = _rows(incremental_dedup(batch, hashes, sigs))
    got = _rows(
        incremental_dedup(batch, hashes, sigs, bloom=bf, max_pushdown_hashes=1)
    )
    assert got == want


def test_all_new_batch_never_scans_state(spark, tmp_path):
    """Every batch hash is definite-new ⇒ stage 1 is the identity and
    the state table does not appear in the result's plan at all."""
    state, hashes, sigs, _ = _state(spark, tmp_path)
    # fpr 1e-9 so no deterministic false positive can exist among the
    # 40 probe hashes (the default 1% sizing would leave a ~30% chance
    # of a PERMANENT planted FP in this fixed-md5 test)
    n_bits, n_hashes = B.bloom_params(hashes.count(), fpr=1e-9)
    bf = B.bloom_build(hashes, "content_hash", n_bits, n_hashes)
    fresh_batch = _hash_df(spark, _md5s("nowhere", 40)).select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.concat(F.lit("unique payload "), "content_hash").alias("text"),
    )
    out = incremental_dedup(fresh_batch, hashes, sigs, bloom=bf)
    # the vs-history gate runs at build time behind the r13 checkpoint;
    # stage-1 plan evidence comes from the explicit lazy builder (r14 —
    # replaces the ad-hoc _gate_stage attribute, r13 ADVICE)
    gate = incremental_dedup_gate_stage(fresh_batch, hashes, sigs, bloom=bf)
    plan = gate._jdf.queryExecution().executedPlan().toString()
    # the state hashes table is the only parquet scan of content_hash
    # (plan Location strings truncate long state paths)
    assert "ReadSchema: struct<content_hash:string>" not in plan
    assert out.count() == 40
    release_cached_inputs(out)


def test_candidates_push_in_filter_into_state_scan(spark, tmp_path):
    """Planted dups: the maybe-dup hash list must reach the state scan
    as a pushed In() filter (row-group pruning), not a full scan."""
    state, hashes, sigs, batch = _state(spark, tmp_path)
    bf = ensure_dedup_bloom(spark, state)
    hist, _ = _split_docs(spark)
    # a batch of three EXACT copies of historical docs + one new doc
    copies = hist.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    newdoc = _hash_df(spark, _md5s("newdoc", 1)).select(
        F.lit(9_999_999).cast("long").alias("doc_id"),
        F.concat(F.lit("fresh payload "), "content_hash").alias("text"),
    )
    planted = copies.selectExpr("doc_id", "text").unionByName(newdoc)
    out = incremental_dedup(planted, hashes, sigs, bloom=bf)
    # stage-1 plan evidence from the explicit lazy builder (r14)
    gate = incremental_dedup_gate_stage(planted, hashes, sigs, bloom=bf)
    plan = gate._jdf.queryExecution().executedPlan().toString()
    assert "In(content_hash" in plan or "content_hash IN" in plan
    assert "ReadSchema: struct<content_hash:string>" in plan  # the state scan
    got = {r[0] for r in out.select("doc_id").collect()}
    release_cached_inputs(out)
    assert got == {9_999_999}  # copies dropped, new doc survives


def test_content_hash_matches_python_md5(spark):
    """The sketch keys are the engine-wide content hash — pin the
    md5-hex contract _key_halves relies on (32 hex chars)."""
    row = (
        spark.range(1)
        .select(F.lit("  Some   TEXT  ").alias("text"))
        .select(content_hash_col("text").alias("h"))
        .head()
    )
    assert row[0] == hashlib.md5(b"some text").hexdigest()
    assert len(row[0]) == 32


def test_crash_during_state_append_keeps_state_and_bloom_together(
    spark, tmp_path, monkeypatch
):
    """State tables and bloom commit in ONE manifest swap: an append
    that dies mid-write leaves both exactly as committed (no ordering
    between them to get wrong), and the replay of the same tag grows
    both — the bloom then covers every committed hash. Each attempt
    appends what the ingest loop accepts against the CURRENT state, so
    a replay after the commit (which accepts nothing new) must leave
    the committed rows alone."""
    from pyspark.sql.readwriter import DataFrameWriter

    state, hashes, sigs, batch = _state(spark, tmp_path)
    before_bloom = ensure_dedup_bloom(spark, state)  # gate present
    before_hashes = hashes.count()

    def append_accepted():
        hashes, sigs = corpus.load_dedup_state(spark, state)
        bf = corpus.load_dedup_bloom(state)
        accepted = incremental_dedup(batch, hashes, sigs, bloom=bf)
        n_new = accepted.select(content_hash_col("text")).distinct().count()
        corpus.append_dedup_state(accepted, state, batch_tag="b1")
        release_cached_inputs(accepted)
        return n_new

    real_parquet = DataFrameWriter.parquet

    def crash(self, path, *a, **kw):
        if path.startswith(state) and path.endswith("sigs"):
            raise OSError("simulated crash during state append")
        return real_parquet(self, path, *a, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", crash)
        with pytest.raises(OSError, match="simulated crash"):
            append_accepted()

    hashes, _ = corpus.load_dedup_state(spark, state)
    assert hashes.count() == before_hashes
    assert corpus.load_dedup_bloom(state) == before_bloom

    n_new = append_accepted()  # the replay
    assert n_new > 0
    append_accepted()  # replayed again, after the commit
    hashes, _ = corpus.load_dedup_state(spark, state)
    assert hashes.count() == before_hashes + n_new
    bf = corpus.load_dedup_bloom(state)
    hits = (
        B.contains_col(hashes, "content_hash", bf, "hit")
        .agg(F.sum(F.col("hit").cast("int")))
        .head()[0]
    )
    assert bf.n_bits == before_bloom.n_bits and hits == hashes.count()


def test_ensure_bloom_sizing_floor(spark, tmp_path):
    """A bloom seeded from a tiny state must still be sized for real
    ingest (r10 ADVICE: count×headroom over an almost-empty table gave
    a toy bitmap that saturated after one batch and never resized)."""
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        BLOOM_MIN_ITEMS,
    )

    state = str(tmp_path / "tinystate")
    tiny = spark.createDataFrame(
        [(1, "only doc in history")], "doc_id long, text string"
    )
    ensure_dedup_state(tiny, state)
    bf = ensure_dedup_bloom(spark, state)
    floor_bits, _ = B.bloom_params(BLOOM_MIN_ITEMS, fpr=0.01)
    assert bf.n_bits >= floor_bits
    assert B.estimated_fpr(bf) < 1e-6  # nowhere near saturation


def test_ensure_bloom_rebuilds_when_saturated(spark, tmp_path):
    """A saturated persisted bloom (fpr > 4× target) must be re-sized
    from the grown hash table instead of returned as-is — the
    degraded-but-correct → re-train posture."""
    state, hashes, sigs, _ = _state(spark, tmp_path)
    toy = B.bloom_build(hashes, "content_hash", 64, 1)
    manifest = commit.committed(state)
    gen = commit.gen_path(state, manifest)
    commit.publish(state, {**manifest, **corpus._with_bloom(gen, manifest["files"], toy)})
    assert B.estimated_fpr(toy) > 0.04  # 4× the 1% target
    bf = ensure_dedup_bloom(spark, state)
    assert bf.n_bits > toy.n_bits
    assert B.estimated_fpr(bf) < 0.04
    assert corpus.load_dedup_bloom(state) == bf  # rebuild persisted
    # and every historical hash still answers maybe (no false negatives
    # across the rebuild)
    n_hist = hashes.count()
    hits = (
        B.contains_col(hashes, "content_hash", bf, "hit")
        .agg(F.sum(F.col("hit").cast("int")))
        .head()[0]
    )
    assert hits == n_hist


# ---- property tests (hypothesis) --------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def sparkref(spark):
    return spark


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_members=st.integers(min_value=1, max_value=400),
    salt=st.integers(min_value=0, max_value=10_000),
    fpr=st.sampled_from([0.3, 0.05, 0.01]),
)
def test_property_no_false_negatives_and_merge_is_union(
    sparkref, n_members, salt, fpr
):
    """For ANY member set / sizing: every inserted key answers maybe,
    and building over a split then OR-ing equals one build over the
    union bit-for-bit (deterministic double hashing)."""
    spark = sparkref
    keys = _md5s(f"prop-{salt}", n_members)
    n_bits, n_hashes = B.bloom_params(n_members, fpr=fpr)
    whole = B.bloom_build(_hash_df(spark, keys), "content_hash", n_bits, n_hashes)
    hits = (
        B.contains_col(_hash_df(spark, keys), "content_hash", whole, "hit")
        .agg(F.sum(F.col("hit").cast("int")))
        .head()[0]
    )
    assert hits == n_members
    cut = n_members // 2
    left = B.bloom_build(
        _hash_df(spark, keys[:cut]), "content_hash", n_bits, n_hashes
    )
    right = B.bloom_build(
        _hash_df(spark, keys[cut:]), "content_hash", n_bits, n_hashes
    )
    assert B.bloom_or(left, right).bits == whole.bits
