"""Persisted vector indexes (operators/vector_index.py): the manifest is
the only commit marker and committed dirs are never rewritten in place,
so a crash never wedges an index, and an index dir opened with other
build params fails loudly instead of serving an index built with other
settings."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators import similarity, vector_index
from lakehouse_adventureworks2022_spark.operators.vector_index import (
    append_index,
    ensure_index,
    load_index,
)
from lakehouse_adventureworks2022_spark.sources.readers import read_table
from lakehouse_adventureworks2022_spark.storage import commit


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "coarse,codec,one_shot",
    [
        ("none", "sq8", "cosine_topk_sq8"),
        ("ivf", "sq8", "cosine_topk_ivf_sq8"),
    ],
    ids=["sq8", "ivf_sq8"],
)
def test_crash_before_manifest_rebuilds_instead_of_wedging(
    spark, sf_dir, tmp_path, monkeypatch, coarse, codec, one_shot
):
    """A first build that dies after writing its rows but before the
    manifest leaves no commit: the next call rebuilds over the partial
    dir and returns the one-shot result instead of raising."""
    q, c = similarity.embedding_queries(spark, sf_dir)
    idx = str(tmp_path / "idx")

    def crash(*_):
        raise OSError("simulated crash before the manifest write")

    with monkeypatch.context() as mp:
        mp.setattr(commit, "publish", crash)
        with pytest.raises(OSError, match="simulated crash"):
            ensure_index(c, idx, coarse, codec)
    with pytest.raises(FileNotFoundError):
        load_index(spark, idx)

    index = ensure_index(c, idx, coarse, codec)
    got = _rows(similarity.search_index(index, q, k=10, candidates=c))
    assert got == _rows(getattr(similarity, one_shot)(q, c, k=10))


@pytest.mark.parametrize(
    "coarse,codec,built,asked",
    [
        ("ivf", "raw", {"n_cells": 16}, {"n_cells": 8}),
        ("none", "pq", {"m": 16}, {"m": 8}),
    ],
    ids=["ivf_n_cells", "pq_m"],
)
def test_changed_build_params_raise_naming_dir_and_both_sets(
    spark, sf_dir, tmp_path, coarse, codec, built, asked
):
    _, c = similarity.embedding_queries(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ensure_index(c, idx, coarse, codec, **built)
    ensure_index(c, idx, coarse, codec, **built)  # same params: reopens
    (key, old), new = next(iter(built.items())), asked[next(iter(asked))]
    with pytest.raises(ValueError) as err:
        ensure_index(c, idx, coarse, codec, **asked)
    msg = str(err.value)
    assert idx in msg
    assert f"{key}={old!r}" in msg and f"{key}={new!r}" in msg


def test_chunk_index_append_checks_the_build_recipe(spark, sf_dir, tmp_path):
    """The chunk index's manifest records chunk_tokens/overlap_tokens/
    dim: an append with another chunking (another cand_id packing and
    vector space) raises instead of silently mixing them."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        chunk_index_append,
        chunk_index_ensure,
    )

    docs = read_table(spark, sf_dir, "documents").limit(40)
    idx = str(tmp_path / "chunk_idx")
    n0 = chunk_index_ensure(docs, idx).data.count()
    new_docs = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    with pytest.raises(ValueError, match="chunk_tokens") as err:
        chunk_index_append(new_docs, idx, chunk_tokens=32, batch_tag="b")
    assert idx in str(err.value)
    with pytest.raises(ValueError, match="dim"):
        chunk_index_ensure(docs, idx, dim=32)
    assert load_index(spark, idx).data.count() == n0  # nothing appended
    chunk_index_append(new_docs, idx, batch_tag="b")  # matching recipe
    assert load_index(spark, idx).data.count() > n0


def test_append_without_index_and_retrain_of_codes_fail_loudly(
    spark, sf_dir, tmp_path
):
    _, c = similarity.embedding_queries(spark, sf_dir)
    with pytest.raises(FileNotFoundError, match="no committed index"):
        append_index(c, str(tmp_path / "missing"), batch_tag="b")
    idx = str(tmp_path / "sq8")
    ensure_index(c, idx, "ivf", "sq8")
    with pytest.raises(ValueError, match="raw vectors"):
        vector_index.retrain_index(spark, idx)


def test_crash_during_replay_of_a_committed_tag_keeps_the_index(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Replaying a committed append tag never touches the committed
    rows: an attempt that dies mid-write (leaving only the writer's
    ``_temporary``) leaves the index opening with the committed batch —
    here its only append — and the next replay commits and deletes the
    superseded dir."""
    _, c = similarity.embedding_queries(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ensure_index(c.filter("vec_id % 2 = 0"), idx, "ivf", "raw")
    batch = c.filter("vec_id % 2 = 1")
    append_index(batch, idx, batch_tag="b1")
    committed = _rows(load_index(spark, idx).data.select("cand_id", "cell"))

    def manifest():
        with open(os.path.join(idx, "manifest.json")) as f:
            return json.load(f)

    appends = os.path.join(idx, "gen-00001", "appends")
    first = manifest()["appends"]["b1"]

    def crash(rows, path, n_files):
        # what an overwrite-mode writer killed mid-job leaves behind
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.join(path, "_temporary"))
        raise OSError("simulated crash mid-write")

    with monkeypatch.context() as mp:
        mp.setattr(vector_index, "_write_rows", crash)
        with pytest.raises(OSError, match="simulated crash"):
            append_index(batch, idx, batch_tag="b1")
    assert manifest()["appends"] == {"b1": first}
    assert _rows(load_index(spark, idx).data.select("cand_id", "cell")) == committed

    append_index(batch, idx, batch_tag="b1")  # the replay after the crash
    replayed = manifest()["appends"]["b1"]
    assert replayed != first and not os.path.exists(os.path.join(appends, first))
    assert _rows(load_index(spark, idx).data.select("cand_id", "cell")) == committed


def test_manifest_in_another_format_is_rebuilt(spark, sf_dir, tmp_path):
    """A manifest written in another FORMAT counts as missing: load and
    append refuse it, ensure rebuilds into a new generation and deletes
    the old one — never a ValueError for a layout change."""
    _, c = similarity.embedding_queries(spark, sf_dir)
    idx = str(tmp_path / "idx")
    built = _rows(ensure_index(c, idx, "none", "raw").data)
    manifest = commit.read_manifest(idx)
    commit.replace_file(
        os.path.join(idx, commit.MANIFEST), json.dumps({**manifest, "format": 99})
    )
    with pytest.raises(FileNotFoundError, match="no committed index"):
        load_index(spark, idx)
    assert _rows(ensure_index(c, idx, "none", "raw").data) == built
    assert sorted(os.listdir(idx)) == ["gen-00002", "manifest.json"]
