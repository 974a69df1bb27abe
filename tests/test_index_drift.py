"""Ingest-drift monitor for grown IVF-family indexes
(monitoring.ivf_ingest_drift / ivf_retrain_trigger): replicates the
SCALE.md recall-sweep scenario at fixture scale — iid appends must sit
under the trigger, a drifted append stream must fire it."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators import similarity
from lakehouse_adventureworks2022_spark.operators.monitoring import (
    ivf_ingest_drift,
    ivf_retrain_trigger,
)
from lakehouse_adventureworks2022_spark.operators.vector_index import (
    append_index,
    ensure_index,
    load_index,
)
from lakehouse_adventureworks2022_spark.storage import commit

SF = "/root/testdata/sf0.001"


def _emb(spark):
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    return read_table(spark, SF, "embeddings").select("vec_id", "embedding")


def _drifted(df):
    v = F.col("embedding")
    shifted = F.transform(
        v, lambda x, i: F.when(i == 0, x + F.lit(0.9)).otherwise(x)
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(shifted, lambda x: x * x),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    return df.withColumn(
        "embedding", F.transform(shifted, lambda x: x / norm)
    )


def _base_index(spark, emb, tmp_path, name):
    idx = str(tmp_path / name)
    ensure_index(emb.filter(F.col("vec_id") % 2 == 0), idx)
    return idx


def test_no_appends_reads_zero_drift(spark, tmp_path):
    idx = _base_index(spark, _emb(spark), tmp_path, "idx0")
    row = ivf_retrain_trigger(ivf_ingest_drift(spark, idx)).collect()[0]
    assert row["total_variation"] == 0.0
    assert row["n_appended"] == 0
    assert not row["retrain"]


def test_iid_appends_stay_under_trigger(spark, tmp_path):
    emb = _emb(spark)
    idx = _base_index(spark, emb, tmp_path, "idx_iid")
    append_index(emb.filter(F.col("vec_id") % 2 == 1), idx, batch_tag="b1")
    drift = ivf_ingest_drift(spark, idx)
    row = ivf_retrain_trigger(drift).collect()[0]
    assert row["n_appended"] > 0
    # iid appends follow the base distribution: TV is sampling noise
    assert row["total_variation"] < 0.25
    assert not row["retrain"]


def test_drifted_appends_fire_the_trigger(spark, tmp_path):
    emb = _emb(spark)
    idx = _base_index(spark, emb, tmp_path, "idx_drift")
    append_index(
        _drifted(emb.filter(F.col("vec_id") % 2 == 1)), idx, batch_tag="b1"
    )
    drift = ivf_ingest_drift(spark, idx)
    row = ivf_retrain_trigger(drift).collect()[0]
    # shifted mass piles into few cells: TV separates cleanly from iid
    assert row["total_variation"] > 0.25
    assert row["retrain"]
    # the per-cell view surfaces the overloaded cell(s)
    worst = drift.orderBy(F.desc(F.abs(F.col("share_delta")))).first()
    assert worst["share_appended"] > worst["share_base"]


def test_trigger_only_counts_committed_batches(spark, tmp_path, monkeypatch):
    """A crash-mid-append (batch rows written, manifest not yet
    swapped) must stay invisible to the monitor, same contract as the
    search path."""
    import glob

    emb = _emb(spark)
    idx = _base_index(spark, emb, tmp_path, "idx_crash")

    def crash(*_):
        raise OSError("simulated crash before the manifest swap")

    monkeypatch.setattr(commit, "publish", crash)
    with pytest.raises(OSError, match="simulated crash"):
        append_index(
            _drifted(emb.filter(F.col("vec_id") % 2 == 1)), idx, batch_tag="b1"
        )
    assert glob.glob(f"{idx}/gen-00001/appends/b1-*")  # rows did land
    row = ivf_retrain_trigger(ivf_ingest_drift(spark, idx)).collect()[0]
    assert row["n_appended"] == 0 and not row["retrain"]


@pytest.mark.slow
def test_codes_variant_for_sq8_indexes(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "sq8_idx")
    ensure_index(emb, idx, "ivf", "sq8")
    newv = emb.select((F.col("vec_id") + 500_000).alias("vec_id"), "embedding")
    append_index(newv, idx, batch_tag="b1")
    # the manifest knows the kind: no table/layout argument
    row = ivf_retrain_trigger(ivf_ingest_drift(spark, idx)).collect()[0]
    assert row["n_appended"] > 0
    # identical vectors re-keyed: the appended distribution IS the base
    assert row["total_variation"] < 0.05
    assert not row["retrain"]


# ---- maintenance composite wiring (r11) --------------------------------


def _recall_at_k(spark, queries, corpus, idx, k=5, n_probe=2):
    """Mean overlap@k of the persisted index's probe search vs exact
    brute force over the CURRENT population."""
    exact = similarity.cosine_topk(queries, corpus, k=k)
    approx = similarity.search_index(
        load_index(spark, idx), queries, k=k, n_probe=n_probe
    )
    hit = exact.join(approx, ["query_id", "cand_id"], "left_semi")
    n_q = queries.count()
    return hit.count() / float(k * n_q)


def _grown_corpus(spark, idx):
    return load_index(spark, idx).data.select(
        F.col("cand_id").alias("vec_id"), "embedding"
    )


def _centroids(spark, idx):
    return {
        (cell, tuple(row))
        for cell, row in enumerate(load_index(spark, idx).centroids.tolist())
    }


@pytest.mark.slow
def test_maintenance_retrains_drifted_not_iid(spark, tmp_path):
    """The verdict's Done criterion: on the maintenance cadence a
    DRIFTED ingest-grown index is re-trained (fresh centroids), an iid
    one is only re-clustered (centroids untouched), and search recall
    after maintenance is >= before on both."""
    from lakehouse_adventureworks2022_spark.storage.maintenance import (
        IndexMaintenancePlan,
        run_index_maintenance,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)

    idx_iid = _base_index(spark, emb, tmp_path, "m_iid")
    append_index(batch, idx_iid, batch_tag="b1")
    idx_drift = _base_index(spark, emb, tmp_path, "m_drift")
    drifted = _drifted(batch)
    append_index(drifted, idx_drift, batch_tag="b1")

    # queries from the drifted region — where frozen centroids hurt
    q_drift = drifted.limit(8).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding"
    )
    q_iid = batch.limit(8).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding"
    )
    pre_iid = _recall_at_k(spark, q_iid, _grown_corpus(spark, idx_iid), idx_iid)
    pre_drift = _recall_at_k(
        spark, q_drift, _grown_corpus(spark, idx_drift), idx_drift
    )

    centroids_before = _centroids(spark, idx_drift)
    iid_centroids_before = _centroids(spark, idx_iid)

    report = run_index_maintenance(
        spark,
        [IndexMaintenancePlan(idx_iid), IndexMaintenancePlan(idx_drift)],
    )
    assert report[idx_drift]["action"] == "retrain"
    assert report[idx_iid]["action"] == "recluster"
    assert report[idx_drift]["total_variation"] > 0.25
    assert report[idx_iid]["total_variation"] < 0.25

    # recluster must NOT move centroids; retrain must
    assert _centroids(spark, idx_iid) == iid_centroids_before
    assert _centroids(spark, idx_drift) != centroids_before

    # append batches folded into a new base generation on both paths
    import os

    for idx in (idx_iid, idx_drift):
        assert load_index(spark, idx).appended is None
        assert not os.path.isdir(f"{idx}/gen-00001")  # old gen deleted

    # same population before/after (retrain/recluster never drop rows)
    assert _grown_corpus(spark, idx_drift).count() == emb.count()
    assert _grown_corpus(spark, idx_iid).count() == emb.count()

    post_iid = _recall_at_k(spark, q_iid, _grown_corpus(spark, idx_iid), idx_iid)
    post_drift = _recall_at_k(
        spark, q_drift, _grown_corpus(spark, idx_drift), idx_drift
    )
    assert post_iid >= pre_iid
    assert post_drift >= pre_drift

    # idempotent second pass: nothing left to do
    report2 = run_index_maintenance(spark, [IndexMaintenancePlan(idx_drift)])
    assert report2[idx_drift]["action"] == "none"
