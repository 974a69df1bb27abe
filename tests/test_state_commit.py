"""Crash safety of the one commit protocol (storage/commit.py) for
every family of persisted state: folded sketches, the dedup state with
its bloom, and fixed-path tables. Each test leaves the exact on-disk
residue a crash at that point leaves (or raises inside the write), then
drives the normal code path over it: the previous committed state stays
readable, the next call returns what a clean build returns, a replayed
committed batch is neither lost nor double-counted, and state that
cannot be rebuilt refuses a manifest in another format."""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from lakehouse_adventureworks2022_spark.sources.readers import read_table
from lakehouse_adventureworks2022_spark.storage import commit
from lakehouse_adventureworks2022_spark.storage.tables import TableManager
from lakehouse_adventureworks2022_spark.streaming.frequent import (
    apply_frequent_batch,
    frequent_values,
)

SF = "/root/testdata/sf0.001"


def _weights(spark, state_dir):
    return {
        r["value"]: r["weight"]
        for r in frequent_values(spark, state_dir, k=100).collect()
    }


def _exact(events):
    return Counter(r["event_type"] for r in events.select("event_type").collect())


def _crash(*_):
    raise OSError("simulated crash before the manifest swap")


# ---- folded sketch state --------------------------------------------


def test_meta_commits_inside_state_dir(spark, tmp_path):
    """State and applied-batch ids must be ONE durable object: the ids,
    ``n_total`` and the size param live in the manifest that commits
    the state's generation, and no other meta file exists whose truth
    could diverge from it."""
    events = read_table(spark, SF, "events")
    state_dir = str(tmp_path / "state")
    apply_frequent_batch(events, 0, state_dir, "event_type", m=64)
    assert sorted(os.listdir(state_dir)) == ["gen-00001", "manifest.json"]
    manifest = commit.read_manifest(state_dir)
    assert manifest["applied"] == [0]
    assert manifest["n_total"] == events.count()
    assert manifest["params"] == {"m": 64}
    base = commit.gen_path(state_dir, manifest, "base")
    assert {f.name for f in spark.read.parquet(base).schema.fields} == {
        "value",
        "weight",
    }


def test_crash_before_manifest_swap_keeps_previous_fold(
    spark, tmp_path, monkeypatch
):
    """Batch 1 dies after writing its merged state but before the
    manifest swap: the committed state is batch 0's, batch 1's id is
    not recorded, and its replay merges it exactly once."""
    events = read_table(spark, SF, "events")
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)
    state_dir = str(tmp_path / "state")
    apply_frequent_batch(half_a, 0, state_dir, "event_type", m=64)
    committed = _weights(spark, state_dir)

    with monkeypatch.context() as mp:
        mp.setattr(commit, "publish", _crash)
        with pytest.raises(OSError, match="simulated crash"):
            apply_frequent_batch(half_b, 1, state_dir, "event_type", m=64)
    assert os.path.isdir(f"{state_dir}/gen-00002")  # the crashed attempt
    assert _weights(spark, state_dir) == committed
    assert commit.read_manifest(state_dir)["applied"] == [0]

    apply_frequent_batch(half_b, 1, state_dir, "event_type", m=64)  # replay
    # m=64 >> distinct event types ⇒ MG weights are exact
    assert _weights(spark, state_dir) == dict(_exact(events))
    # the replay rewrote the crashed attempt's dir and swept batch 0's
    assert sorted(os.listdir(state_dir)) == ["gen-00002", "manifest.json"]


def test_crash_after_commit_skips_replay(spark, tmp_path):
    """Residue of a crash AFTER the manifest swap but BEFORE the sweep:
    the new generation is committed WITH the batch id, the superseded
    one lingers. The replayed batch must be skipped (its id is in the
    committed manifest) and the lingering generation never read; the
    next batch's swap deletes it."""
    events = read_table(spark, SF, "events")
    state_dir = str(tmp_path / "state")
    apply_frequent_batch(events, 0, state_dir, "event_type", m=64)
    committed = _weights(spark, state_dir)
    n_total = commit.read_manifest(state_dir)["n_total"]

    # simulate: the previous generation still sits beside the new one
    shutil.copytree(f"{state_dir}/gen-00001", f"{state_dir}/gen-00000")
    Path(f"{state_dir}/gen-00000/base/part-junk.parquet").write_bytes(b"xx")

    apply_frequent_batch(events, 0, state_dir, "event_type", m=64)  # replay
    assert _weights(spark, state_dir) == committed
    manifest = commit.read_manifest(state_dir)
    assert manifest["applied"] == [0] and manifest["n_total"] == n_total

    apply_frequent_batch(events.limit(5), 1, state_dir, "event_type", m=64)
    assert sorted(os.listdir(state_dir)) == ["gen-00002", "manifest.json"]


def test_orphan_staging_is_harmless(spark, tmp_path):
    """A crash in the FIRST batch leaves only a partial generation dir
    and no manifest; the next batch builds over it and the committed
    lineage is exactly the applied batches."""
    events = read_table(spark, SF, "events")
    state_dir = str(tmp_path / "state")
    os.makedirs(f"{state_dir}/gen-00001/base")
    Path(f"{state_dir}/gen-00001/base/part-junk.parquet").write_bytes(b"xx")
    apply_frequent_batch(events, 0, state_dir, "event_type", m=64)
    assert _weights(spark, state_dir) == dict(_exact(events))


def test_fold_in_another_format_or_unreadable_raises(spark, tmp_path):
    """A fold cannot be rebuilt: a manifest written in another format
    (or corrupt) must fail every reader and writer loudly, never
    restart the sketch empty."""
    events = read_table(spark, SF, "events")
    state_dir = str(tmp_path / "state")
    apply_frequent_batch(events, 0, state_dir, "event_type", m=64)
    path = os.path.join(state_dir, commit.MANIFEST)
    manifest = commit.read_manifest(state_dir)
    commit.replace_file(path, json.dumps({**manifest, "format": 99}))
    with pytest.raises(ValueError, match="cannot be rebuilt"):
        apply_frequent_batch(events, 1, state_dir, "event_type", m=64)
    with pytest.raises(ValueError, match="cannot be rebuilt"):
        frequent_values(spark, state_dir)
    commit.replace_file(path, "{not json")
    with pytest.raises(ValueError):
        apply_frequent_batch(events, 1, state_dir, "event_type", m=64)


# ---- dedup state + bloom ---------------------------------------------


def test_dedup_state_crash_between_hashes_and_sigs_rebuilds(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The first incremental_dedup call dies writing the sigs table,
    after the hashes table landed. The state is uncommitted, so the
    next call rebuilds it and returns exactly a clean build's rows —
    never a state with hashes but no sigs."""
    from lakehouse_adventureworks2022_spark.plans import text_queries as tq

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def state_under(root):
        monkeypatch.setattr(
            tq,
            "fixture_state_dir",
            lambda sf, table, prefix, recipe=None: str(root / prefix),
        )

    state_under(tmp_path / "crashed")
    real_parquet = DataFrameWriter.parquet

    def crash(self, path, *a, **kw):
        if str(path).endswith("sigs"):
            raise OSError("simulated crash writing sigs")
        return real_parquet(self, path, *a, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", crash)
        with pytest.raises(OSError, match="simulated crash"):
            tq.q_incremental_dedup(spark, sf_dir)
    got = rows(tq.q_incremental_dedup(spark, sf_dir))
    assert got == rows(tq.q_incremental_dedup(spark, sf_dir))  # warm reuse

    state_under(tmp_path / "clean")
    assert got == rows(tq.q_incremental_dedup(spark, sf_dir))


def test_dedup_state_in_another_format_raises(spark, tmp_path):
    """Appended dedup batches cannot be rebuilt from the seed corpus: a
    manifest in another format that holds appends makes ensure raise
    (never a silent rebuild that forgets them), and appends refuse it."""
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        append_dedup_state,
        ensure_dedup_state,
    )

    docs = read_table(spark, SF, "documents")
    state = str(tmp_path / "dstate")
    ensure_dedup_state(docs.filter("doc_id % 2 = 0"), state)
    append_dedup_state(docs.filter("doc_id % 2 = 1"), state, batch_tag="b0")
    manifest = commit.read_manifest(state)
    commit.replace_file(
        os.path.join(state, commit.MANIFEST), json.dumps({**manifest, "format": 99})
    )
    with pytest.raises(ValueError, match="cannot be rebuilt"):
        ensure_dedup_state(docs.filter("doc_id % 2 = 0"), state)
    with pytest.raises(ValueError, match="cannot be rebuilt"):
        append_dedup_state(docs.limit(3), state, batch_tag="b1")


def test_fold_in_pre_manifest_layout_raises(spark, tmp_path):
    """A sketch dir written before the manifest protocol (``summary/``
    holding the state and its ``_meta.json``) has no manifest, but it is
    not empty: folding or reading it must raise, never restart the
    sketch at ``n_total=0`` with no applied ids."""
    events = read_table(spark, SF, "events")
    state_dir = str(tmp_path / "state")
    summary = os.path.join(state_dir, "summary")
    spark.createDataFrame([("click", 5)], "value string, weight long").write.parquet(
        summary
    )
    Path(summary, "_meta.json").write_text(
        json.dumps({"applied": [0], "n_total": 5, "m": 64})
    )
    with pytest.raises(ValueError, match="pre-manifest layout"):
        apply_frequent_batch(events, 1, state_dir, "event_type", m=64)
    with pytest.raises(ValueError, match="pre-manifest layout"):
        frequent_values(spark, state_dir)
    assert sorted(os.listdir(state_dir)) == ["summary"]


def test_dedup_state_in_pre_manifest_layout_is_adopted(spark, tmp_path):
    """A dedup state written before the manifest protocol (``hashes/``
    and ``sigs/`` holding the seed AND appended batches, ``bloom.bin``)
    is adopted into the first generation — never reseeded from the
    corpus, which would forget the appended batches. A seed that never
    finished (no ``sigs/_SUCCESS``) holds no batches and is rebuilt."""
    from lakehouse_adventureworks2022_spark.operators import bloom, dedup
    from lakehouse_adventureworks2022_spark.streaming.corpus import (
        ensure_dedup_state,
        load_dedup_bloom,
    )

    docs = read_table(spark, SF, "documents")
    hist, arrived = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    state = str(tmp_path / "legacy")
    for frame in (hist, arrived):  # the seed, then one appended batch
        hashes, sigs = dedup.dedup_state(frame, "text")
        hashes.write.mode("append").parquet(f"{state}/hashes")
        sigs.write.mode("append").parquet(f"{state}/sigs")
    planted = spark.read.parquet(f"{state}/hashes")
    bf = bloom.bloom_build(planted, "content_hash", 1 << 12, 3)
    bloom.save_bloom(f"{state}/bloom.bin", bf)

    hashes, sigs = ensure_dedup_state(hist, state)
    assert sorted(map(tuple, hashes.collect())) == sorted(
        map(tuple, planted.collect())
    )
    assert sigs.count() == spark.read.parquet(f"{state}/sigs").count()
    assert load_dedup_bloom(state) == bf

    wedged = str(tmp_path / "wedged")
    dedup.dedup_state(hist, "text")[0].write.parquet(f"{wedged}/hashes")
    os.makedirs(f"{wedged}/sigs/_temporary")  # the crash left no sigs
    hashes, sigs = ensure_dedup_state(hist, wedged)
    seed_hashes, seed_sigs = dedup.dedup_state(hist, "text")
    assert hashes.count() == seed_hashes.count()
    assert sigs.count() == seed_sigs.count()


# ---- fixed-path tables (directory swap) ------------------------------


def _fact(spark, n, p):
    return spark.range(n).select(
        F.col("id"), (F.col("id") % 3 + p).cast("int").alias("p")
    )


def test_crash_between_renames_restores_old_state(spark, tmp_path, monkeypatch):
    """Crash AFTER rename(live → trash) but BEFORE rename(staging →
    live) inside TableManager.overwrite: the table dir is missing and
    its last committed data sits in the trash sibling. The next
    replace_where must see the 15-row table (restored), not an absent
    one it would recreate from its 1-row batch."""
    tm = TableManager(spark, str(tmp_path / "wh"))
    tm.overwrite(_fact(spark, 15, 0), "fact", partition_by="p")
    calls = []

    def rename_then_die(src, dst):
        calls.append((src, dst))
        if len(calls) == 2:
            raise OSError("simulated crash between the renames")
        return real_replace(src, dst)

    real_replace = os.replace
    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", rename_then_die)
        mp.setattr(os, "rename", rename_then_die)
        with pytest.raises(OSError, match="simulated crash"):
            tm.overwrite(_fact(spark, 20, 0), "fact", partition_by="p")
    assert not os.path.exists(tm.path("fact"))  # the crash window

    tm.replace_where(_fact(spark, 1, 9), "fact", partition_by="p")
    assert tm.read("fact").count() == 16
    assert sorted(os.listdir(tmp_path / "wh")) == ["._staging_fact", "fact"]


def test_swap_leftovers_are_cleared(spark, tmp_path):
    """Crash after rename(staging → live) but before the trash delete,
    and a staging orphan of a crash before any rename: the live table
    is what readers see, the stale trash is dropped on the next read,
    and the next overwrite replaces the orphan."""
    tm = TableManager(spark, str(tmp_path / "wh"))
    tm.overwrite(_fact(spark, 15, 0), "fact", partition_by="p")
    live = tm.path("fact")
    shutil.copytree(live, str(tmp_path / "wh" / "._trash_fact"))
    shutil.copytree(live, str(tmp_path / "wh" / "._staging_fact"))
    Path(tmp_path / "wh" / "._staging_fact" / "part-junk.parquet").write_bytes(b"x")
    assert tm.read("fact").count() == 15
    assert not os.path.exists(tmp_path / "wh" / "._trash_fact")
    tm.overwrite(_fact(spark, 4, 0), "fact", partition_by="p")
    assert tm.read("fact").count() == 4
    assert sorted(os.listdir(tmp_path / "wh")) == ["fact"]
