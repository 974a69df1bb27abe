"""bench.py robustness contract (round-4 lesson: one broken query
aborted the run and erased the round's bench evidence — the JSON line
must ALWAYS be emitted, with failures recorded).

Round-11 line contract: the driver keeps only the TAIL of the printed
line, so the line must stay ~200 bytes (totals + counts + a sidecar
pointer); per-query medians/errors live in the sidecar. Every test here
redirects the sidecar to pytest's tmp dir so a test run can never
overwrite driver bench evidence (r10 verdict #2).
"""

from __future__ import annotations

import json

import bench


class _NoStop:
    """Session proxy whose stop() is a no-op, so bench.main() cannot
    tear down the shared test session."""

    def __init__(self, spark):
        self._spark = spark

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def stop(self):
        pass


def _quiet(monkeypatch, reading=(0.0, 0.0)):
    """Stub the wait-for-quiet gate: it sleeps until host CPU steal
    drops, which would make these tests' wall time follow the host."""
    monkeypatch.setattr(bench, "_wait_for_quiet", lambda *a, **k: reading)


def _run(
    spark, monkeypatch, capsys, tmp_path, queries, headline, reps, quiet=(0.0, 0.0)
):
    _quiet(monkeypatch, quiet)
    monkeypatch.setattr(bench, "QUERIES", queries)
    monkeypatch.setattr(bench, "HEADLINE", headline)
    monkeypatch.setattr(
        bench, "get_spark", lambda name, **kw: _NoStop(spark)
    )
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", str(reps))
    # harness tests must not purge the REAL /tmp amortized state of the
    # default sf_dir (the purge contract has its own focused test below)
    monkeypatch.setenv("SPARK_GRAFT_PURGE_AMORTIZED", "0")
    detail = tmp_path / "detail.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail))
    bench.main()
    line = capsys.readouterr().out.strip().splitlines()[-1]
    return line, json.loads(line), json.loads(detail.read_text())


def test_bench_emits_compact_line_and_full_sidecar(
    spark, monkeypatch, capsys, tmp_path
):
    def ok(s, sf_dir):
        return spark.range(5)

    def boom(s, sf_dir):
        raise RuntimeError("kaboom: simulated plan failure\nplan dump line 2")

    line, d, side = _run(
        spark, monkeypatch, capsys, tmp_path,
        {"top_products": ok, "boom": boom}, ["top_products", "boom"], 2,
    )
    assert d["unit"] == "sec" and d["reps"] == 2
    assert d["n_queries"] == 1 and d["n_errors"] == 1
    assert d["value"] > 0
    # the LINE stays compact: no per-query maps ride along (they broke
    # the driver's parser for three rounds), only the sidecar pointer
    assert "queries" not in d and "errors" not in d
    assert d["detail"] == str(tmp_path / "detail.json")
    # the SIDECAR carries everything
    assert side["queries"]["top_products"] > 0
    assert "boom" not in side["queries"]
    # exception class + FIRST line only (plan dumps stay out)
    assert side["errors"]["boom"].startswith("RuntimeError: kaboom")
    assert "line 2" not in side["errors"]["boom"]
    assert d["value"] == side["queries"]["top_products"]
    assert side["query_stats"]["top_products"]["med"] > 0


def test_bench_line_fits_driver_tail_window(
    spark, monkeypatch, capsys, tmp_path
):
    """The driver's artifact keeps ~a few hundred trailing bytes of the
    line; with 200 queries the line must STILL parse from a 1 KiB tail
    (it should be far under that — the medians map is sidecar-only)."""

    def ok(s, sf_dir):
        return spark.range(1)

    names = [f"q_{i:03d}" for i in range(200)]
    line, d, side = _run(
        spark, monkeypatch, capsys, tmp_path,
        dict.fromkeys(names, ok) | {"top_products": ok},
        names, 1,
    )
    assert d["n_queries"] == 200 and len(side["queries"]) == 200
    assert len(line.encode()) < 1024, (
        f"bench line is {len(line)} bytes — it will truncate in the "
        f"driver artifact again (BENCH_r08-r10 'parsed': null)"
    )


def test_bench_purges_amortized_state_and_records_reps(
    spark, monkeypatch, capsys, tmp_path
):
    """r14 (verdict ask #6): with the default-on purge, the bench
    removes THIS fixture version's persisted amortized-state dirs at
    run start (so first reps pay the one-time builds and totals are
    reproducible on a warm machine), records what it purged in the
    sidecar, and keeps raw per-rep times so the build/lookup split is
    visible."""
    import os

    from lakehouse_adventureworks2022_spark.plans import text_queries as tq

    sf_dir = tmp_path / "sf0.5"
    sf_dir.mkdir()
    (sf_dir / "documents.parquet").write_bytes(b"x")
    (sf_dir / "embeddings.parquet").write_bytes(b"y")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(sf_dir))
    fake_state = [
        tq.fixture_state_dir(str(sf_dir), "embeddings", "pq_index_"),
        tq.fixture_state_dir(str(sf_dir), "documents", "dedup_state_"),
        tq.fixture_state_dir(str(sf_dir), "documents", "warc_archive_"),
        tq.fixture_state_dir(
            str(sf_dir), "documents", "bm25_index_", tq.BM25_INDEX_RECIPE
        ),
    ]
    for d in fake_state:
        os.makedirs(d, exist_ok=True)

    def ok(s, _sf):
        return spark.range(3)

    monkeypatch.setattr(bench, "QUERIES", {"top_products": ok})
    monkeypatch.setattr(bench, "HEADLINE", ["top_products"])
    monkeypatch.setattr(bench, "get_spark", lambda name, **kw: _NoStop(spark))
    _quiet(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "2")
    monkeypatch.delenv("SPARK_GRAFT_PURGE_AMORTIZED", raising=False)
    detail = tmp_path / "detail.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail))
    bench.main()
    capsys.readouterr()
    side = json.loads(detail.read_text())
    assert side["amortized_purge"]["enabled"] is True
    assert set(fake_state) <= set(side["amortized_purge"]["purged_dirs"])
    for d in fake_state:
        assert not os.path.exists(d)
    # raw per-rep wall times ride in order beside the median — one entry
    # per ATTEMPT (steal-dirty reps re-run up to reps+extra times, and
    # their attempts are recorded too)
    assert 2 <= len(side["query_stats"]["top_products"]["reps_sec"]) <= 4


def test_amortized_state_dirs_keep_their_fingerprint_paths(sf_dir):
    """Every amortized-state family resolves to the same path as the
    per-family helpers it replaced: md5 of ``sf_dir|size|mtime_ns`` plus
    the family's recipe suffix, first 12 hex chars, under the temp dir.
    A changed path would orphan the persisted state on a warm machine
    and leave it behind the bench purge."""
    import hashlib
    import os
    import tempfile

    from lakehouse_adventureworks2022_spark.plans import text_queries as tq

    def old(table, prefix, suffix=""):
        st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
        key = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}{suffix}"
        tag = hashlib.md5(key.encode()).hexdigest()[:12]
        return os.path.join(tempfile.gettempdir(), f"{prefix}{tag}")

    assert [tq.fixture_state_dir(sf_dir, *fam) for fam in tq.AMORTIZED_STATE] == [
        old("embeddings", "ivf_index_"),
        old("embeddings", "pq_index_"),
        old("embeddings", "sq8_index_"),
        old("embeddings", "ivf_sq8_index_"),
        old("embeddings", "ivf_sq8_ingest_"),
        old("documents", "rag_index_", "|ivf-auto-v2"),
        old("documents", "rag_ingest_index_", "|ivf-auto-v2"),
        old("documents", "dedup_state_"),
        old("documents", "mp4_corpus_", "|mjpeg-4f-v1"),
        old("documents", "warc_archive_"),
        old("documents", "bm25_index_", "|chunk-64-8-v1"),
    ]


def test_bench_survives_broken_warmup(spark, monkeypatch, capsys, tmp_path):
    def boom(s, sf_dir):
        raise RuntimeError("warm-up broken")

    line, d, side = _run(
        spark, monkeypatch, capsys, tmp_path,
        {"top_products": boom}, ["top_products"], 1,
    )
    assert d["value"] == 0 and d["n_errors"] == 1
    assert "top_products" in side["errors"]


def test_bench_default_sidecar_is_per_run_stamped(monkeypatch):
    """Without $SPARK_GRAFT_BENCH_DETAIL the default path embeds a UTC
    stamp, so two runs (or a pytest run after a driver run) write two
    files — driver evidence is never clobbered (r10 verdict #2)."""
    import re

    monkeypatch.delenv("SPARK_GRAFT_BENCH_DETAIL", raising=False)
    # replicate bench.main()'s default-path expression without running it
    import time
    from pathlib import Path

    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    p = Path(bench.__file__).resolve().parent / f"BENCH_detail.{stamp}.json"
    assert re.fullmatch(r"BENCH_detail\.\d{8}T\d{6}\.json", p.name)
    # and the stamped pattern is gitignored (repo hygiene)
    gitignore = (Path(bench.__file__).parent / ".gitignore").read_text()
    assert "BENCH_detail.*.json" in gitignore


def test_bench_compare_follows_detail_pointer(tmp_path):
    """bench_compare.load() must resolve a compact line's medians via
    the sidecar pointer — a format mismatch that compared zero queries
    has bitten before (r6 verdict #3)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(bench.__file__).parent))
    from tools.bench_compare import load

    side = tmp_path / "side.json"
    side.write_text(json.dumps({
        "queries": {"a": 1.0, "b": 2.0}, "errors": {},
        "steal": {"run_pct": 0.1},
    }))
    line = tmp_path / "line.json"
    line.write_text(json.dumps({
        "metric": "headline_queries_total_runtime", "value": 3.0,
        "unit": "sec", "n_queries": 2, "detail": str(side),
    }))
    obj = load(str(line))
    assert obj["queries"] == {"a": 1.0, "b": 2.0}
    assert obj["value"] == 3.0 and obj["steal"]["run_pct"] == 0.1
    # driver-wrapped form ({parsed: <line>}) resolves identically
    wrapped = tmp_path / "wrapped.json"
    wrapped.write_text(json.dumps({"n": 10, "rc": 0, "parsed": json.loads(
        line.read_text()
    )}))
    assert load(str(wrapped))["queries"] == {"a": 1.0, "b": 2.0}


def test_frozen_per_query_baseline_covers_headline_set():
    """BASELINE_QUERIES.json (the r5-frozen per-query 2x budget) must
    track the headline set: a renamed/removed bench query would silently
    lose its baseline without this guard. New queries are allowed (they
    get a baseline at the next deliberate re-freeze)."""
    import json
    from pathlib import Path

    import bench

    frozen = json.loads(
        (Path(bench.__file__).parent / "BASELINE_QUERIES.json").read_text()
    )
    assert frozen["sf"] == 0.1 and frozen["queries"]
    orphaned = set(frozen["queries"]) - set(bench.HEADLINE)
    assert not orphaned, (
        f"baselined queries no longer in bench.HEADLINE: {sorted(orphaned)} "
        f"— rename the baseline keys or record why they were dropped"
    )


def test_bench_retry_pass_adjudicates_all_dirty(
    spark, monkeypatch, capsys, tmp_path
):
    """r12 verdict ask #1: a query whose reps were ALL steal-dirty
    re-runs serialized after a re-quiet wait; the sidecar records BOTH
    readings (pre_retry_med + retry block) and the reported median
    moves to the clean retry — the phantom >2× flag clears itself."""

    def ok(s, sf_dir):
        return spark.range(3)

    calls = {"n": 0}
    real_run_once = bench._run_once

    def fake_run_once(sp, sf_dir, name):
        # execute the real query (keeps the end-to-end path honest) but
        # fabricate the steal telemetry: first 5 attempts land in a
        # simulated steal wave, later ones in a quiet window
        elapsed, _ = real_run_once(sp, sf_dir, name)
        calls["n"] += 1
        return (2.0, 50.0) if calls["n"] <= 5 else (0.5, 0.0)

    monkeypatch.setattr(bench, "_run_once", fake_run_once)
    line, d, side = _run(
        spark, monkeypatch, capsys, tmp_path, {"q": ok}, ["q"], 3,
    )
    st = side["query_stats"]["q"]
    assert st["retry"]["reason"] == "all_dirty"
    assert st["retry"]["med"] == 0.5 and st["retry"]["dirty"] == 0
    assert st["pre_retry_med"] == 2.0
    # the reported median moved to the clean retry reading
    assert side["queries"]["q"] == 0.5 and d["value"] == 0.5
    assert d["retried"] == 1


def test_bench_retry_keeps_original_when_retry_also_dirty(
    spark, monkeypatch, capsys, tmp_path
):
    """A retry whose window is ALSO stolen must not move the reading —
    both readings stay on the record, adjudication deferred."""

    def ok(s, sf_dir):
        return spark.range(3)

    real_run_once = bench._run_once

    def always_dirty(sp, sf_dir, name):
        real_run_once(sp, sf_dir, name)
        return (2.0, 50.0)

    monkeypatch.setattr(bench, "_run_once", always_dirty)
    line, d, side = _run(
        spark, monkeypatch, capsys, tmp_path, {"q": ok}, ["q"], 2,
        quiet=(0.0, 99.0),
    )
    st = side["query_stats"]["q"]
    assert st["retry"]["reason"] == "all_dirty" and st["retry"]["dirty"] > 0
    assert "pre_retry_med" not in st  # reading did NOT move
    assert side["queries"]["q"] == 2.0
    assert d["retried"] == 1
