"""Kept writes: ``TableManager.overwrite`` and ``replace_where`` commit a
write key with the table (``storage/tables.py``) and skip a write whose
key and table files both match that record — and only such a write."""

from __future__ import annotations

import logging
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark import pipeline
from lakehouse_adventureworks2022_spark.storage import commit, tables
from lakehouse_adventureworks2022_spark.storage.tables import WRITE_KEY, TableManager

WRITES = ("overwrite", "replace_where")


def _jobs_launched(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted under a job group
    of its own once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"test-write-key-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write(spark, tm, write, df, name="t") -> int:
    if write == "overwrite":
        return _jobs_launched(spark, lambda: tm.overwrite(df, name))
    return _jobs_launched(spark, lambda: tm.replace_where(df, name, "g"))


def _frame(spark, path, lit=1, alias="x"):
    return (
        spark.read.parquet(str(path))
        .withColumn(alias, F.lit(lit))
        .withColumn("day", F.current_date())
    )


def _rows(tm, name="t", cols=("k", "g", "x")):
    return sorted(tuple(r) for r in tm.read(name).select(*cols).collect())


def _kept(caplog) -> list[str]:
    return [
        r.getMessage()
        for r in caplog.records
        if r.name == tables.log.name and r.levelno == logging.INFO
    ]


@pytest.fixture
def src(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3], "g": ["a", "b", "a"]}), d / "t.parquet")
    return d


@pytest.fixture
def tm(spark, tmp_path):
    return TableManager(spark, str(tmp_path / "wh"))


# ---- kept --------------------------------------------------------------


@pytest.mark.parametrize("write", WRITES)
def test_repeat_of_unchanged_write_is_kept(spark, tm, src, tmp_path, write, caplog):
    caplog.set_level(logging.INFO, logger=tables.log.name)
    assert _write(spark, tm, write, _frame(spark, src / "t.parquet")) >= 1
    assert _kept(caplog) == []
    files = tables.data_files(tm.path("t"))
    key = commit.read_json(os.path.join(tm.path("t"), WRITE_KEY))["key"]
    assert files

    assert _write(spark, tm, write, _frame(spark, src / "t.parquet")) == 0
    assert tables.data_files(tm.path("t")) == files
    assert _kept(caplog) == [f"kept t: inputs unchanged (write key {key[:12]})"]

    # a hard-linked copy of the source is the same input
    copy = tmp_path / "copy"
    copy.mkdir()
    os.link(src / "t.parquet", copy / "t.parquet")
    assert _write(spark, tm, write, _frame(spark, copy / "t.parquet")) == 0
    assert tables.data_files(tm.path("t")) == files
    assert _rows(tm) == [(1, "a", 1), (2, "b", 1), (3, "a", 1)]


# ---- written again -----------------------------------------------------


@pytest.mark.parametrize("write", WRITES)
def test_source_rewritten_in_place_is_written_again(spark, tm, src, write):
    path = src / "t.parquet"
    _write(spark, tm, write, _frame(spark, path))
    inode = os.stat(path).st_ino
    pq.write_table(pa.table({"k": [1, 2, 3, 4], "g": ["a", "b", "a", "b"]}), path)
    assert os.stat(path).st_ino == inode
    assert _write(spark, tm, write, _frame(spark, path)) >= 1
    assert [r[0] for r in _rows(tm)] == [1, 2, 3, 4]


@pytest.mark.parametrize("write", WRITES)
def test_directory_source_gaining_or_losing_a_file_is_written_again(
    spark, tm, tmp_path, write
):
    d = tmp_path / "dir"
    d.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"k": [i], "g": ["a"]}), d / f"part-{i}.parquet")
    _write(spark, tm, write, _frame(spark, d))
    pq.write_table(pa.table({"k": [2], "g": ["a"]}), d / "part-2.parquet")
    assert _write(spark, tm, write, _frame(spark, d)) >= 1
    assert [r[0] for r in _rows(tm)] == [0, 1, 2]
    os.remove(d / "part-2.parquet")
    assert _write(spark, tm, write, _frame(spark, d)) >= 1
    assert [r[0] for r in _rows(tm)] == [0, 1]


@pytest.mark.parametrize("write", WRITES)
def test_changed_literal_or_renamed_column_is_written_again(spark, tm, src, write):
    path = src / "t.parquet"
    _write(spark, tm, write, _frame(spark, path, lit=1))
    assert _write(spark, tm, write, _frame(spark, path, lit=2)) >= 1
    assert {r[2] for r in _rows(tm)} == {2}
    assert _write(spark, tm, write, _frame(spark, path, lit=2, alias="y")) >= 1
    assert "y" in tm.read("t").columns and "x" not in tm.read("t").columns


@pytest.mark.parametrize("write", WRITES)
def test_table_appended_to_or_losing_a_file_is_written_again(spark, tm, src, write):
    path = src / "t.parquet"
    _write(spark, tm, write, _frame(spark, path))
    part_by = "g" if write == "replace_where" else None
    tm.append(_frame(spark, path), "t", partition_by=part_by)
    assert len(_rows(tm)) == 6
    assert _write(spark, tm, write, _frame(spark, path)) >= 1
    assert _rows(tm) == [(1, "a", 1), (2, "b", 1), (3, "a", 1)]

    victim = next(f for f, *_ in tables.data_files(tm.path("t")) if f.endswith(".parquet"))
    os.remove(os.path.join(tm.path("t"), victim))
    assert _write(spark, tm, write, _frame(spark, path)) >= 1
    assert _rows(tm) == [(1, "a", 1), (2, "b", 1), (3, "a", 1)]


# ---- always written ----------------------------------------------------


def _udf_frame(spark, path):
    plus_one = F.udf(lambda v: v + 1, "long")
    return _frame(spark, path).withColumn("x", plus_one("k"))


ALWAYS_WRITTEN = {
    "createDataFrame": (
        lambda spark, path: spark.createDataFrame([(1, "a")], "k long, g string"),
        " leaf",
    ),
    "cache": (lambda spark, path: _frame(spark, path).cache(), "InMemoryRelation leaf"),
    "localCheckpoint": (
        lambda spark, path: _frame(spark, path).localCheckpoint(),
        "LogicalRDD leaf",
    ),
    "rand": (
        lambda spark, path: _frame(spark, path).withColumn("r", F.rand(7)),
        "nondeterministic plan",
    ),
    "python_udf": (_udf_frame, "user-defined function"),
}


@pytest.mark.parametrize("kind", ALWAYS_WRITTEN)
def test_frames_the_key_cannot_name_are_always_written(spark, tm, src, kind, caplog):
    build, reason = ALWAYS_WRITTEN[kind]
    caplog.set_level(logging.DEBUG, logger=tables.log.name)
    df = build(spark, src / "t.parquet")
    try:
        for _ in range(2):
            assert _write(spark, tm, "overwrite", df) >= 1
    finally:
        df.unpersist()
    no_key = [
        r.getMessage()
        for r in caplog.records
        if r.name == tables.log.name and r.levelno == logging.DEBUG
    ]
    assert len(no_key) == 2 and all(
        m.startswith("no write key for t: ") and reason in m for m in no_key
    ), no_key
    assert not os.path.exists(os.path.join(tm.path("t"), WRITE_KEY))


# ---- crashes -----------------------------------------------------------


def test_crash_between_staged_write_and_swap_is_written_again(
    spark, tm, src, monkeypatch
):
    path = src / "t.parquet"
    tm.overwrite(_frame(spark, path, lit=1), "t")

    def crash(final, write):
        write(commit._aside(final, "staging"))
        raise RuntimeError("crash before the swap")

    monkeypatch.setattr(commit, "swap_dir", crash)
    with pytest.raises(RuntimeError):
        tm.overwrite(_frame(spark, path, lit=2), "t")
    monkeypatch.undo()
    assert os.path.exists(os.path.join(commit._aside(tm.path("t"), "staging"), WRITE_KEY))
    assert {r[2] for r in _rows(tm)} == {1}

    assert _write(spark, tm, "overwrite", _frame(spark, path, lit=2)) >= 1
    assert {r[2] for r in _rows(tm)} == {2}


def test_crash_between_replace_where_write_and_its_key_is_written_again(
    spark, tm, src, monkeypatch
):
    path = src / "t.parquet"
    tm.replace_where(_frame(spark, path, lit=1), "t", "g")

    def crashed_write(lit):
        def crash(*_):
            raise RuntimeError("crash before the key")

        monkeypatch.setattr(tables, "_commit_key", crash)
        with pytest.raises(RuntimeError):
            tm.replace_where(_frame(spark, path, lit=lit), "t", "g")
        monkeypatch.undo()
        assert {r[2] for r in _rows(tm)} == {lit}

    # the record still holds the first write's key, but not its files
    crashed_write(2)
    assert _write(spark, tm, "replace_where", _frame(spark, path, lit=1)) >= 1
    assert {r[2] for r in _rows(tm)} == {1}
    # a repeat of the crashed write itself
    crashed_write(2)
    assert _write(spark, tm, "replace_where", _frame(spark, path, lit=2)) >= 1
    assert {r[2] for r in _rows(tm)} == {2}


# ---- the medallion pipeline -------------------------------------------

SOURCES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
#: the tables a changed ``part`` does not reach
UNCHANGED = {
    "bronze.lineitem", "bronze.orders", "bronze.customer", "bronze.nation",
    "bronze.region", "silver.customer_geo", "silver.supplier_geo",
    "gold.fact_sales", "gold.dim_date", "mart.sales_summary",
}
TABLES = UNCHANGED | {"bronze.events", "bronze.part", "gold.dim_part", "mart.top_products"}


def _refresh(spark, warehouse, src, effective_date) -> None:
    p = pipeline.MedallionPipeline(spark, warehouse, str(src))
    p.ingest_events_incremental()
    p.ingest_snapshots()
    p.build_silver()
    p.build_gold(effective_date=effective_date)
    p.build_mart()


def test_incremental_refresh_keeps_exactly_the_unchanged_tables(
    spark, sf_dir, tmp_path, caplog, monkeypatch
):
    cold, delta = tmp_path / "cold", tmp_path / "delta"
    cold.mkdir()
    delta.mkdir()
    for t in SOURCES:
        shutil.copy2(os.path.join(sf_dir, f"{t}.parquet"), cold / f"{t}.parquet")
        if t != "part":
            os.link(cold / f"{t}.parquet", delta / f"{t}.parquet")
    part = pq.read_table(cold / "part.parquet")
    i = part.schema.get_field_index("p_retailprice")
    prices = part.column(i).to_pylist()
    prices[:3] = [p + 1.5 for p in prices[:3]]
    pq.write_table(
        part.set_column(i, part.field(i), pa.array(prices, part.field(i).type)),
        delta / "part.parquet",
    )

    caplog.set_level(logging.INFO, logger=tables.log.name)
    warehouse = str(tmp_path / "warehouse")
    _refresh(spark, warehouse, cold, "2024-01-01")
    assert _kept(caplog) == []
    caplog.clear()
    _refresh(spark, warehouse, delta, "2024-02-01")
    assert {m.split(":")[0].removeprefix("kept ") for m in _kept(caplog)} == UNCHANGED
    assert len(_kept(caplog)) == len(UNCHANGED)

    # the same two refreshes with every write made
    monkeypatch.setattr(tables, "write_key", lambda df, how: (None, "disabled"))
    reference = str(tmp_path / "reference")
    _refresh(spark, reference, cold, "2024-01-01")
    _refresh(spark, reference, delta, "2024-02-01")
    for t in sorted(TABLES):
        got, want = (
            spark.read.parquet(os.path.join(wh, t)).drop("processed_at")
            for wh in (warehouse, reference)
        )
        assert got.count() == want.count() > 0, t
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, t
    dim = spark.read.parquet(os.path.join(warehouse, "gold.dim_part"))
    assert dim.filter("not is_current").count() == 3
