"""Schema resolution of the parquet readers: ``read_table`` infers a
source's schema once per file identity (``sources/readers.source_schema``)
and passes it to every later read of the unchanged file."""

from __future__ import annotations

import logging
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from lakehouse_adventureworks2022_spark.sources import readers
from lakehouse_adventureworks2022_spark.sources.readers import read_table


def _jobs_launched(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted under a job group
    of its own once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"test-readers-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_unchanged_file_launches_no_job(spark, tmp_path, caplog):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    caplog.set_level(logging.DEBUG, logger=readers.log.name)

    # the first read infers the schema: a job, which also shows the
    # counting above sees the reader's jobs at all
    assert _jobs_launched(spark, lambda: read_table(spark, str(tmp_path), "t")) >= 1
    misses = [r.getMessage() for r in caplog.records if r.name == readers.log.name]
    assert len(misses) == 1 and misses[0].startswith(f"schema inference {tmp_path}/t.parquet: ")
    caplog.clear()
    assert _jobs_launched(spark, lambda: read_table(spark, str(tmp_path), "t")) == 0
    assert [r for r in caplog.records if r.name == readers.log.name] == []
    assert sorted(r.k for r in read_table(spark, str(tmp_path), "t").collect()) == [1, 2, 3]


def test_file_rewritten_with_another_schema_is_read_with_the_new_one(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), path)
    assert read_table(spark, str(tmp_path), "t").dtypes == [("k", "bigint"), ("v", "string")]

    pq.write_table(pa.table({"k": pa.array([7], pa.int32()), "w": [0.5], "x": [True]}), path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("k", "int"), ("w", "double"), ("x", "boolean")]
    assert [tuple(r) for r in df.collect()] == [(7, 0.5, True)]


def test_each_read_is_a_fresh_relation(spark, tmp_path):
    """Only the schema is kept: two reads of one file self-join without
    ambiguous attribute ids."""
    pq.write_table(pa.table({"k": [1, 2], "parent": [None, 1]}), tmp_path / "t.parquet")
    child = read_table(spark, str(tmp_path), "t")
    parent = read_table(spark, str(tmp_path), "t")
    joined = child.join(parent, child.parent == parent.k).select(child.k, parent.k)
    assert [tuple(r) for r in joined.collect()] == [(2, 1)]


def test_directory_source_rewritten_in_place_is_read_with_the_new_schema(spark, tmp_path):
    """A Spark-written table is a directory; rewriting one of its part
    files in place leaves the directory's own mtime as it was."""
    table = tmp_path / "t.parquet"
    os.makedirs(table)
    part = table / "part-0.parquet"
    pq.write_table(pa.table({"k": [1]}), part)
    assert read_table(spark, str(tmp_path), "t").dtypes == [("k", "bigint")]

    dir_mtime = os.stat(table).st_mtime_ns
    pq.write_table(pa.table({"k": ["one"]}), part)
    assert os.stat(table).st_mtime_ns == dir_mtime
    assert read_table(spark, str(tmp_path), "t").dtypes == [("k", "string")]
