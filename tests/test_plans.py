"""Physical-plan audits (the 100 TB posture, SURVEY.md §4): broadcast
joins where dims are small, pushdown reaching the parquet scan, column
pruning, top-k without a global sort, whole-stage codegen on the hot
paths. These assertions keep plan regressions out — a query that silently
flips to a sort-merge join or a full-column scan would still pass the
value checks."""

from __future__ import annotations

import pytest

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.plans import marts
from lakehouse_adventureworks2022_spark.sources.readers import read_table


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_top_products_broadcasts_dim_and_takeordered(spark, sf_dir):
    plan = plan_of(marts.top_products(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # part dim must broadcast
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_sales_summary_all_dim_joins_broadcast(spark, sf_dir):
    plan = plan_of(marts.sales_summary(spark, sf_dir))
    # customer/nation/region joins broadcast; only lineitem⋈orders may
    # legitimately shuffle (two large sides at scale)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "HashAggregate" in plan  # partial+final hash agg, no sort agg


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_parquet_scan(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    plan = plan_of(df)
    # ReadSchema must contain only the projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_partkey" in read_schema
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema


def test_incremental_filter_pushes_watermark_predicate(spark, sf_dir):
    from lakehouse_adventureworks2022_spark.sources.watermark import (
        Watermark,
        incremental_filter,
    )

    events = read_table(spark, sf_dir, "events")
    df = incremental_filter(
        events, "ts", Watermark("t", last_event_time="2024-01-15 00:00:00")
    )
    plan = plan_of(df)
    # ts is reconstructed from the ns-long column, so the pushable scan
    # filter is on the raw column; the comparison itself must at least be
    # codegen'd, never a Python filter
    assert "pythonUDF" not in plan.lower()
    assert "Filter" in plan


def test_hot_paths_are_whole_stage_codegen(spark, sf_dir):
    # AQE wraps plans in AdaptiveSparkPlan and hides codegen spans until
    # runtime; spans are static, so inspect the non-adaptive plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = marts.top_products(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    import re

    # codegen stages print as "*(id)" prefixes in the tree string
    spans = set(re.findall(r"\*\((\d+)\)", plan))
    assert len(spans) >= 2, plan


@pytest.mark.slow
def test_no_cartesian_products_anywhere(spark, sf_dir):
    from lakehouse_adventureworks2022_spark.plans.catalog import QUERIES

    # ann brute-force intentionally uses a broadcast cross join; all
    # other queries must never plan a cartesian product
    for name, fn in QUERIES.items():
        if name.startswith("ann_"):
            continue
        plan = plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_distinct_marts_plan_no_expand(spark, sf_dir):
    """sales_summary/top_products compute COUNT(DISTINCT) as two-phase
    aggregations — the plan must not contain the distinct-expand (which
    doubles fact rows through the shuffle)."""
    for q in (marts.sales_summary, marts.top_products):
        plan = plan_of(q(spark, sf_dir))
        assert "Expand" not in plan, q.__name__


def test_latest_event_agg_equals_window_form(spark, sf_dir):
    """The max_by scale path must match the row_number window form
    row-for-row (same deterministic (ts, event_id) tiebreak)."""
    from lakehouse_adventureworks2022_spark.plans.events import (
        latest_event_per_user,
        latest_event_per_user_agg,
    )

    a = latest_event_per_user(spark, sf_dir)
    b = latest_event_per_user_agg(spark, sf_dir)
    assert a.columns == b.columns
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
    # the agg plan must carry partial aggregation (map-side combine),
    # not a window sort
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan


def test_cdc_upsert_anti_join_is_broadcast_not_cartesian(spark, sf_dir, tmp_path):
    """(r9) The merge's key anti-join must resolve as a hash join on the
    merge keys (broadcast for this CDC-batch size — AQE's call), never a
    cartesian/NL shape, and the staged overwrite must not inject a
    global sort."""
    from lakehouse_adventureworks2022_spark.sources.readers import read_table
    from lakehouse_adventureworks2022_spark.storage.tables import TableManager

    tm = TableManager(spark, str(tmp_path))
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    tm.overwrite(cust, "t")
    target = tm.read("t")
    batch = cust.filter(F.col("c_custkey") % 10 == 3).select("c_custkey")
    merged = target.join(batch.distinct(), "c_custkey", "left_anti")
    plan = plan_of(merged)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Join LeftAnti" in plan or "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


@pytest.mark.slow
def test_ivf_sq8_ingest_search_prunes_probed_cells(spark, sf_dir, tmp_path):
    """(r9) After an append, the amortized search over base ∪ appends
    must still push the probed-cell IN filter to the codes scans (both
    the base index AND the committed batch dirs are cell-clustered, so
    footer min-max prunes unprobed files on each side)."""
    from lakehouse_adventureworks2022_spark.operators import similarity
    from lakehouse_adventureworks2022_spark.operators.vector_index import (
        append_index,
        ensure_index,
        load_index,
    )

    q, c = similarity.embedding_queries(spark, sf_dir)
    idx = str(tmp_path / "ingest_idx")
    ensure_index(c, idx, "ivf", "sq8")
    newv = c.select((F.col("vec_id") + 500_000).alias("vec_id"), "embedding")
    append_index(newv, idx, batch_tag="b")
    all_cand = c.select("vec_id", "embedding").unionByName(newv)
    out = similarity.search_index(
        load_index(spark, idx), q, k=5, candidates=all_cand
    )
    plan = plan_of(out)
    assert "In(cell" in plan  # probe pruning pushed to the codes scan
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_rag_ingest_search_prunes_probed_cells(spark, sf_dir, tmp_path):
    """(r10) After a chunk_index_append, retrieval over base ∪ appended
    batches must still push the probed-cell IN filter to the cells
    scans — both the base table and the committed batch dirs are
    cell-clustered, so footer min-max prunes unprobed files on each
    side; the append must not degrade the search into a full scan."""
    from lakehouse_adventureworks2022_spark.operators.vectorize import (
        chunk_index_append,
        chunk_index_ensure,
        retrieval_search,
    )
    from lakehouse_adventureworks2022_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").limit(60)
    idx = str(tmp_path / "rag_idx")
    chunk_index_ensure(docs, idx)
    new_docs = spark.createDataFrame(
        [(9_000_000, "fresh ingest doc " * 30)], "doc_id long, text string"
    )
    chunk_index_append(new_docs, idx, batch_tag="b")
    index = chunk_index_ensure(docs, idx)
    queries = spark.createDataFrame(
        [(1, "fresh ingest doc")], "query_id long, query_text string"
    )
    out = retrieval_search(queries, index, k=3)
    plan = plan_of(out)
    assert "In(cell" in plan  # probe pruning pushed to the cells scan
    assert "CartesianProduct" not in plan
