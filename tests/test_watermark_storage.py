"""Watermark manager (S2-S4 semantics incl. ms-truncation edge) and
table-manager write semantics (W1-W3 + replace_where idempotency)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.sources.readers import read_table
from lakehouse_adventureworks2022_spark.sources.watermark import (
    Watermark,
    WatermarkStore,
    compute_watermark,
    incremental_filter,
    normalize_event_time,
)
from lakehouse_adventureworks2022_spark.storage.tables import (
    TableManager,
    delta_available,
)
import pytest

#: both storage backends behind the TableManager seam (r9): parquet
#: everywhere, real Delta wherever delta-spark is importable
TM_BACKENDS = [
    "parquet",
    pytest.param(
        "delta",
        marks=pytest.mark.skipif(
            not delta_available(),
            reason="delta-spark not installed in this container",
        ),
    ),
]


@pytest.fixture(params=TM_BACKENDS)
def tm_fmt(request):
    return request.param


def test_normalize_event_time_truncates_to_millis():
    assert (
        normalize_event_time("2024-01-15 10:20:30.123456")
        == "2024-01-15 10:20:30.123"
    )
    assert normalize_event_time("2024-01-15 10:20:30") == "2024-01-15 10:20:30"
    assert normalize_event_time("2024-01-15 10:20:30.1") == "2024-01-15 10:20:30.100"


def test_watermark_store_roundtrip(tmp_path):
    store = WatermarkStore(str(tmp_path))
    assert store.get("t") is None  # missing ⇒ full load
    store.put(Watermark("t", last_id=42, last_event_time="2024-01-15 10:20:30.123456"))
    wm = store.get("t")
    assert wm.last_id == 42
    assert wm.processed_at is not None


def test_incremental_filter_full_then_delta(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    total = events.count()
    assert incremental_filter(events, "ts", None).count() == total
    wm = compute_watermark(events.limit(0), "t", "event_id", "ts")
    assert wm.last_id is None  # empty batch ⇒ no watermark advance

    half = Watermark("t", last_event_time="2024-01-15 00:00:00")
    n_half = incremental_filter(events, "ts", half).count()
    assert 0 < n_half < total

    # watermark at max ts ⇒ re-run yields zero rows (idempotency)
    full_wm = compute_watermark(events, "t", "event_id", "ts")
    assert incremental_filter(events, "ts", full_wm).count() == 0


def test_ms_truncation_is_conservative(spark, sf_dir):
    """Truncating the watermark to ms can only re-read rows, never skip."""
    events = read_table(spark, sf_dir, "events")
    full_wm = compute_watermark(events, "t", "event_id", "ts")
    exact = incremental_filter(events, "ts", full_wm).count()
    truncated = incremental_filter(events, "ts", full_wm, truncate_to_ms=True).count()
    assert exact == 0  # full precision: re-run exactly empty
    assert truncated >= exact  # ms sources: re-read, never skip


def test_table_manager_append_overwrite(spark, tmp_path, tm_fmt):
    tm = TableManager(spark, str(tmp_path), fmt=tm_fmt)
    df = spark.range(10).withColumn("p", F.col("id") % 2)
    tm.append(df, "bronze.t", partition_by="p")
    tm.append(df, "bronze.t", partition_by="p")
    assert tm.read("bronze.t").count() == 20
    tm.overwrite(df, "bronze.t", partition_by="p")
    assert tm.read("bronze.t").count() == 10


def test_replace_where_is_idempotent(spark, tmp_path, tm_fmt):
    tm = TableManager(spark, str(tmp_path), fmt=tm_fmt)
    d1 = spark.range(5).withColumn("day", F.lit("2024-01-01"))
    d2 = spark.range(7).withColumn("day", F.lit("2024-01-02"))
    tm.replace_where(d1, "gold.fact", "day")
    tm.replace_where(d2, "gold.fact", "day")
    assert tm.read("gold.fact").count() == 12
    # re-running a day replaces, not duplicates (fixes reference §4.4)
    tm.replace_where(d2, "gold.fact", "day")
    assert tm.read("gold.fact").count() == 12
    d2b = spark.range(3).withColumn("day", F.lit("2024-01-02"))
    tm.replace_where(d2b, "gold.fact", "day")
    assert tm.read("gold.fact").count() == 8


@pytest.mark.slow
def test_pipeline_end_to_end_and_incremental_idempotency(spark, sf_dir, tmp_path):
    from lakehouse_adventureworks2022_spark.pipeline import MedallionPipeline

    p = MedallionPipeline(spark, str(tmp_path), sf_dir)
    res = p.run()
    assert res.ingested["events"] == 1000
    assert p.tables.read("gold.fact_sales").count() == 6000
    assert p.tables.read("mart.top_products").count() == 10
    assert p.tables.read("gold.dim_part").filter("is_current").count() == 200
    # second run: no new events (watermark), fact replaced not duplicated
    res2 = p.run()
    assert res2.ingested["events"] == 0
    assert p.tables.read("bronze.events").count() == 1000
    assert p.tables.read("gold.fact_sales").count() == 6000
    # SCD2 dim unchanged (same batch, same attributes ⇒ no new versions)
    assert p.tables.read("gold.dim_part").count() == 200


def test_pipeline_mart_via_sql_ddl(spark, sf_dir, tmp_path):
    """Routing the mart stage through the DDL surface yields catalog
    tables equal to the path-table marts."""
    from lakehouse_adventureworks2022_spark.pipeline import MedallionPipeline
    from lakehouse_adventureworks2022_spark.storage.ddl import (
        MEDALLION_SCHEMAS,
        CatalogDDL,
    )

    p = MedallionPipeline(spark, str(tmp_path), sf_dir)
    try:
        p.ingest_snapshots()
        p.build_mart(via_sql_ddl=True)
        named = {
            tuple(r)
            for r in spark.table("mart.business_top_products").collect()
        }
        path = {tuple(r) for r in p.tables.read("mart.top_products").collect()}
        assert named == path and len(path) == 10
    finally:
        ddl = CatalogDDL(spark, str(tmp_path))
        for s in MEDALLION_SCHEMAS:
            ddl.drop_schema(s)


def test_versioned_table_time_travel_and_rollback(spark, tmp_path):
    from lakehouse_adventureworks2022_spark.storage.versioned import (
        VersionedTable,
    )

    vt = VersionedTable(spark, str(tmp_path), "gold.dim_v")
    assert vt.current_version() == 0 and vt.versions() == []
    v1 = vt.write(spark.range(5))
    v2 = vt.write(spark.range(8))
    assert (v1, v2) == (1, 2)
    assert vt.read().count() == 8  # current
    assert vt.read(version=1).count() == 5  # time travel
    vt.rollback(1)
    assert vt.read().count() == 5
    # default rollback PRESERVES the abandoned v2 (Delta RESTORE
    # semantics — a wrong rollback must not destroy good snapshots)
    assert vt.versions() == [1, 2]
    assert vt.read(version=2).count() == 8
    # pruning the abandoned timeline is an explicit opt-in
    vt.rollback(1, prune_newer=True)
    assert vt.versions() == [1]
    # publishing after a rollback never reuses a snapshot directory
    v3 = vt.write(spark.range(3))
    assert v3 == 2 and vt.read().count() == 3
    assert vt.read(version=1).count() == 5  # history intact


def test_versioned_rollback_keep_forensics_then_write_skips(spark, tmp_path):
    """With prune_newer=False the abandoned snapshot stays readable and
    the next write allocates PAST it (no in-place overwrite of history)."""
    from lakehouse_adventureworks2022_spark.storage.versioned import (
        VersionedTable,
    )

    vt = VersionedTable(spark, str(tmp_path), "gold.dim_f")
    vt.write(spark.range(5))
    vt.write(spark.range(8))
    vt.rollback(1, prune_newer=False)
    assert vt.versions() == [1, 2]
    assert vt.read(version=2).count() == 8  # forensics read still works
    v3 = vt.write(spark.range(3))
    assert v3 == 3  # allocated past the abandoned v2, not on top of it
    assert vt.read().count() == 3
    assert vt.read(version=2).count() == 8  # v2 untouched by the write


def test_versioned_partial_write_never_listed(spark, tmp_path):
    """A crash mid-write leaves only a ._staging_ sibling of the
    snapshot dir — versions() and read() must never expose it as
    apparently-valid history."""
    from lakehouse_adventureworks2022_spark.storage.versioned import (
        VersionedTable,
    )

    vt = VersionedTable(spark, str(tmp_path), "gold.dim_c")
    vt.write(spark.range(5))
    (vt.dir / "._staging__v00002").mkdir()  # simulated crash debris
    assert vt.versions() == [1]
    assert vt.read().count() == 5
    v2 = vt.write(spark.range(7))  # stale staging debris is cleared
    assert v2 == 2 and vt.read().count() == 7


def test_versioned_table_retention_prunes_old_snapshots(spark, tmp_path):
    import pytest

    from lakehouse_adventureworks2022_spark.storage.versioned import (
        VersionedTable,
    )

    vt = VersionedTable(spark, str(tmp_path), "gold.dim_r")
    for n in (2, 4, 6, 8, 10):
        vt.write(spark.range(n), keep=2)
    assert vt.versions() == [4, 5]  # only the kept window survives
    assert vt.read().count() == 10
    with pytest.raises(FileNotFoundError, match="retention"):
        vt.read(version=1)


def test_merge_upsert_update_insert_delete_semantics(spark, tmp_path, tm_fmt):
    """Delta MERGE analog (r8): matched keys update, unmatched insert,
    tombstoned matched keys delete (absent-key tombstones are no-ops),
    duplicate source keys refuse loudly, and a first merge on a missing
    table is a plain create. On the delta backend the same contract runs
    through a real MERGE INTO (r9 seam)."""
    import pytest

    tm = TableManager(spark, str(tmp_path), fmt=tm_fmt)
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, x int"
    )
    # merge into a missing table = create
    tm.merge_upsert(base, "silver.m", keys="id")
    assert tm.read("silver.m").count() == 3

    cdc = spark.createDataFrame(
        [
            (2, "B2", 99, False),   # matched -> update
            (4, "d", 40, False),    # unmatched -> insert
            (3, None, 0, True),     # matched tombstone -> delete
            (9, None, 0, True),     # absent tombstone -> no-op
        ],
        "id long, v string, x int, is_deleted boolean",
    )
    tm.merge_upsert(cdc, "silver.m", keys="id", delete_col="is_deleted")
    got = {r["id"]: (r["v"], r["x"]) for r in tm.read("silver.m").collect()}
    assert got == {1: ("a", 10), 2: ("B2", 99), 4: ("d", 40)}

    # idempotent replay of the same CDC batch converges to the same state
    tm.merge_upsert(cdc, "silver.m", keys="id", delete_col="is_deleted")
    again = {r["id"]: (r["v"], r["x"]) for r in tm.read("silver.m").collect()}
    assert again == got

    dup = spark.createDataFrame(
        [(5, "x", 1), (5, "y", 2)], "id long, v string, x int"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        tm.merge_upsert(dup, "silver.m", keys="id")
    mismatched = spark.createDataFrame([(6, "z")], "id long, other string")
    with pytest.raises(ValueError, match="schema mismatch"):
        tm.merge_upsert(mismatched, "silver.m", keys="id")
    # failed merges left the table untouched
    assert {r["id"] for r in tm.read("silver.m").collect()} == {1, 2, 4}


def test_merge_upsert_composite_keys_and_partitions(spark, tmp_path, tm_fmt):
    tm = TableManager(spark, str(tmp_path), fmt=tm_fmt)
    base = spark.createDataFrame(
        [("us", 1, 10), ("us", 2, 20), ("eu", 1, 30)],
        "region string, id long, x int",
    )
    tm.merge_upsert(base, "silver.rk", keys=["region", "id"], partition_by="region")
    upd = spark.createDataFrame(
        [("us", 2, 99), ("eu", 2, 40)], "region string, id long, x int"
    )
    tm.merge_upsert(upd, "silver.rk", keys=["region", "id"], partition_by="region")
    got = {(r["region"], r["id"]): r["x"] for r in tm.read("silver.rk").collect()}
    assert got == {("us", 1): 10, ("us", 2): 99, ("eu", 1): 30, ("eu", 2): 40}


@pytest.mark.slow
def test_merge_upsert_matches_python_reference_for_any_cdc_sequence(
    spark, tmp_path
):
    """(r9) Property differential: for ANY sequence of key-unique CDC
    batches (update/insert/delete mixes), the table after each
    merge_upsert equals a dict-based Python reference applying MERGE
    semantics (matched+tombstone ⇒ delete, matched ⇒ update, unmatched
    non-tombstone ⇒ insert, unmatched tombstone ⇒ no-op)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    batch_strategy = st.dictionaries(
        st.integers(min_value=0, max_value=7),      # key
        st.tuples(
            st.integers(min_value=0, max_value=9),  # value
            st.booleans(),                           # tombstone
        ),
        max_size=8,
    )

    counter = {"n": 0}

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(run=st.lists(batch_strategy, min_size=1, max_size=3))
    def check(run):
        counter["n"] += 1
        tm = TableManager(spark, str(tmp_path / f"prop{counter['n']}"))
        ref: dict[int, int] = {}
        wrote = False
        for batch in run:
            if not batch:
                continue
            rows = [(k, v, dead) for k, (v, dead) in batch.items()]
            src = spark.createDataFrame(
                rows, "id long, v int, is_deleted boolean"
            )
            if not wrote:
                # first merge on a missing table = create; a tombstone
                # arm needs the delete column stripped like later merges
                tm.merge_upsert(src, "t", keys="id", delete_col="is_deleted")
                wrote = True
            else:
                tm.merge_upsert(src, "t", keys="id", delete_col="is_deleted")
            for k, (v, dead) in batch.items():
                if dead:
                    ref.pop(k, None)
                else:
                    ref[k] = v
        if wrote:
            got = {r["id"]: r["v"] for r in tm.read("t").collect()}
            assert got == ref

    check()
