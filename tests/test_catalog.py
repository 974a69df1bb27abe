"""Differential tests: every catalog query vs its DuckDB oracle at
sf0.001 (the driver runs the same comparison at sf0.01 — SURVEY.md §5.1).
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import duckdb
import pytest

from lakehouse_adventureworks2022_spark.plans.catalog import (
    ORACLES,
    PYTEST_ORACLES,
    QUERIES,
    RECORDS,
    Query,
)
from tools.check_oracles import TABLES, canonical_hash, normalize_pandas

SF = "/root/testdata/sf0.001"
SNAPSHOT = Path(__file__).with_name("catalog_snapshot.json")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def test_registry_matches_snapshot():
    """The tables derived from ``RECORDS`` reproduce the frozen registry
    in tests/catalog_snapshot.json: the ordered ``QUERIES`` names, the
    byte-identical SQL of each driver and pytest oracle, the rows-only
    set and the bench headline set. Registering or moving a query is a
    deliberate change to that file."""
    import bench

    snap = json.loads(SNAPSHOT.read_text())

    def sha(sql: str) -> str:
        return hashlib.sha256(sql.encode()).hexdigest()

    assert list(QUERIES) == snap["queries"]
    assert {k: sha(v) for k, v in ORACLES.items()} == snap["oracles"]
    assert {k: sha(v) for k, v in PYTEST_ORACLES.items()} == snap["pytest_oracles"]
    assert sorted(r.name for r in RECORDS if r.rows_only) == snap["rows_only"]
    assert sorted(bench.HEADLINE) == snap["headline"]


def test_all_queries_have_oracles_or_are_declared_approx():
    """Every registered query is either oracle-backed (driver window or
    pytest sweep) or declares why it has no twin — never neither."""
    missing = set(QUERIES) - set(ORACLES) - set(PYTEST_ORACLES)
    declared = {r.name for r in RECORDS if r.rows_only}
    assert missing == declared, (
        f"queries without oracle not declared rows_only: {missing ^ declared}"
    )
    assert all(r.rows_only.strip() for r in RECORDS if r.rows_only)


def test_record_needs_exactly_one_of_oracle_or_rows_only():
    fn = QUERIES["top_products"]
    with pytest.raises(ValueError):
        Query("x", fn)
    with pytest.raises(ValueError):
        Query("x", fn, oracle="SELECT 1", rows_only="approximate")
    with pytest.raises(ValueError):
        Query("x", fn, rows_only="approximate", driver=True)


def test_every_oracle_backed_query_inside_driver_window():
    """The driver verifies only the first DRIVER_WINDOW queries() entries;
    an oracle-backed query past that point silently loses its correctness
    row (the exact regression of round 2)."""
    from lakehouse_adventureworks2022_spark.plans.catalog import DRIVER_WINDOW

    window = list(QUERIES)[:DRIVER_WINDOW]
    assert all(name in ORACLES for name in window)
    assert set(window) == set(ORACLES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    spark_pdf = normalize_pandas(QUERIES[name](spark, SF).toPandas())
    duck_pdf = normalize_pandas(duck.sql(ORACLES[name]).df())
    assert canonical_hash(spark_pdf) == canonical_hash(duck_pdf)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "total_revenue" in df.columns


def test_coverage_md_totals_match_catalog():
    """COVERAGE.md is the coverage ledger; its Totals paragraph drifted
    from the catalog twice (r9 verdict #3). Recompute the accounting
    from the catalog imports and fail on any mismatch, so the ledger
    stays correct BY CONSTRUCTION."""
    import re

    total = len(QUERIES)
    hash_verified = len(ORACLES) + len(PYTEST_ORACLES)
    rows_only = total - hash_verified

    text = Path(__file__).resolve().parent.parent.joinpath(
        "COVERAGE.md"
    ).read_text()
    m = re.search(
        r"Totals: (\d+) catalog queries — (\d+) hash-verified.*?"
        r"and (\d+) rows-only",
        text,
        re.S,
    )
    assert m, "COVERAGE.md Totals paragraph not found / format changed"
    assert (int(m[1]), int(m[2]), int(m[3])) == (
        total,
        hash_verified,
        rows_only,
    ), (
        f"COVERAGE.md claims {m[1]}/{m[2]}/{m[3]} "
        f"(total/hash-verified/rows-only) but the catalog has "
        f"{total}/{hash_verified}/{rows_only} — update the Totals "
        f"paragraph"
    )
