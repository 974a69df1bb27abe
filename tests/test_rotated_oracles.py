"""Past-window oracle queries vs DuckDB: every exact catalog query
outside the driver's 50-slot window (``PYTEST_ORACLES``) keeps EXACTLY
the driver's comparison here: row count + schema (column names,
normalized dtypes) + order-insensitive value hash (SURVEY.md §5.1)."""

from __future__ import annotations

import duckdb
import pytest

from lakehouse_adventureworks2022_spark.plans.catalog import (
    DRIVER_WINDOW,
    ORACLES,
    PYTEST_ORACLES,
    QUERIES,
    RECORDS,
)
from tools.check_oracles import TABLES, canonical_hash, normalize_pandas

#: Both the pytest fixture SF and the DRIVER's verification SF, so the
#: evidence for a past-window query is not weaker than a driver row.
SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


@pytest.fixture(scope="module", params=SFS)
def duck(request):
    sf = request.param
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    yield sf, con
    con.close()


def test_rotated_set_is_exactly_the_catalog_rotation():
    """The pytest sweep holds exactly the oracle-backed records outside
    the driver window: each still registered, past the window, and with
    exactly one oracle home."""
    rotated = {r.name for r in RECORDS if r.oracle is not None and not r.driver}
    assert rotated == set(PYTEST_ORACLES)
    past_window = set(list(QUERIES)[DRIVER_WINDOW:])
    for name in rotated:
        assert name in past_window
        assert name not in ORACLES


@pytest.mark.parametrize("name", sorted(PYTEST_ORACLES))
def test_rotated_query_matches_oracle(spark, duck, name):
    sf, con = duck
    spark_pdf = normalize_pandas(QUERIES[name](spark, sf).toPandas())
    duck_pdf = normalize_pandas(con.sql(PYTEST_ORACLES[name]).df())
    n_s, cols_s, h_s = canonical_hash(spark_pdf)
    n_d, cols_d, h_d = canonical_hash(duck_pdf)
    assert (n_s, cols_s, h_s) == (n_d, cols_d, h_d)
    # the dq_* gates legitimately return 0 rows on the clean fixture
    # (they report VIOLATIONS); everything else must be non-vacuous
    if not name.startswith("dq_"):
        assert n_s > 0, f"{name} returned no rows — vacuous check"
