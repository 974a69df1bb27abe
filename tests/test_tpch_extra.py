"""Extra TPC-H-shaped queries vs DuckDB — same row/schema/hash
comparison the driver applies to the main catalog (these shapes sit
outside the full 50-slot oracle window)."""

from __future__ import annotations

import duckdb
import pytest

from lakehouse_adventureworks2022_spark.plans import catalog, tpch_extra
from tools.check_oracles import TABLES, canonical_hash, normalize_pandas

SF = "/root/testdata/sf0.001"

#: the catalog records of this module's queries, by catalog name
EXTRA = {
    r.name: r for r in catalog.RECORDS if r.fn.__module__ == tpch_extra.__name__
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def test_every_extra_query_has_an_oracle():
    oracles = [v for k, v in vars(tpch_extra).items() if k.startswith("ORACLE_")]
    assert len(EXTRA) == len(oracles) == 17
    assert sorted(r.oracle for r in EXTRA.values()) == sorted(oracles)


@pytest.mark.parametrize("name", sorted(EXTRA))
def test_extra_query_matches_oracle(spark, duck, name):
    df = EXTRA[name].fn(spark, SF)
    spark_pdf = normalize_pandas(df.toPandas())
    duck_pdf = normalize_pandas(duck.sql(EXTRA[name].oracle).df())
    assert canonical_hash(spark_pdf) == canonical_hash(duck_pdf)
    assert len(spark_pdf) > 0, f"{name} returned no rows — vacuous check"


def test_q19_disjunction_plans_equi_join_not_nested_loop(spark):
    plan = (
        tpch_extra.q19_disjunctive_revenue(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
