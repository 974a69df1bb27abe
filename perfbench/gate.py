"""Correctness gate: every timed operation's output is checked after its
timed window closes. Outputs hash with ``tools/check_oracles.canonical_hash``
and compare with the hash of the catalog's DuckDB oracle SQL run over the
same generated inputs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Check:
    ok: bool
    detail: str = ""
    digest: str | None = None


def frame_hash(pdf) -> tuple[int, list[str], str]:
    from tools.check_oracles import canonical_hash, normalize_pandas

    return canonical_hash(normalize_pandas(pdf))


class OracleGate:
    """DuckDB oracles over one input directory, each computed on first use."""

    def __init__(self, src_dir: str):
        self.src = src_dir
        self.con = None
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str) -> tuple[int, list[str], str]:
        if name not in self._expected:
            self._expected[name] = frame_hash(self._connect().sql(_oracle_sql(name)).df())
        return self._expected[name]

    def _connect(self):
        import duckdb

        from lakehouse_adventureworks2022_spark.sources.readers import TABLES

        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.src}/{t}.parquet')"
                )
        return self.con

    def check(self, name: str, pdf) -> Check:
        got = frame_hash(pdf)
        want = self.expected(name)
        if got == want:
            return Check(True, digest=got[2])
        return Check(False, f"{name}: rows/cols/hash {got[0]}/{len(got[1])}/{got[2]} "
                     f"!= oracle {want[0]}/{len(want[1])}/{want[2]}", got[2])

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def _oracle_sql(name: str) -> str:
    from lakehouse_adventureworks2022_spark.plans.catalog import ORACLES, PYTEST_ORACLES

    sql = ORACLES.get(name) or PYTEST_ORACLES.get(name)
    if sql is None:
        raise KeyError(f"the catalog has no oracle SQL for {name}")
    return sql
