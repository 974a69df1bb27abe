"""Local differential checker replicating the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares:

- row count,
- schema (column names; normalized dtypes),
- order-insensitive value hash (rows sorted, columns sorted by name,
  values canonicalized to strings).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from lakehouse_adventureworks2022_spark.plans.catalog import (
    ORACLES,
    PYTEST_ORACLES,
    QUERIES,
)
from lakehouse_adventureworks2022_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon_cell(v) -> str:
    # array-valued cells (Spark array<…> → numpy array / list) before the
    # scalar NaN check, whose `v != v` is ambiguous on arrays
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if v is None or v != v:  # NaN
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6f}" if abs(v) < 1e10 else repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def canonical_hash(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = ["\x1f".join(_canon_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def normalize_pandas(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            # -0.0 == 0.0 but stringifies differently (DuckDB ROUND of a
            # tiny negative yields -0.0 where Spark round yields 0.0);
            # adding 0.0 canonicalizes the sign without moving any value
            out[c] = s + 0.0
        elif s.dtype == object:
            # dates / Decimals / numpy scalars stringify in _canon_cell
            pass
    return out


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or list(QUERIES)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark("oracle-check")

    failures = []
    for name in names:
        fn = QUERIES[name]
        try:
            spark_pdf = normalize_pandas(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001 - diagnostic harness
            # keep class + first line up front: a truncated plan dump with
            # the exception class cut off cost a round of diagnosis once
            first = str(e).strip().splitlines()[0] if str(e).strip() else ""
            print(f"  {name:28s} FAIL err={type(e).__name__}: {first[:160]}")
            failures.append(name)
            continue
        # driver oracles hash-check like the driver; pytest-side
        # oracles (the exact past-window queries) hash-check with the
        # same comparison so the health sweep covers every EXACT
        # query — rows-only queries stay rows-only
        oracle = ORACLES.get(name) or PYTEST_ORACLES.get(name)
        tag = "" if name in ORACLES else " (pytest-oracle)"
        if oracle is None:
            # rows-only, like the driver: no value hash (and array-valued
            # columns only ever appear in rows-only queries)
            print(
                f"  {name:28s} rows={len(spark_pdf):>7}  (no oracle — rows-only check)"
            )
            continue
        n_s, cols_s, h_s = canonical_hash(spark_pdf)
        duck_pdf = normalize_pandas(con.sql(oracle).df())
        n_d, cols_d, h_d = canonical_hash(duck_pdf)
        # dtype parity (datetime resolution normalized away above) — the
        # driver may compare schemas more strictly than value hashes
        dtype_diffs = [
            f"{c}(spark={spark_pdf[c].dtype},duck={duck_pdf[c].dtype})"
            for c in cols_s
            if c in duck_pdf.columns
            and str(spark_pdf[c].dtype) != str(duck_pdf[c].dtype)
        ]
        ok = (n_s, cols_s, h_s) == (n_d, cols_d, h_d) and not dtype_diffs
        status = "OK " if ok else "FAIL"
        print(f"  {name:28s} {status} rows={n_s}/{n_d} hash={h_s}/{h_d}{tag}")
        if dtype_diffs:
            print(f"    dtype mismatches: {dtype_diffs}")
        if not ok:
            failures.append(name)
            if cols_s != cols_d:
                print(f"    spark cols: {cols_s}\n    duck  cols: {cols_d}")
            else:
                # show first differing rows for debugging
                def rowset(pdf):
                    cols = sorted(pdf.columns)
                    return {
                        "\x1f".join(_canon_cell(v) for v in r)
                        for r in pdf[cols].itertuples(index=False)
                    }

                rs, rd = rowset(spark_pdf), rowset(duck_pdf)
                for label, diff in (("spark-only", rs - rd), ("duck-only", rd - rs)):
                    for row in sorted(diff)[:3]:
                        print(f"    {label}: {row.replace(chr(31), ' | ')[:200]}")
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
