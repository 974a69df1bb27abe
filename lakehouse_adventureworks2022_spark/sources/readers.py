"""Source readers: parquet scans (the engine's batch sources) + the
generated date-spine source.

Reference parity (SURVEY.md §2.1):

- S1 full scan — the reference reads whole OLTP tables over JDBC
  (``dags/utils/extract_load_template.py:121-124``); our batch source is a
  parquet/Delta scan with Catalyst predicate pushdown and column pruning
  doing the same job declaratively.
- S2 incremental scan — watermark predicate pushed into the source; see
  ``sources/watermark.py``.
- S5 catalog scan — ``spark.table`` over saved tables (``storage/``).
- S6 generated sequence source — the 7,305-day date spine
  (``trino_scripts/create_dim_date.sql:55-58``) via
  ``explode(sequence(...))`` (:func:`date_spine`).

Scale notes: a parquet scan of a 100 TB table stays efficient because every
query in ``plans/`` selects explicit columns (column pruning reaches the
footer) and filters early (predicate/partition pruning). Nothing here ever
collects to the driver.

Schemas are resolved once per file (:func:`source_schema`). Without a
given schema, every ``spark.read.parquet`` runs a schema-inference job;
on small data that job is most of a read's cost, and a dashboard refresh
reads the same tables again and again. So the inferred schema is kept
per file identity, and every later read of the unchanged file passes it
in and runs no job.
"""

from __future__ import annotations

import logging
import os
import stat
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lakehouse_adventureworks2022_spark.storage.tables import data_files

log = logging.getLogger(__name__)

#: All driver-fixture tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime-settable confs every reader depends on.

    The driver may hand us a session built elsewhere, so set these
    defensively (they are SQL confs, settable per-session at runtime):

    - UTC session timezone — reference pins UTC
      (``extract_load_template.py:18``); required so timestamp→date/string
      derivations hash-match the (naive-UTC) DuckDB oracle.
    - ``nanosAsLong`` — the events fixture stores TIMESTAMP(NANOS), which
      Spark's vectorized parquet reader otherwise rejects.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


#: Confs that change the schema parquet inference returns; part of the
#: memo key, so a session that sets another value infers again.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: realpath -> (key, schema): the last schema inferred for each source.
#: Process-wide like the files it describes; an entry is used only while
#: its full key still matches, so no caller sees another's stale schema,
#: and two threads racing on one path at worst infer it twice.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_identity(real: str) -> tuple | list:
    """(inode, size, mtime_ns) of a file; for a directory (a table Spark
    wrote, as ``tools/stress_scale.py`` does) the same of every file Spark
    reads under it, so a rewritten part file changes the identity even
    where the directory's own mtime does not."""
    st = os.stat(real)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    return data_files(real)


def source_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet source at ``path``, inferred
    once per file identity.

    The key is the file's realpath, inode, size and ``mtime_ns`` plus the
    :data:`_INFERENCE_CONFS` values, so a file rewritten in place (even
    with another schema) or a session with other inference confs infers
    again. Only the schema is kept, never a DataFrame: every read builds a
    fresh relation with its own attribute ids, which self-joining plans
    (tpch q21) need. A path that cannot be stat'ed here (an object-store
    URI, a missing file) is inferred on every call, so Spark reports a
    missing source the usual way. The returned schema is shared between
    callers: pass it on, do not mutate it.
    """
    try:
        real = os.path.realpath(path)
        key = (_file_identity(real), tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    except OSError:
        real = key = None
    hit = _SCHEMAS.get(real)
    if hit is not None and hit[0] == key:
        return hit[1]
    t0 = time.perf_counter()
    schema = spark.read.parquet(path).schema
    log.debug("schema inference %s: %.3f s", path, time.perf_counter() - t0)
    if real is not None:
        _SCHEMAS[real] = (key, schema)
    return schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table, normalizing physical quirks to engine types.

    The engine-facing contract is ``events.ts: timestamp`` (TIMESTAMP_LTZ,
    session TZ pinned UTC) regardless of how the fixture stores it; the
    physical encoding has drifted across fixture generations, so every
    known case is normalized HERE — downstream plans may rely on
    ``ts.cast("long")`` etc. being legal:

    - ``bigint`` — nanoseconds-since-epoch (read via ``nanosAsLong``);
      truncate to µs (``div 1000`` — integer division, no double
      rounding) to match µs-native engines (DuckDB, TimestampType).
    - ``timestamp_ntz`` — plain ``timestamp[us]`` parquet, which Spark 4
      reads as TIMESTAMP_NTZ; with the session TZ pinned UTC the
      NTZ→LTZ cast is value-preserving.
    - ``timestamp`` — already the engine type; pass through.

    ``tests/test_fixture_contract.py`` pins the post-read dtypes of every
    fixture table so the NEXT physical drift fails one readable test
    instead of scattering failures downstream.

    The schema comes from :func:`source_schema`: the first read of a file
    runs Spark's inference job, later reads of the unchanged file run none.
    """
    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(source_schema(spark, path)).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Scan several tables at once, lazily: the only jobs are the schema
    inferences of files not read before (:func:`source_schema`), so
    repeated loads of unchanged files run no jobs."""
    return {name: read_table(spark, sf_dir, name) for name in names}


def date_spine(
    spark: SparkSession,
    start: str = "2010-01-01",
    end: str = "2029-12-31",
) -> DataFrame:
    """Generated calendar source: one row per day, ``full_date`` column.

    Re-expresses the reference's Trino spine
    ``UNNEST(sequence(0, 7304)) → DATE '2010-01-01' + INTERVAL '1' DAY * n``
    (``create_dim_date.sql:55-58``) as Spark's native
    ``explode(sequence(start, end))`` — same 7,305 rows, no driver loop.

    The sequence is generated inside one task then exploded; for a spine
    this is < 10k rows so no repartition is needed at any scale.
    """
    _ensure_session_confs(spark)
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(start)),
                F.to_date(F.lit(end)),
            )
        ).alias("full_date")
    )
