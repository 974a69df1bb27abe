"""SparkSession factory with the engine's standard configuration.

Mirrors the reference's engine config surface
(``spark/conf/spark-defaults.conf`` in the reference repo: UTC session
timezone, Delta-on-object-store, FAIR scheduling) re-expressed for stock
PySpark:

- session timezone pinned to UTC (reference:
  ``dags/utils/extract_load_template.py:18``) — engine-wide so timestamp
  hashing/comparison is stable;
- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the 100 TB posture of SURVEY.md §4;
- ``spark.sql.legacy.parquet.nanosAsLong=true`` so nanosecond parquet
  timestamps (the ``events`` fixture) are readable; the readers convert
  ns→µs with truncation (see ``sources/readers.py``);
- Arrow enabled for any pandas-UDF operators (similarity/text paths);
- the JVM's generated-code cache (``spark.sql.codegen.cache.maxEntries``)
  sized to :data:`CODEGEN_CACHE_MAX_ENTRIES` = 4096 classes, about twice
  the measured working set: one pass over all 152 catalog queries
  compiles about 2,200 classes. At Spark's default of 100 a
  ``dashboard_queries`` round (perfbench, sf0.01) compiles 236-268
  classes and a ``medallion_refresh`` round 239-264, every round,
  because each evicts its own classes before it reuses them; sized to
  the working set, a warm round compiles 0-4 and 4.

On a real cluster the same builder accepts Delta/Iceberg catalog extensions
via ``extra_conf`` (jars are not available in this test container).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Entries of the JVM-wide generated-class cache (Spark's default: 100).
#: Measured working set: one pass over all 152 catalog queries at sf0.01,
#: cache unbounded, compiles 2,176-2,230 classes (three passes; the
#: ``CodegenMetrics`` compilation count); a second pass in the same JVM
#: compiles 103-137, the classes whose generated source differs from run
#: to run. A static conf: the cache is sized when the JVM first generates
#: code, and later sessions in that JVM share it.
CODEGEN_CACHE_MAX_ENTRIES = 4096


def get_spark(
    app_name: str = "lakehouse-aw2022-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    A single shared session per pipeline run — the reference wastefully
    created one session per Airflow task (``dags/product.py:53,66,76`` …);
    we keep one (SURVEY.md §2.11 O4).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # static conf — must be set at build; catalog tables (bucketing)
        # land here instead of polluting the cwd with spark-warehouse/
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "spark-warehouse"),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def is_connect(spark: SparkSession) -> bool:
    """True when ``spark`` is a Spark Connect client session (class
    lives under ``pyspark.sql.connect``). Checked by module-name string
    so the probe never imports the connect package (whose grpcio
    dependency may be absent, as in this test container)."""
    return type(spark).__module__.startswith("pyspark.sql.connect")


def default_parallelism(spark: SparkSession) -> int:
    """Cluster default parallelism, Connect-safe (SURVEY Connect audit,
    r9): classic sessions read ``sparkContext.defaultParallelism``;
    Connect sessions have NO sparkContext, so fall back to the session's
    shuffle-partition count (a runtime SQL conf the Connect client CAN
    read), then to the engine's CPU env default. Used wherever a plan
    repartitions a single-file source up to cluster width — at real
    scale the scan already has splits and these calls are no-ops."""
    if not is_connect(spark):
        return spark.sparkContext.defaultParallelism
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 - conf service unreachable mid-teardown
        return DEFAULT_SHUFFLE_PARTITIONS


def get_spark_connect(
    url: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Connect-client constructor (the reference runs EVERY task through
    ``.remote("sc://spark-connect:15002")`` — ``dags/product.py:76``):
    builds a session against a Connect server and applies the engine's
    RUNTIME confs (session timezone, shuffle partitions, AQE family —
    all settable over Connect). Static confs (driver memory, warehouse
    dir, the nanosAsLong legacy flag, ``spark.sql.codegen.cache.maxEntries``
    = :data:`CODEGEN_CACHE_MAX_ENTRIES`) are SERVER-side: set them in the
    server's spark-defaults.conf; this function cannot.

    Requires ``grpcio`` (absent in this test container — the import
    error below is the honest signal, not a silent classic fallback).

    Connect compatibility of the engine itself (r9 audit):

    - all batch operators/plans: pure DataFrame API — Connect-clean;
      ``default_parallelism`` abstracts the one sparkContext touch.
    - Arrow-batched ``mapInPandas``/``applyInPandas`` (multimodal,
      similarity, monitoring): supported over Connect.
    - ``streaming/stateful.py`` (``applyInPandasWithState``): NOT in the
      Connect API — the module guards with a clear error; run those
      pipelines on a classic session (or the transformWithState
      successor API where the server offers it).
    - driver-side trainer loops (BPE/unigram merge tables, IVF/PQ
      centroid+codebook collects): bounded collects of ordinary
      DataFrames — Connect-clean.
    - ``tools/audit_plans.py`` and test-only ``_jdf`` plan dumps:
      classic-only diagnostics, never in deployed paths.
    """
    builder = (
        SparkSession.builder.remote(url)
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
