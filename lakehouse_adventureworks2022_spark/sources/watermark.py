"""Watermark manager: batch-incremental ingestion state (SURVEY.md §2.1
S2-S4, §7 build step 2).

The reference hand-rolls this per table: read a single-row JSON checkpoint
dir, build a SQL string with the watermark predicate inlined, push it into
the source DB, then write a new checkpoint
(``dags/utils/extract_load_template.py:60-83,102-119,181-209``). Here the
same semantics are a small state store + a declarative filter that
Catalyst pushes down (to parquet row-group pruning locally; to the remote
DB over JDBC — predicate pushdown is automatic for ``.filter`` on a JDBC
scan, no string building).

State schema matches the reference checkpoint doc fields
(``extract_load_template.py:196-204``): ``table_name, last_id,
last_event_time, last_ingestion_date, processed_at``. Stored as one JSON
file per table (single-row metadata — the one place driver-side I/O is
correct; the reference itself uses ``coalesce(1).write.json``),
replaced atomically by ``commit.replace_file``.

Scale: the only non-distributed data here is the one-row checkpoint; the
incremental filter itself prunes at the source, so a 100 TB history scan
reads only post-watermark files/partitions.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.storage import commit


@dataclass
class Watermark:
    table_name: str
    last_id: int | None = None
    last_event_time: str | None = None  # 'YYYY-MM-DD HH:MM:SS.ffffff'
    last_ingestion_date: str | None = None  # 'YYYY-MM-DD'
    processed_at: str | None = None


def normalize_event_time(ts: str) -> str:
    """Millisecond-truncation normalization of a watermark string.

    Reference S3 (``extract_load_template.py:133-154``): parse
    ``%Y-%m-%d %H:%M:%S[.%f]`` and truncate fractional seconds to 3
    digits for SQL Server DATETIME2 comparison. Truncation (not rounding)
    keeps the predicate ``> watermark`` conservative: a re-run can re-read
    a few sub-millisecond rows but can never skip one.
    """
    if "." not in ts:
        return ts
    head, frac = ts.split(".", 1)
    return f"{head}.{frac[:3]:0<3}" if frac else head


class WatermarkStore:
    """One JSON checkpoint per table under ``<root>/_meta/watermarks``."""

    def __init__(self, root: str):
        self.dir = Path(root) / "_meta" / "watermarks"
        self.dir.mkdir(parents=True, exist_ok=True)

    def _path(self, table: str) -> Path:
        return self.dir / f"{table}.json"

    def get(self, table: str) -> Watermark | None:
        """Missing checkpoint ⇒ None ⇒ caller does a full load (reference
        ``extract_load_template.py:102-119``)."""
        state = commit.read_json(self._path(table))
        return None if state is None else Watermark(**state)

    def put(self, wm: Watermark) -> None:
        wm.processed_at = datetime.now(timezone.utc).isoformat()
        commit.replace_file(str(self._path(wm.table_name)), json.dumps(asdict(wm)))


def incremental_filter(
    source: DataFrame,
    event_col: str,
    wm: Watermark | None,
    truncate_to_ms: bool = False,
) -> DataFrame:
    """S2: rows strictly newer than the watermark; full scan when None.

    ``truncate_to_ms`` applies the reference's S3 normalization — needed
    only for ms-precision sources (SQL Server DATETIME2): conservative
    (re-reads the last millisecond on re-run, never skips). µs-precision
    sources (parquet) keep full precision so re-runs are exactly empty.
    The filter is declarative — Catalyst pushes it into the scan (parquet
    min/max row-group pruning; JDBC WHERE-clause pushdown).
    """
    if wm is None or wm.last_event_time is None:
        return source
    ts = wm.last_event_time
    if truncate_to_ms:
        ts = normalize_event_time(ts)
    return source.filter(F.col(event_col) > F.to_timestamp(F.lit(ts)))


def compute_watermark(
    batch: DataFrame, table: str, id_col: str, event_col: str
) -> Watermark:
    """A1: single-row aggregate over the ingested batch — max id, max
    event time, max ingestion date (reference
    ``extract_load_template.py:190-195``). The one permitted collect."""
    row = batch.agg(
        F.max(id_col).alias("last_id"),
        F.date_format(F.max(event_col), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_event_time"
        ),
        F.date_format(F.max(F.to_date(F.col(event_col))), "yyyy-MM-dd").alias(
            "last_ingestion_date"
        ),
    ).collect()[0]
    return Watermark(
        table_name=table,
        last_id=row["last_id"],
        last_event_time=row["last_event_time"],
        last_ingestion_date=row["last_ingestion_date"],
    )
