"""Versioned path tables: a snapshot/time-travel analog for plain
parquet (Delta keeps this in its transaction log — reference
``spark-defaults.conf:9-10``; here each overwrite lands in a new
snapshot directory and an atomic pointer file names the current one).

What this honestly provides: read-your-history (``read(version=...)``),
atomic publish (readers never see a half-written snapshot — the pointer
moves only after the write completes), rollback (re-point), and bounded
retention. What it does NOT provide (Delta does): row-level change
feeds, concurrent-writer conflict detection, or snapshot isolation
ACROSS tables. Single-writer-per-table is the assumed discipline, same
as every path-table write in this engine.

Layout::

    <root>/<name>/_v00001/...parquet
    <root>/<name>/_v00002/...parquet
    <root>/<name>/_CURRENT        # text file: "2"
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from lakehouse_adventureworks2022_spark.storage import commit


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str, name: str, fmt: str = "parquet"):
        self.spark = spark
        self.dir = Path(root) / name
        self.fmt = fmt

    def _pointer(self) -> Path:
        return self.dir / "_CURRENT"

    def current_version(self) -> int:
        """0 when the table does not exist yet."""
        p = self._pointer()
        return int(p.read_text().strip()) if p.exists() else 0

    def versions(self) -> list[int]:
        if not self.dir.exists():
            return []
        return sorted(
            int(d.name[2:]) for d in self.dir.glob("_v*") if d.is_dir()
        )

    def _snapshot_dir(self, version: int) -> Path:
        return self.dir / f"_v{version:05d}"

    def write(self, df: DataFrame, keep: int = 3) -> int:
        """Publish a new snapshot atomically; returns its version.

        The snapshot lands via ``commit.swap_dir`` (a staging sibling
        renamed into place only after the save completes), THEN the
        pointer moves (``commit.replace_file``). A crash mid-write
        therefore leaves the previous version current and only a
        ``._staging_`` dir that ``versions()``/``read()`` never see — no
        window where a half-written snapshot is listed as valid history.
        """
        # Never reuse a snapshot directory: after rollback() the pointer
        # is behind the highest on-disk version, and current+1 would
        # overwrite a historical snapshot in place (non-atomic). Allocate
        # past everything that exists instead.
        version = max(self.versions() + [self.current_version()]) + 1
        commit.swap_dir(
            str(self._snapshot_dir(version)),
            lambda staging: df.write.format(self.fmt).save(staging),
        )
        commit.replace_file(str(self._pointer()), str(version))
        # retention: drop snapshots older than the kept window (never the
        # current one, even if keep=0 is passed)
        for v in self.versions():
            if v <= version - max(keep, 1):
                shutil.rmtree(self._snapshot_dir(v), ignore_errors=True)
        return version

    def read(self, version: int | None = None) -> DataFrame:
        """Current snapshot, or time-travel to an explicit version."""
        v = version if version is not None else self.current_version()
        snap = self._snapshot_dir(v)
        if not snap.exists():
            raise FileNotFoundError(
                f"version {v} of {self.dir.name} does not exist "
                f"(have {self.versions()}; retention may have pruned it)"
            )
        return self.spark.read.format(self.fmt).load(str(snap))

    def rollback(self, version: int, prune_newer: bool = False) -> None:
        """Re-point current to an existing older snapshot.

        Like Delta ``RESTORE``, history is PRESERVED by default: the
        newer snapshots stay readable (``read(version=...)``) until
        retention ages them out — a rollback to the wrong version during
        an incident must never destroy the good snapshots, and
        ``write()`` never reuses their directories (it allocates past
        the on-disk maximum). Pass ``prune_newer=True`` to explicitly
        discard the abandoned timeline once the rollback is confirmed.
        """
        if version not in self.versions():
            raise FileNotFoundError(
                f"cannot roll back to missing version {version} "
                f"(have {self.versions()})"
            )
        commit.replace_file(str(self._pointer()), str(version))
        if prune_newer:
            for v in self.versions():
                if v > version:
                    shutil.rmtree(self._snapshot_dir(v), ignore_errors=True)
