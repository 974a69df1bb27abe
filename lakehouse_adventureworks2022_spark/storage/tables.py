"""Managed-table layer: the engine's write semantics (SURVEY.md §2.2).

The reference writes managed Delta tables (append W1, overwrite W2/W4,
CTAS W7, schema DDL W8-W10); this container has no Delta jars, so the
DEFAULT backend provides the same *semantics* over plain parquet paths.
``fmt="delta"`` (r9) is the deployed backend behind the same seam: when
delta-spark is importable, overwrite becomes a transactional snapshot
commit, merge_upsert runs a real ``MERGE INTO`` (file-level
copy-on-write), appends use ``mergeSchema``, and evolved reads come off
the table log. Contract tests parameterize over both backends
(tests/test_schema_evolution.py, tests/test_watermark_storage.py) and
skip-mark delta where jars are absent — semantics stay pinned either
way:

- :meth:`TableManager.append` — bronze-style partitioned append
  (reference ``extract_load_template.py:171-175``);
- :meth:`TableManager.overwrite` — silver/gold rebuild with schema
  overwrite (``dags/product.py:126-130``), made atomic by
  ``commit.swap_dir`` (the reference's overwrite is not atomic — its
  §4.2 anti-pattern);
- :meth:`TableManager.replace_where` — idempotent partition replacement
  for fact loads (fixes the reference's duplicate-on-rerun append,
  ``dags/sales.py:102-106``, SURVEY.md §4.4) via Spark's *dynamic
  partition overwrite* (only the partitions present in the batch are
  replaced — at 100 TB this rewrites one ingestion day, not the table).

Scale notes: every write goes through the normal distributed writer (no
driver collect, no coalesce(1)); `partition_by` keeps bronze/fact data
pruned by ingestion date; bucketing for co-located joins is exposed via
``bucket_by`` on :meth:`overwrite` (saveAsTable path).

Kept writes. On the parquet backend, :meth:`TableManager.overwrite` and
:meth:`TableManager.replace_where` commit a *write key* with the table
(:func:`write_key`): a hash of how the table is written, the frame's
output schema, its canonicalized optimized plan (current-date literals
folded in, attribute ids and names normalized away) and the
``(dev, inode, size, mtime_ns)`` of every file each leaf relation lists.
The key and the identity of the table's own files go into the
``_write_key.json`` sidecar (:data:`WRITE_KEY`). A write whose key and
table files both match that record is skipped: the table already holds
what it would write. A refresh over unchanged (or hard-linked) sources
then rewrites only the tables its delta reaches. A write gets no key,
and always happens, when its plan is nondeterministic, runs user code
the plan string does not show (a Python or JVM UDF), reads anything but
local files, ``range`` or a one-row relation (a ``createDataFrame``
frame, a cached or checkpointed one, JDBC, an object store), or on a
Connect session or ``fmt="delta"``. Like ``make``, the key trusts
``mtime_ns``: a file rewritten in place to the same size within one
timestamp tick reads as unchanged.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import re
import shutil
from pathlib import Path
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession

from lakehouse_adventureworks2022_spark.storage import commit

log = logging.getLogger(__name__)

#: The sidecar committing a table's write key with its files; ``_``-prefixed,
#: so Spark's file listing skips it like ``_SUCCESS``.
WRITE_KEY = "_write_key.json"

#: Tree patterns of functions whose code the plan string names but does
#: not show: a changed closure or jar would read as an unchanged plan.
_OPAQUE_CODE = ("PYTHON_UDF", "EVAL_PYTHON_UDF", "EVAL_PYTHON_UDTF", "SCALA_UDF")

#: Leaves the plan string describes in full; a ``LogicalRelation`` over
#: local files is keyed by its file identities too.
_SELF_DESCRIBED_LEAVES = ("Range", "OneRowRelation")

#: ``maxFields`` for the plan string: no argument list is cut short.
_ALL_FIELDS = 2**31 - 1


def _cols(partition_by: str | list[str] | None) -> list[str]:
    if not partition_by:
        return []
    return [partition_by] if isinstance(partition_by, str) else list(partition_by)


def _local_path(uri: str) -> str | None:
    """The local path of a ``file:`` URI as Hadoop lists it; None for
    any other scheme."""
    parts = urlsplit(uri)
    return unquote(parts.path) if parts.scheme in ("", "file") else None


def _leaf_inputs(relation) -> list | str:
    """What a file relation reads: its format, options, schemas and the
    ``(relpath, dev, inode, size, mtime_ns)`` of every file it lists
    (relpath under its root, which carries partition values); or the
    reason it cannot be keyed."""
    location = relation.location()
    roots = location.rootPaths()
    roots = [_local_path(roots.apply(i).toUri().toString()) for i in range(roots.size())]
    files = [_local_path(u) for u in location.inputFiles()]
    if None in roots or None in files:
        return "a non-local path"
    inputs = []
    for f in sorted(files):
        root = next((r for r in roots if f == r or f.startswith(r.rstrip("/") + "/")), f)
        try:
            st = os.stat(f)
        except OSError:
            return "a missing input file"
        inputs.append([os.path.relpath(f, root), st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns])
    return [
        relation.fileFormat().toString(),
        # the paths read are named by the file identities above
        relation.options().removed("path").removed("paths").toString(),
        relation.dataSchema().json(),
        relation.partitionSchema().json(),
        inputs,
    ]


#: JVM view -> the :data:`_OPAQUE_CODE` pattern objects (each lookup
#: through the view is a round trip per name segment)
_PATTERNS: dict = {}


def _opaque_patterns(jvm) -> list:
    if jvm not in _PATTERNS:
        tree_pattern = jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        _PATTERNS[jvm] = [(p, getattr(tree_pattern, p)()) for p in _OPAQUE_CODE]
    return _PATTERNS[jvm]


def write_key(df: DataFrame, how: dict) -> tuple[str | None, str]:
    """``(key, "")`` for a write of ``df`` described by ``how`` (the
    write's kind and options), or ``(None, reason)`` when the write must
    always happen. Costs one optimizer pass over ``df``'s plan and a
    ``stat`` per input file; runs no Spark job."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return None, "Connect session"
    plan = jdf.queryExecution().optimizedPlan()
    if not plan.deterministic():
        return None, "nondeterministic plan"
    for name, pattern in _opaque_patterns(df.sparkSession._jvm):
        if plan.containsPattern(pattern):
            return None, f"user-defined function ({name})"
    inputs = []
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind in _SELF_DESCRIBED_LEAVES:
            continue
        if kind != "LogicalRelation":
            return None, f"{kind} leaf"
        relation = leaf.relation()
        rel_kind = relation.getClass().getSimpleName()
        if rel_kind != "HadoopFsRelation":
            return None, f"{rel_kind} leaf"
        leaf_inputs = _leaf_inputs(relation)
        if isinstance(leaf_inputs, str):
            return None, f"{kind} leaf over {leaf_inputs}"
        inputs.append(leaf_inputs)
    text = plan.canonicalized().treeString(True, False, _ALL_FIELDS, False, False)
    # expression arguments are cut at spark.sql.debug.maxToStringFields
    if re.search(r"\.\.\. \d+ more fields", text):
        return None, "truncated plan string"
    material = json.dumps([how, df.schema.json(), text, inputs])
    return hashlib.sha256(material.encode()).hexdigest(), ""


def data_files(path: str) -> list:
    """``[relpath, inode, size, mtime_ns]`` of every file Spark reads
    under the directory ``path``: names its listing skips (``_``/``.``)
    are left out, the write-key sidecar among them."""
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for n in sorted(names):
            if n.startswith(("_", ".")):
                continue
            f = os.path.join(root, n)
            st = os.stat(f)
            out.append([os.path.relpath(f, path), st.st_ino, st.st_size, st.st_mtime_ns])
    return out


def _key_record(path: str, key: str) -> str:
    return json.dumps({"key": key, "files": data_files(path)})


def _commit_key(path: str, key: str) -> None:
    """Record ``key`` for the live table at ``path``, after its write."""
    commit.replace_file(os.path.join(path, WRITE_KEY), _key_record(path, key))


def delta_available() -> bool:
    """True when the delta-spark package is importable (the jars ride
    along with the pip package). The test container has neither, so the
    delta-parameterized contract tests skip here and run on a real
    lakehouse deployment — the seam this module documents."""
    import importlib.util

    return importlib.util.find_spec("delta") is not None


class TableManager:
    """Path-addressed managed tables under a warehouse root.

    ``fmt`` is the storage seam: ``"parquet"`` (default — the sandbox
    analog with staged-rename atomicity) or ``"delta"`` (real
    transactional writes when delta-spark is on the session; build the
    session with ``extra_conf={"spark.sql.extensions":
    "io.delta.sql.DeltaSparkSessionExtension",
    "spark.sql.catalog.spark_catalog":
    "org.apache.spark.sql.delta.catalog.DeltaCatalog"}`` — the
    reference's ``spark-defaults.conf:9-10``). Method semantics are
    identical across backends; the contract tests in
    tests/test_schema_evolution.py and tests/test_watermark_storage.py
    parameterize over both and skip delta where jars are absent.
    """

    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        if fmt == "delta" and not delta_available():
            raise ValueError(
                "fmt='delta' requires the delta-spark package (pip "
                "install delta-spark) and its session extension"
            )
        self.spark = spark
        self.root = Path(root)
        self.fmt = fmt

    @property
    def _is_delta(self) -> bool:
        return self.fmt == "delta"

    def path(self, name: str) -> str:
        # one directory per table; dots allowed for layer.table naming
        return str(self.root / name)

    def _live(self, name: str) -> str:
        """The table's path, after restoring it if a crash interrupted
        its last :meth:`overwrite` swap."""
        path = self.path(name)
        commit.recover_dir(path)
        return path

    def exists(self, name: str) -> bool:
        if self._is_delta:
            # a half-initialized dir without a log is not a Delta table
            return (Path(self.path(name)) / "_delta_log").exists()
        return Path(self._live(name)).exists()

    def read(self, name: str) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self._live(name))

    def append(
        self,
        df: DataFrame,
        name: str,
        partition_by: str | list[str] | None = None,
        merge_schema: bool = False,
    ) -> None:
        w = df.write.format(self.fmt).mode("append")
        if merge_schema and self._is_delta:
            # Delta refuses schema-widening appends unless told; plain
            # parquet needs no option (footers are per-file and
            # read_evolved unions them)
            w = w.option("mergeSchema", "true")
        if partition_by:
            w = w.partitionBy(*_cols(partition_by))
        w.save(self._live(name))

    def overwrite(
        self,
        df: DataFrame,
        name: str,
        partition_by: str | list[str] | None = None,
        bloom_filter_cols: tuple[str, ...] = (),
        bloom_ndv: int = 100_000,
    ) -> None:
        """Atomic full rebuild: write to a staging dir, then swap.

        On Delta this is a transactional ``mode("overwrite")`` +
        ``overwriteSchema``; on plain parquet a naive overwrite leaves a
        corrupt table if the job dies mid-write, so ``commit.swap_dir``
        stages the write and swaps it in (a crash between its renames is
        undone by the next :meth:`exists`/:meth:`read`/write). The
        staged dir carries the write key (module docstring), so the
        swap commits the data and its key together; a write whose key
        the table already holds is skipped.

        ``bloom_filter_cols`` writes a parquet bloom filter per listed
        column (sized for ``bloom_ndv`` distinct values per row group):
        point lookups on a non-sort, non-partition key then skip row
        groups whose filter rules the key out — the right index for
        high-cardinality lookup keys (order ids, content hashes) where
        min-max footer stats are useless because every row group spans
        the whole key range. Pure write-side metadata: readers that
        ignore it see a normal parquet table.
        """
        cols = _cols(partition_by)
        bloom = [list(bloom_filter_cols), bloom_ndv] if bloom_filter_cols else None
        key = self._key(
            df, name, {"op": "overwrite", "fmt": self.fmt, "cols": cols, "bloom": bloom}
        )
        self._overwrite(df, name, cols, bloom_filter_cols, bloom_ndv, key)

    def _overwrite(
        self,
        df: DataFrame,
        name: str,
        cols: list[str],
        bloom_filter_cols: tuple[str, ...] = (),
        bloom_ndv: int = 100_000,
        key: str | None = None,
    ) -> None:
        if self._kept(name, key):
            return
        w = df.write.format(self.fmt).mode("overwrite")
        if self._is_delta:
            # Delta's overwrite IS transactional (new snapshot commits
            # atomically in _delta_log; readers see old or new, never a
            # mix) — the staged swap below exists only to give plain
            # parquet the same guarantee. overwriteSchema matches
            # this method's full-rebuild contract. Data files are still
            # parquet, so the bloom-filter options apply unchanged.
            w = w.option("overwriteSchema", "true")
        for c in bloom_filter_cols:
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_ndv)
            )
        if cols:
            w = w.partitionBy(*cols)
        if self._is_delta:
            w.save(self.path(name))
            return

        def write(staging: str) -> None:
            w.save(staging)
            if key is not None:
                # no reader opens staging: the swap commits data and key
                with open(os.path.join(staging, WRITE_KEY), "w") as f:
                    f.write(_key_record(staging, key))

        commit.swap_dir(self.path(name), write)

    def replace_where(
        self, df: DataFrame, name: str, partition_by: str | list[str]
    ) -> None:
        """Idempotent partition-level replacement (Delta ``replaceWhere``
        analog): dynamic partition overwrite rewrites exactly the
        partitions present in ``df`` and leaves the rest untouched.
        The same write works against Delta (dynamic partition overwrite
        is supported there since 2.0), where it additionally commits as
        one transaction. On parquet the write key (module docstring) is
        committed after the write; a crash in between leaves the old
        record, whose files no longer match, so the next call writes."""
        cols = _cols(partition_by)
        key = self._key(df, name, {"op": "replace_where", "fmt": self.fmt, "cols": cols})
        if not self.exists(name):
            # into no table, the replacement IS the full rebuild: its key
            # is this call's, so a repeat of it is kept
            self._overwrite(df, name, cols, key=key)
            return
        if self._kept(name, key):
            return
        path = self.path(name)
        (
            df.write.format(self.fmt)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*cols)
            .save(path)
        )
        if key is not None:
            _commit_key(path, key)

    def _key(self, df: DataFrame, name: str, how: dict) -> str | None:
        """The write key of ``df`` written to ``name`` as ``how`` says;
        None (logged with the reason) when the write must happen."""
        if self._is_delta:
            key, reason = None, "delta backend"
        else:
            key, reason = write_key(df, how)
        if key is None:
            log.debug("no write key for %s: %s", name, reason)
        return key

    def _kept(self, name: str, key: str | None) -> bool:
        """True when the table already holds the write keyed ``key``:
        its sidecar records that key and the files it has now."""
        if key is None:
            return False
        path = self._live(name)
        record = commit.read_json(os.path.join(path, WRITE_KEY))
        if record is None or record["key"] != key or record["files"] != data_files(path):
            return False
        log.info("kept %s: inputs unchanged (write key %s)", name, key[:12])
        return True

    # ---- schema evolution (Delta mergeSchema-append analog) ----------

    #: widenings Delta's mergeSchema accepts silently; everything else
    #: is a loud refusal (never a silent cast or column drop)
    _SAFE_WIDENINGS = {
        ("int", "bigint"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("float", "double"),
        ("date", "timestamp"),
    }

    def append_evolve(
        self, df: DataFrame, name: str, partition_by: str | list[str] | None = None
    ) -> None:
        """Append with additive schema evolution (the Delta
        ``mergeSchema`` write analog, reference
        ``extract_load_template.py:171-175`` with
        ``mergeSchema=true``): new columns are allowed (earlier files
        simply lack them — :meth:`read_evolved` fills nulls), a batch
        whose column is NARROWER than the table's is cast up before
        writing (files stay type-homogeneous — parquet ``mergeSchema``
        cannot reconcile int beside long), and anything else — a WIDER
        batch type (needs a table rewrite via :meth:`overwrite`, plain
        parquet has no metadata-only widening), renames expressed as
        drop+add, or true conflicts — raises before a byte is written.
        Existing columns missing from the batch are written as typed
        nulls so no historical column ever silently disappears."""
        from pyspark.sql import functions as F

        if not self.exists(name):
            self.append(df, name, partition_by=partition_by)
            return
        # the reconciliation target must be the UNION schema across every
        # file generation (mergeSchema), not a plain read: on an
        # already-evolved table a plain read can infer from older footers
        # that lack later-added columns, letting a type-conflicting batch
        # bypass the loud-refusal check and write files read_evolved can
        # no longer reconcile (r6 ADVICE)
        current = {
            f.name: f.dataType.simpleString()
            for f in self.read_evolved(name).schema.fields
        }
        incoming = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        # partition columns live as directory names; their read-side type
        # is whatever partition inference assigns (a "2024-01-01" dir
        # comes back DATE) — the write round-trips through the same
        # string either way, so they are exempt from reconciliation
        part_cols = set(_cols(partition_by))
        conflicts = []
        for col, new_t in incoming.items():
            old_t = current.get(col)
            if old_t is None or old_t == new_t or col in part_cols:
                continue
            if (new_t, old_t) in self._SAFE_WIDENINGS:
                df = df.withColumn(col, F.col(col).cast(old_t))
                continue  # widen the batch up to the table's type
            if (old_t, new_t) in self._SAFE_WIDENINGS:
                conflicts.append(
                    f"{col}: batch {new_t} is wider than table {old_t} — "
                    f"widen the table first (overwrite with the new schema)"
                )
                continue
            conflicts.append(f"{col}: table={old_t} batch={new_t}")
        if conflicts:
            raise ValueError(
                f"schema evolution refused for {name} (only additive "
                f"columns and safe widenings evolve): {'; '.join(conflicts)}"
            )
        for col, old_t in current.items():
            if col not in incoming:
                df = df.withColumn(col, F.lit(None).cast(old_t))
        self.append(df, name, partition_by=partition_by, merge_schema=True)

    def read_evolved(self, name: str, target: DataFrame | None = None) -> DataFrame:
        """Read across schema generations: ``mergeSchema`` unions every
        file footer's schema (files written before a column existed
        yield nulls for it). Pass a ``target`` frame to conform the
        result to its schema — missing columns as typed nulls, safe
        casts applied, extra columns dropped — the read-side half of
        the evolution contract."""
        from pyspark.sql import functions as F

        if self._is_delta:
            # Delta tracks the union schema in the table log; a plain
            # read already yields every generation's columns (older
            # files null-fill) — the parquet-side mergeSchema footer
            # union is exactly what the log replaces.
            df = self.spark.read.format("delta").load(self.path(name))
        else:
            df = (
                self.spark.read.format(self.fmt)
                .option("mergeSchema", "true")
                .load(self._live(name))
            )
        if target is None:
            return df
        cols = []
        have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        for f in target.schema.fields:
            want = f.dataType.simpleString()
            if f.name not in have:
                cols.append(F.lit(None).cast(want).alias(f.name))
            elif have[f.name] == want or (have[f.name], want) in self._SAFE_WIDENINGS:
                cols.append(F.col(f.name).cast(want).alias(f.name))
            else:
                raise ValueError(
                    f"cannot conform {name}.{f.name}: stored "
                    f"{have[f.name]} vs target {want} is not a safe widening"
                )
        return df.select(*cols)

    def read_version(self, name: str, version: int) -> DataFrame:
        """Time travel (r9, delta backend): read the table as of a past
        snapshot (`versionAsOf`). The parquet backend keeps its explicit
        snapshot contract in ``storage/versioned.py`` (`VersionedTable`
        — pointer-file publish, rollback, retention) rather than faking
        log semantics here, so this raises with the pointer."""
        if not self._is_delta:
            raise ValueError(
                "time travel on the parquet backend goes through "
                "storage.versioned.VersionedTable (explicit snapshots); "
                "read_version is the fmt='delta' path"
            )
        return (
            self.spark.read.format("delta")
            .option("versionAsOf", str(version))
            .load(self.path(name))
        )

    def drop(self, name: str) -> None:
        p = Path(self._live(name))
        if p.exists():
            shutil.rmtree(p)

    # ---- catalog-managed variants (bucketing needs table metadata) ----

    def save_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: str | list[str],
        n_buckets: int,
        sort_cols: str | list[str] | None = None,
    ) -> None:
        """Write a bucketed (and optionally sorted) catalog table.

        Bucketing is the core co-location tool at 100 TB (SCALE.md): two
        tables bucketed on the same key with the same bucket count join
        with NO exchange on either side — the shuffle happens once at
        write time instead of per query. Requires the session catalog
        (bucket metadata can't live in bare parquet paths), hence
        ``saveAsTable``; ``spark.sql.warehouse.dir`` controls placement.
        """
        # a table dropped from a *previous* session's in-memory catalog
        # leaves its warehouse directory behind; clear both or
        # saveAsTable fails with LOCATION_ALREADY_EXISTS
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        wh = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = Path(wh.removeprefix("file:")) / table.split(".")[-1]
        if loc.exists():
            shutil.rmtree(loc, ignore_errors=True)

        w = df.write.format(self.fmt).mode("overwrite").bucketBy(
            n_buckets, *_cols(bucket_cols)
        )
        if sort_cols:
            w = w.sortBy(*_cols(sort_cols))
        w.saveAsTable(table)

    def write_clustered(
        self,
        df: DataFrame,
        name: str,
        cluster_by: str | list[str],
        n_files: int | None = None,
    ) -> None:
        """Range-clustered rewrite for data skipping (the OPTIMIZE
        ZORDER analog a plain-parquet lake gets for free on ONE sort
        dimension): ``repartitionByRange`` on the cluster keys gives each
        output file a disjoint key range, then ``sortWithinPartitions``
        orders row groups inside the file — parquet footer min/max stats
        become tight, so a point/range predicate on the cluster column
        prunes whole files and row groups at scan time.

        At 100 TB this is the difference between scanning one file and
        scanning all of them for a selective key predicate; re-run it
        after heavy appends (like OPTIMIZE). Two-dimension skipping is
        implemented as a Morton curve in ``storage/zorder.py``
        (``write_zordered``); beyond that, Delta clustering.
        """
        cols = _cols(cluster_by)
        parted = (
            df.repartitionByRange(n_files, *cols)
            if n_files
            else df.repartitionByRange(*cols)
        )
        self.overwrite(parted.sortWithinPartitions(*cols), name)

    def merge_upsert(
        self,
        source: DataFrame,
        name: str,
        keys: str | list[str],
        delete_col: str | None = None,
        partition_by: str | list[str] | None = None,
    ) -> None:
        """Delta ``MERGE INTO`` analog (r8) in its dominant CDC shape:
        matched keys UPDATE to the source row, unmatched keys INSERT,
        and — when ``delete_col`` names a boolean tombstone column in
        ``source`` — flagged matched keys DELETE (a tombstone for an
        absent key is a no-op, per MERGE semantics).

        The whole merge is ONE anti join + union: rows whose keys are
        untouched pass through, every surviving source row carries its
        own values (update and insert are the same arm once matched
        rows take the source side wholesale — the common upsert case).
        Source must be key-unique — duplicate keys raise, the analog of
        Delta's multiple-source-rows-match error (a nondeterministic
        merge must never write). Atomic staging+swap like
        :meth:`overwrite`; a crash mid-merge leaves the old table.

        Scale: the anti join shuffles on the merge keys (or broadcasts
        a small CDC batch — the usual case, left to AQE); nothing else
        touches the untouched rows. On ``fmt="delta"`` the same call
        runs a REAL ``MERGE INTO`` through DeltaTable (file-level
        copy-on-write: only files holding matched keys rewrite, the
        rest of the table is untouched metadata) — identical semantics,
        strictly less IO on a mostly-cold table.
        """
        from pyspark.sql import functions as F

        key_cols = _cols(keys)
        dup = (
            source.groupBy(*key_cols)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            vals = {k: dup[0][k] for k in key_cols}
            raise ValueError(
                f"merge source has multiple rows for key {vals} — a "
                "nondeterministic merge; deduplicate the source first"
            )
        if self._is_delta and self.exists(name):
            from delta.tables import DeltaTable

            data_cols = [c for c in source.columns if c != delete_col]
            t_cols, s_cols = set(self.read(name).columns), set(data_cols)
            if t_cols != s_cols:
                raise ValueError(
                    f"merge schema mismatch: target-only "
                    f"{sorted(t_cols - s_cols)}, source-only "
                    f"{sorted(s_cols - t_cols)} (use append_evolve for "
                    "additive schema changes first)"
                )
            target_dt = DeltaTable.forPath(self.spark, self.path(name))
            cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in key_cols)
            m = target_dt.alias("t").merge(source.alias("s"), cond)
            if delete_col is not None:
                # NULL tombstone reads as False, matching the parquet arm
                tomb = f"coalesce(s.`{delete_col}`, false)"
                m = (
                    m.whenMatchedDelete(condition=tomb)
                    .whenMatchedUpdate(set={c: f"s.`{c}`" for c in data_cols})
                    .whenNotMatchedInsert(
                        condition=f"NOT {tomb}",
                        values={c: f"s.`{c}`" for c in data_cols},
                    )
                )
            else:
                m = m.whenMatchedUpdateAll().whenNotMatchedInsertAll()
            m.execute()
            return
        tombstones = None
        if delete_col is not None:
            tombstones = source.filter(F.col(delete_col))
            source = source.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        if not self.exists(name):
            nxt = source
        else:
            target = self.read(name)
            t_cols, s_cols = set(target.columns), set(source.columns)
            if t_cols != s_cols:
                raise ValueError(
                    f"merge schema mismatch: target-only {sorted(t_cols - s_cols)}, "
                    f"source-only {sorted(s_cols - t_cols)} (use append_evolve "
                    "for additive schema changes first)"
                )
            touched = source.select(*key_cols)
            if tombstones is not None:
                touched = touched.unionByName(
                    tombstones.select(*key_cols)
                )
            untouched = target.join(touched.distinct(), key_cols, "left_anti")
            nxt = untouched.unionByName(source.select(*target.columns))
        self.overwrite(nxt, name, partition_by=partition_by)

    def compact(
        self, name: str, target_files: int, partition_by: str | list[str] | None = None
    ) -> None:
        """OPTIMIZE analog for path tables: rewrite to ``target_files``
        size-balanced files (small-file compaction after many incremental
        appends — the reference never compacts; SURVEY.md §4 notes)."""
        df = self.read(name).repartition(target_files)
        self.overwrite(df, name, partition_by=partition_by)

    def analyze(self, table: str, columns: list[str] | None = None) -> None:
        """ANALYZE maintenance for catalog tables: table-level row/size
        stats, plus per-column NDV/min/max when ``columns`` given — feeds
        Catalyst's CBO join reordering (SURVEY.md §4 join-reordering row:
        "Optional: spark.sql.cbo.enabled + ANALYZE TABLE in our engine's
        maintenance job"). Path tables rely on parquet footer stats and
        AQE runtime sizes instead."""
        self.spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
        if columns:
            cols = ", ".join(columns)
            self.spark.sql(
                f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}"
            )
