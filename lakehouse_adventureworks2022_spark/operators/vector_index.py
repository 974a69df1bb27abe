"""Persisted ANN indexes: every ``(coarse, codec)`` kind of
:class:`similarity.VectorIndex` in one manifest-committed generation
dir (``storage/commit.py`` — the layout, the write-last manifest and the
crash matrix live there).

``base/`` holds the encoded rows (cell-range-clustered when the kind is
ivf), ``appends/<tag>-<id>/`` one dir per :func:`append_index`
attempt. The manifest records the kind and build params (plus caller
recipe keys, e.g. the chunk index's chunking) and the kilobyte
driver-side state (centroid matrix, PQ codebooks, SQ8 mins/scales) —
opening an index reads no parquet before the search itself.
:func:`recluster_index`/:func:`retrain_index` commit generation N+1;
a replayed append tag commits its new dir; what a manifest swap
supersedes is deleted after it.

A manifest in another ``commit.FORMAT`` counts as missing (rebuilt by
:func:`ensure_index` unless it holds appended batches). An existing
index opened with different build params raises ``ValueError``
instead of serving an index built with other settings. One writer per
index dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators.similarity import (
    VectorIndex,
    _build_index,
    _encode,
)
from lakehouse_adventureworks2022_spark.storage import commit


def _write_rows(rows: DataFrame, path: str, n_files: int) -> None:
    if "cell" in rows.columns:  # footer min-max tight per file
        rows = rows.repartitionByRange(n_files, "cell").sortWithinPartitions("cell")
    rows.write.mode("overwrite").parquet(path)


def _write_index(index: VectorIndex, base: str, n_files: int) -> dict:
    """Write ``index``'s rows as a generation's base; its driver-side
    state becomes manifest fields."""
    _write_rows(index.data, base, n_files)
    return {
        "centroids": None if index.centroids is None else index.centroids.tolist(),
        "codebooks": None if index.codebooks is None else index.codebooks.tolist(),
        "mins": index.mins,
        "scales": index.scales,
    }


def _array(values):
    import numpy as np

    return None if values is None else np.array(values, dtype=np.float64)


def _open(spark, index_dir: str, manifest: dict) -> VectorIndex:
    """The committed index: base rows, the appends the manifest names
    (one multi-path scan), and the driver-side state."""
    base, *appends = commit.data_paths(index_dir, manifest)
    return VectorIndex(
        manifest["params"]["coarse"],
        manifest["params"]["codec"],
        base=spark.read.parquet(base),
        appended=spark.read.parquet(*appends) if appends else None,
        centroids=_array(manifest["centroids"]),
        codebooks=_array(manifest["codebooks"]),
        mins=manifest["mins"],
        scales=manifest["scales"],
    )


def ensure_index(
    candidates: DataFrame,
    index_dir: str,
    coarse: str = "ivf",
    codec: str = "raw",
    n_cells: int | None = 16,
    train_cap: int | None = 2048,
    m: int = 16,
    n_codes: int = 32,
    recipe: dict | None = None,
    n_files: int = 16,
) -> VectorIndex:
    """Open the index committed at ``index_dir``, building it from
    ``(vec_id, embedding)`` candidates first when no manifest exists.
    The build is deterministic, so a rebuild after a crash agrees
    bit-for-bit with the index it replaces.

    Only the params the kind uses are recorded (``n_cells``/
    ``train_cap`` for ivf, ``m``/``n_codes``/``train_cap`` for pq;
    ``n_cells``/``train_cap`` None = corpus-scaled cells), plus every
    ``recipe`` key — how the caller derived the candidates. A committed
    index recorded with other values raises ``ValueError``; one
    committed in another ``commit.FORMAT`` is rebuilt as a new generation."""
    params = {"coarse": coarse, "codec": codec}
    if coarse == "ivf":
        params.update(n_cells=n_cells, train_cap=train_cap)
    if codec == "pq":
        params.update(m=m, n_codes=n_codes, train_cap=train_cap)
    params.update(recipe or {})

    def build(base: str) -> dict:
        index = _build_index(
            candidates, coarse, codec,
            n_cells=n_cells, train_cap=train_cap, m=m, n_codes=n_codes,
        )
        return _write_index(index, base, n_files)

    manifest = commit.ensure(index_dir, params, build, "index")
    return _open(candidates.sparkSession, index_dir, manifest)


def load_index(spark, index_dir: str) -> VectorIndex:
    """The index committed at ``index_dir`` (base + committed appends);
    ``FileNotFoundError`` if none is."""
    return _open(spark, index_dir, commit.committed(index_dir, "index"))


def append_index(
    new_vectors: DataFrame,
    index_dir: str,
    batch_tag: str | None = None,
    n_files: int = 4,
    recipe: dict | None = None,
) -> None:
    """Add ``(vec_id, embedding)`` vectors to a committed index WITHOUT
    retraining: assigned to the FROZEN centroids and encoded with the
    FROZEN codec state, so existing rows never rewrite and old results
    stay stable (drift re-training is :func:`retrain_index`).

    One :func:`commit.append` under ``batch_tag``: a replay of a
    committed tag replaces that tag's rows instead of duplicating them,
    and a crash before the manifest write leaves the committed index as
    it was. No tag = a fresh one (not replay-safe). ``recipe`` keys
    must match the ones the index was built with."""
    manifest = commit.committed(index_dir, "index")
    if recipe:
        built = {k: manifest["params"].get(k) for k in recipe}
        commit.check_params(index_dir, built, dict(recipe), "index")
    index = _open(new_vectors.sparkSession, index_dir, manifest)
    commit.append(
        index_dir, manifest, batch_tag,
        lambda path: _write_rows(_encode(index, new_vectors), path, n_files),
    )


def _rewrite(spark, index_dir: str, retrain: bool, n_files: int) -> None:
    manifest = commit.committed(index_dir, "index")
    index = _open(spark, index_dir, manifest)
    params = manifest["params"]
    if retrain:
        if (index.coarse, index.codec) != ("ivf", "raw"):
            raise ValueError(
                f"index at {index_dir} is ({index.coarse}, {index.codec}): "
                f"retraining needs the raw vectors of an ivf/raw index"
            )
        index = _build_index(
            index.data.select(F.col("cand_id").alias("vec_id"), "embedding"),
            "ivf", "raw",
            n_cells=params["n_cells"], train_cap=params["train_cap"],
        )
    commit.new_generation(
        index_dir, params, lambda base: _write_index(index, base, n_files)
    )


def recluster_index(spark, index_dir: str, n_files: int = 16) -> None:
    """Fold the committed append batches into one rewritten base: after
    many :func:`append_index` batches, probe pruning reads one file per
    probed cell PER APPEND — rewrite the rows clustered once (the
    OPTIMIZE policy of any clustered table). The state is untouched,
    so results cannot change."""
    _rewrite(spark, index_dir, retrain=False, n_files=n_files)


def retrain_index(spark, index_dir: str, n_files: int = 16) -> None:
    """Full re-train of a grown ivf/raw index — the cure
    ``monitoring.ivf_retrain_trigger`` prescribes when drifted appends
    have outrun the frozen centroids: the recorded build params train
    new centroids on the CURRENT population (base + committed appends)
    and every vector is re-assigned. Deterministic like the build; one
    build over the grown population, paid only when the drift trigger
    fires."""
    _rewrite(spark, index_dir, retrain=True, n_files=n_files)
