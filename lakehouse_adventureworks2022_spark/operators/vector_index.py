"""Persisted ANN indexes: one manifest-committed layout for every
``(coarse, codec)`` kind of :class:`similarity.VectorIndex`.

Layout of an index dir::

    manifest.json                 the ONLY commit marker
    gen-00001/base/               the encoded rows (cell-range-clustered
                                  when the kind is ivf)
    gen-00001/appends/<tag>-<id>/ one dir per append_index attempt

The manifest holds the layout ``FORMAT``, the kind and build params
(plus caller recipe keys, e.g. the chunk index's chunking), the current
generation, the committed append tags (each mapped to the dir of its
committed attempt), and the kilobyte driver-side state (centroid
matrix, PQ codebooks, SQ8 mins/scales) — opening an index reads no
parquet before the search itself. It is written LAST, via tmp +
``os.replace`` (the ``WatermarkStore.put`` idiom), and committed data
is never rewritten in place: every write goes to a dir no manifest
names yet, so a crash anywhere leaves either no manifest (the next
:func:`ensure_index` rebuilds) or the previous one, whose dirs are
intact. A dir is deleted only after the manifest that supersedes it is
in place: :func:`recluster_index`/:func:`retrain_index` write
generation N+1, swap the manifest, then delete generation N; a replayed
append tag swaps to its new dir, then deletes the old one. Dirs of
crashed attempts are never read, and the next new generation sweeps
them.

A manifest in another ``FORMAT`` counts as missing (rebuilt by
:func:`ensure_index`). An existing index opened with different build
params raises ``ValueError`` instead of serving an index built with
other settings. One writer per index dir: appends read-modify-write the
manifest.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators.similarity import (
    VectorIndex,
    _build_index,
    _encode,
)

#: Layout/recipe version recorded in every manifest; bump when the
#: build maths or the on-disk layout change.
FORMAT = 1


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.json")


def _gen_dir(index_dir: str, gen: int) -> str:
    return os.path.join(index_dir, f"gen-{gen:05d}")


def _read_manifest(index_dir: str) -> dict | None:
    try:
        with open(_manifest_path(index_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _write_manifest(index_dir: str, manifest: dict) -> None:
    path = _manifest_path(index_dir)
    with open(path + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(path + ".tmp", path)  # atomic on POSIX


def _current(manifest: dict | None) -> bool:
    return manifest is not None and manifest.get("format") == FORMAT


def _committed(index_dir: str) -> dict:
    manifest = _read_manifest(index_dir)
    if not _current(manifest):
        raise FileNotFoundError(
            f"no committed index at {index_dir} in format {FORMAT}"
        )
    return manifest


def _check_params(index_dir: str, built: dict, wanted: dict) -> None:
    if built != wanted:
        raise ValueError(
            f"index at {index_dir} was built with {built}, not {wanted}: "
            f"pass the recorded params or build into a new dir"
        )


def _write_rows(rows: DataFrame, path: str, n_files: int) -> None:
    if "cell" in rows.columns:  # footer min-max tight per file
        rows = rows.repartitionByRange(n_files, "cell").sortWithinPartitions("cell")
    rows.write.mode("overwrite").parquet(path)


def _commit(
    index_dir: str, index: VectorIndex, params: dict, gen: int, n_files: int
) -> dict:
    """Write ``index``'s rows as generation ``gen``, swap the manifest
    to it (no appends: the new base holds every row), then delete every
    other generation — superseded, or left by a crashed attempt."""
    path = _gen_dir(index_dir, gen)
    shutil.rmtree(path, ignore_errors=True)  # a crashed earlier attempt
    _write_rows(index.data, os.path.join(path, "base"), n_files)
    manifest = {
        "format": FORMAT,
        "params": params,
        "gen": gen,
        "appends": {},
        "centroids": None if index.centroids is None else index.centroids.tolist(),
        "codebooks": None if index.codebooks is None else index.codebooks.tolist(),
        "mins": index.mins,
        "scales": index.scales,
    }
    _write_manifest(index_dir, manifest)
    for old in glob.glob(os.path.join(index_dir, "gen-*")):
        if old != path:
            shutil.rmtree(old, ignore_errors=True)
    return manifest


def _array(values):
    import numpy as np

    return None if values is None else np.array(values, dtype=np.float64)


def _open(spark, index_dir: str, manifest: dict) -> VectorIndex:
    """The committed index: base rows, the appends the manifest names
    (one multi-path scan), and the driver-side state."""
    gen = _gen_dir(index_dir, manifest["gen"])
    appends = [
        os.path.join(gen, "appends", name) for name in manifest["appends"].values()
    ]
    return VectorIndex(
        manifest["params"]["coarse"],
        manifest["params"]["codec"],
        base=spark.read.parquet(os.path.join(gen, "base")),
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
    committed in another ``FORMAT`` is rebuilt as a new generation."""
    params = {"coarse": coarse, "codec": codec}
    if coarse == "ivf":
        params.update(n_cells=n_cells, train_cap=train_cap)
    if codec == "pq":
        params.update(m=m, n_codes=n_codes, train_cap=train_cap)
    params.update(recipe or {})
    manifest = _read_manifest(index_dir)
    if not _current(manifest):
        index = _build_index(
            candidates, coarse, codec,
            n_cells=n_cells, train_cap=train_cap, m=m, n_codes=n_codes,
        )
        gen = 1 if manifest is None else manifest.get("gen", 0) + 1
        manifest = _commit(index_dir, index, params, gen, n_files)
    _check_params(index_dir, manifest["params"], params)
    return _open(candidates.sparkSession, index_dir, manifest)


def load_index(spark, index_dir: str) -> VectorIndex:
    """The index committed at ``index_dir`` (base + committed appends);
    ``FileNotFoundError`` if none is."""
    return _open(spark, index_dir, _committed(index_dir))


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

    Each attempt writes a FRESH dir ``appends/<batch_tag>-<id>`` and
    commits by mapping the tag to it in the manifest — a replay of a
    committed tag replaces that tag's rows instead of duplicating them
    (the old dir is deleted only after the swap), and a crash before
    the manifest write leaves the committed index as it was. No tag =
    a fresh one (not replay-safe). ``recipe`` keys must match the ones
    the index was built with."""
    manifest = _committed(index_dir)
    if recipe:
        built = {k: manifest["params"].get(k) for k in recipe}
        _check_params(index_dir, built, dict(recipe))
    tag = batch_tag if batch_tag is not None else uuid.uuid4().hex
    index = _open(new_vectors.sparkSession, index_dir, manifest)
    appends = os.path.join(_gen_dir(index_dir, manifest["gen"]), "appends")
    name = f"{tag}-{uuid.uuid4().hex[:12]}"
    _write_rows(_encode(index, new_vectors), os.path.join(appends, name), n_files)
    replaced = manifest["appends"].get(tag)
    manifest["appends"][tag] = name
    _write_manifest(index_dir, manifest)
    if replaced is not None:
        shutil.rmtree(os.path.join(appends, replaced), ignore_errors=True)


def _rewrite(spark, index_dir: str, retrain: bool, n_files: int) -> None:
    manifest = _committed(index_dir)
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
    _commit(index_dir, index, params, manifest["gen"] + 1, n_files)


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
