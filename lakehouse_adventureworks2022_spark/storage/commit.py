"""Atomic commits for every piece of persisted state — the one module
that renames, replaces or probes for a commit marker. Delta gets this
from its transaction log (reference ``extract_load_template.py:181-209``
writes the checkpoint document by hand); plain files get three
protocols, each built on an atomic POSIX ``os.replace``:

- :func:`replace_file` — one small file (watermarks, pointers,
  applied-batch ledgers): write a tmp sibling, then ``os.replace``. A
  reader sees the old bytes or the new ones, never a torn write.
- :func:`swap_dir` — a directory at a FIXED path that outside readers
  open directly (managed path tables, table snapshots): write a staging
  sibling, rename the live dir to a deterministic trash sibling, rename
  staging in, delete trash. :func:`recover_dir` (run by every reader
  and by the next swap) renames trash back when a crash left the live
  dir missing.
- generation dirs — state this package owns the reader of (indexes,
  dedup state, sketches, persisted corpora)::

      manifest.json        the ONLY commit marker, written last
      gen-00001/base/      the data of a full build
      gen-00001/appends/<tag>-<id>/   one dir per tagged append attempt
      gen-00001/<file>     named blobs (e.g. the dedup bloom)

  The manifest records the layout ``format``, the build ``params``,
  the generation, the committed append tags (each mapped to the dir of
  its committed attempt — the committed tags ARE the applied-batch
  ledger) and the named files. Data is only ever written to a path no
  manifest names yet; :func:`publish` swaps the manifest, then deletes
  whatever it no longer names (superseded generations, replaced
  appends and files, dirs of crashed attempts).

Crash matrix:

- file: crash before ``os.replace`` — old file intact, the tmp sibling
  is ignored and overwritten by the next write.
- swap, before the first rename — live dir intact, staging is an
  orphan the next swap deletes first.
- swap, between rename(live → trash) and rename(staging → live) — live
  missing, trash holds the last COMMITTED data: :func:`recover_dir`
  restores it (the staged write is discarded; its batch replays).
- swap, between rename(staging → live) and the trash delete — live
  holds the new data; :func:`recover_dir` drops the stale trash.
- a path table's write-key sidecar (``storage/tables.py``), which
  records the key of the last write with the files it left:
  - overwrite, before the swap — the sidecar sits in staging beside
    the data it describes; live keeps its old data and old record, so
    a repeat of the crashed write (another key) writes again;
  - partition replace, between the data write and the sidecar's
    :func:`replace_file` — the old record stays, but the table's files
    no longer match it, so the next write happens whatever its key;
  - sidecar's own replace — old record or new, never a torn one.
- generation build, before the manifest write — no manifest (first
  build: :func:`ensure` rebuilds) or the previous one, whose dirs are
  intact (the next new generation clears the partial dir first).
- tagged append, before the manifest write — the committed manifest
  does not name the attempt's dir: the batch is not applied, its
  replay writes a fresh dir. After the write, the tag is committed:
  a replay skips (:func:`fold`, the streaming sinks) or replaces the
  tag's rows (:func:`append`) — never double-counted.
- any swap, before the sweep — unnamed dirs linger, are never read,
  and the next :func:`publish` deletes them.

Rebuildable state (indexes, corpora) treats a manifest in another
``format`` as missing and rebuilds; state that cannot be rebuilt
(folded sketches, appended batches) raises instead — it never restarts
empty. So does a fold dir in a pre-manifest layout; a pre-manifest
dedup state is adopted (:func:`adopt_tables`), appended batches and
all. An unreadable manifest always raises. Streams tag their batches
per checkpoint (:func:`stream_tag`). One writer per dir.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import uuid
from typing import Callable

MANIFEST = "manifest.json"

#: Layout version recorded in every manifest; bump when a build's maths
#: or an on-disk layout change.
FORMAT = 1


def replace_file(path: str, data: str | bytes) -> None:
    """Atomically replace the file at ``path`` with ``data``."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
    os.replace(tmp, path)


def read_json(path, default=None):
    """The JSON document committed at ``path`` (by :func:`replace_file`);
    ``default`` when there is none."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


# ---- fixed-path directory swap ---------------------------------------


def _aside(final: str, kind: str) -> str:
    head, name = os.path.split(os.path.normpath(final))
    return os.path.join(head, f"._{kind}_{name}")


def recover_dir(final: str) -> None:
    """Finish or undo a swap of ``final`` that a crash interrupted."""
    trash = _aside(final, "trash")
    if os.path.exists(trash):
        if os.path.exists(final):
            shutil.rmtree(trash)
        else:
            os.replace(trash, final)


def swap_dir(final: str, write: Callable[[str], None]) -> None:
    """Replace the directory ``final`` with what ``write(staging)``
    writes; readers of ``final`` see the old dir or the new one."""
    staging, trash = _aside(final, "staging"), _aside(final, "trash")
    shutil.rmtree(staging, ignore_errors=True)
    write(staging)
    recover_dir(final)
    if os.path.exists(final):
        os.replace(final, trash)
    os.replace(staging, final)
    shutil.rmtree(trash, ignore_errors=True)


# ---- manifest-committed generation dirs ------------------------------


def read_manifest(d: str) -> dict | None:
    """The manifest at ``d`` as written, None when there is none."""
    return read_json(os.path.join(d, MANIFEST))


def read_committed(
    d: str, kind: str = "state", rebuildable: bool = True
) -> dict | None:
    """The manifest committed at ``d`` in :data:`FORMAT`; None when
    there is none to read (a full build may start). A manifest in
    another format counts as none only for ``rebuildable`` state
    without appended batches; state that cannot be rebuilt — a fold,
    appended batches, a non-rebuildable dir in a pre-manifest layout
    (entries other than ``gen-*``) — raises ``ValueError`` instead of
    restarting empty."""
    manifest = read_manifest(d)
    if manifest is None:
        if not rebuildable and os.path.isdir(d):
            legacy = [n for n in os.listdir(d) if not n.startswith((MANIFEST, "gen-"))]
            if legacy:
                raise ValueError(
                    f"{kind} at {d} is in a pre-manifest layout "
                    f"({', '.join(sorted(legacy))}): it cannot be rebuilt — "
                    f"migrate it or start a new dir"
                )
        return None
    if manifest.get("format") != FORMAT:
        if rebuildable and not manifest.get("appends"):
            return None
        raise ValueError(
            f"{kind} at {d} is in format {manifest.get('format')}, not {FORMAT}: "
            f"it cannot be rebuilt — migrate it or start a new dir"
        )
    return manifest


def committed(d: str, kind: str = "state", rebuildable: bool = True) -> dict:
    """:func:`read_committed`, raising ``FileNotFoundError`` when there
    is no committed state to read."""
    manifest = read_committed(d, kind, rebuildable)
    if manifest is None:
        raise FileNotFoundError(f"no committed {kind} at {d} in format {FORMAT}")
    return manifest


def check_params(d: str, built: dict, wanted: dict, kind: str = "state") -> None:
    """``ValueError`` naming both param sets when ``built`` (recorded
    at build time) is not ``wanted``."""
    if built != wanted:
        was, asked = (
            ", ".join(f"{k}={v!r}" for k, v in p.items()) for p in (built, wanted)
        )
        raise ValueError(
            f"{kind} at {d} was built with {was}, not {asked}: "
            f"pass the recorded params or start a new dir"
        )


def gen_path(d: str, manifest: dict, *parts: str) -> str:
    return os.path.join(d, f"gen-{manifest['gen']:05d}", *parts)


def data_paths(d: str, manifest: dict, *sub: str) -> list[str]:
    """The base dir, then every committed append dir (``sub`` joined to
    each) — one multi-path scan reads the whole committed state."""
    names = ["base"] + [
        os.path.join("appends", name) for name in manifest["appends"].values()
    ]
    return [gen_path(d, manifest, name, *sub) for name in names]


def _prune(parent: str, keep: set[str]) -> None:
    if not os.path.isdir(parent):
        return
    for entry in set(os.listdir(parent)) - keep:
        path = os.path.join(parent, entry)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)


def publish(d: str, manifest: dict) -> dict:
    """Commit ``manifest``, then delete every generation, append dir and
    file under ``d`` that it does not name."""
    replace_file(os.path.join(d, MANIFEST), json.dumps(manifest))
    live = gen_path(d, manifest)
    for old in glob.glob(os.path.join(d, "gen-*")):
        if old != live:
            shutil.rmtree(old, ignore_errors=True)
    # "files" is absent from manifests written before named files existed
    _prune(live, {"base", "appends", *manifest.get("files", {}).values()})
    _prune(os.path.join(live, "appends"), set(manifest["appends"].values()))
    return manifest


def new_generation(d: str, params: dict, write: Callable[[str], dict | None]) -> dict:
    """Commit a full build as the next generation: ``write(base)``
    writes its data and returns extra manifest fields."""
    previous = read_manifest(d) or {}
    manifest = {
        "format": FORMAT,
        "params": params,
        "gen": previous.get("gen", 0) + 1,
        "appends": {},
        "files": {},
    }
    shutil.rmtree(gen_path(d, manifest), ignore_errors=True)
    manifest.update(write(gen_path(d, manifest, "base")) or {})
    return publish(d, manifest)


def ensure(
    d: str,
    params: dict,
    build: Callable[[str], dict | None],
    kind: str = "state",
) -> dict:
    """The manifest committed at ``d``, building (``build(base)``) first
    when none is (see :func:`read_committed`). ``ValueError`` when it
    records other ``params``."""
    manifest = read_committed(d, kind)
    if manifest is None:
        manifest = new_generation(d, params, build)
    check_params(d, manifest["params"], params, kind)
    return manifest


def append(
    d: str,
    manifest: dict,
    tag: str | None,
    write: Callable[[str], dict | None],
) -> dict:
    """Commit one append under ``tag``: ``write(path)`` writes its data
    into a fresh dir and returns manifest fields to update with it. A
    committed tag's replay replaces that tag's rows; no tag = a fresh
    one (not replay-safe)."""
    tag = tag if tag is not None else uuid.uuid4().hex
    name = f"{tag}-{uuid.uuid4().hex[:12]}"
    fields = write(gen_path(d, manifest, "appends", name)) or {}
    return publish(
        d, {**manifest, **fields, "appends": {**manifest["appends"], tag: name}}
    )


def fold(
    d: str,
    tag: int | str,
    params: dict,
    step: Callable[[str], int],
    kind: str = "state",
) -> None:
    """Fold batch ``tag`` into the state at ``d`` exactly once:
    ``step(base)`` writes the merged state (reading the committed one)
    as the next generation's base and returns the batch's row count.
    The manifest records the applied tags, ``n_total`` and ``params``
    (a sketch size that must not change mid-stream); the new state and
    the batch's tag commit in one manifest swap. A fold cannot be
    rebuilt: another format or a pre-manifest layout raises."""
    manifest = read_committed(d, kind=kind, rebuildable=False) or {
        "applied": [], "n_total": 0, "params": params
    }
    if tag in manifest["applied"]:
        return  # re-delivered batch: already folded in
    check_params(d, manifest["params"], params, kind)
    new_generation(
        d, params,
        lambda base: {
            "applied": manifest["applied"] + [tag],
            "n_total": manifest["n_total"] + step(base),
        },
    )


def stream_tag(checkpoint_dir: str, batch_id: int) -> str:
    """The append tag of micro-batch ``batch_id`` of the stream
    checkpointed at ``checkpoint_dir``: Spark numbers batches per
    checkpoint, so two streams feeding one state dir get distinct tags."""
    stream = hashlib.sha1(os.path.abspath(checkpoint_dir).encode()).hexdigest()
    return f"{stream[:8]}-b{batch_id}"


def adopt_tables(d: str, base: str, tables: tuple[str, ...]) -> bool:
    """Copy the Spark tables a pre-manifest layout committed at ``d``
    (each with its ``_SUCCESS``) into the generation base ``base``;
    False, copying nothing, unless all of them are committed. The old
    dirs are left in place, unread."""
    if not all(os.path.exists(os.path.join(d, t, "_SUCCESS")) for t in tables):
        return False
    for t in tables:
        shutil.copytree(os.path.join(d, t), os.path.join(base, t))
    return True
