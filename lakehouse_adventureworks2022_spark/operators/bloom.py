"""Bloom membership sketch over md5-hex key columns.

The 100-TB problem this solves: ``dedup.incremental_dedup``'s exact
vs-history stage streams the O(corpus) hash-state table past every
ingest batch. On an append-mostly corpus almost every batch row is NEW,
so almost all of that state scan is spent confirming non-membership. A
Bloom filter of the historical content hashes is a kilobytes-to-
megabytes summary that answers "definitely not in history" for free:

- **no false negatives** — a bloom-negative batch row provably has no
  historical twin and skips the state probe entirely;
- false positives (true dups + ``fpr`` × batch) are the ONLY rows that
  still need the exact confirm against the state table, and that tiny
  hash list is pushed into the parquet scan as an ``In()`` filter, so
  footer min/max stats (tight after ``TableManager.write_clustered``)
  and parquet column bloom filters (``bloom_filter_cols``) prune whole
  files and row groups. Exactness is preserved by construction: the
  gate only ever *skips* work for definite-new rows.

Sketch mechanics (public construction — Bloom 1970, CACM 13(7); the
double-hashing scheme is Kirsch & Mitzenmacher, ESA 2006): ``n_hashes``
positions per key derived as ``(h1 + i*h2) mod n_bits`` from the two
64-bit halves of the key's md5 — the engine-wide content hash
(:func:`dedup.content_hash_col`) is already md5-hex, so membership
costs zero additional hashing. The bitmap is an OR-mergeable sketch
like the HLL/CMS/MG/KLL/theta family in :mod:`sketches`: the build is
the same two-phase shape (per-partition partial bitmaps via
``mapInPandas`` → single merge task ORs them), batch blooms OR into the
persisted state bloom on every accepted ingest, and a saturation
monitor (:func:`estimated_fpr`) tells the operator when corpus growth
has outrun the sizing and the bloom should be rebuilt from the hash
table (the index-health re-train pattern).

Reference parity note: the reference pipeline (racenak/
lakehouse-adventureworks2022) has no dedup layer at all — this module
is part of the beyond-reference training-data surface, same scope as
``operators/dedup.py``.
"""

from __future__ import annotations

import math
import os
import struct
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from lakehouse_adventureworks2022_spark.storage import commit

_MAGIC = b"BLM1"
_HEADER = struct.Struct(">4sIQ")  # magic, n_hashes, n_bits


@dataclass(frozen=True)
class BloomFilter:
    """Immutable bloom sketch: ``bits`` is the packed bitmap
    (little-bit-endian within each byte), ``n_hashes`` the probe count."""

    bits: bytes
    n_hashes: int

    @property
    def n_bits(self) -> int:
        return len(self.bits) * 8

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, self.n_hashes, self.n_bits) + self.bits

    @staticmethod
    def from_bytes(raw: bytes) -> "BloomFilter":
        magic, n_hashes, n_bits = _HEADER.unpack(raw[: _HEADER.size])
        if magic != _MAGIC or n_bits != (len(raw) - _HEADER.size) * 8:
            raise ValueError("not a serialized BloomFilter")
        return BloomFilter(bits=raw[_HEADER.size :], n_hashes=n_hashes)


#: single-bitmap ceiling: 2^33 bits = 1 GiB. The build's merge task and
#: the per-task broadcast both hold ONE bitmap, so the sketch must stay
#: comfortably in executor memory. At 1% fpr this covers ~890M distinct
#: hashes — beyond that, raise ``fpr`` (each 10× of p removes ~4.8
#: bits/key; saturation only costs extra exact confirms, never
#: correctness), gate only the hot recent state partition and fall back
#: to the ungated semi-join for the cold tail, or shard bitmaps by hash
#: prefix. Refusing loudly beats silently OOMing a 100-TB ingest.
MAX_BLOOM_BITS = 1 << 33


def bloom_params(n_items: int, fpr: float = 0.01) -> tuple[int, int]:
    """Textbook sizing: bits ``m = -n ln p / (ln 2)^2`` (rounded up to a
    whole number of bytes), probes ``k = (m/n) ln 2``. Raises when the
    sizing exceeds :data:`MAX_BLOOM_BITS` (see its note for the three
    deployment escapes)."""
    n = max(1, n_items)
    m = int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = ((m + 7) // 8) * 8
    if m > MAX_BLOOM_BITS:
        raise ValueError(
            f"bloom sizing for n_items={n_items} at fpr={fpr} needs "
            f"{m} bits > MAX_BLOOM_BITS ({MAX_BLOOM_BITS}); raise fpr, "
            "gate only the recent state partition, or shard by hash "
            "prefix (see MAX_BLOOM_BITS docs)"
        )
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _build_bit_ops():
    """Self-contained bitmap closures (the `_build_kll_ops` pattern):
    everything a Python WORKER executes is a nested function cloudpickle
    serializes BY VALUE, so the driver contract works from any cwd —
    workers never need this package importable (caught by the from-/tmp
    vanilla-session probe; module-level helpers pickle by reference and
    die with ModuleNotFoundError on the executor)."""

    def key_halves(keys):
        # (h1, h2) uint64 halves of md5-hex keys; h2 forced odd so the
        # double-hash stride never degenerates to a single position
        raw = bytes.fromhex("".join(keys))
        pairs = np.frombuffer(raw, dtype=">u8").reshape(-1, 2)
        h1 = pairs[:, 0].astype(np.uint64)
        h2 = pairs[:, 1].astype(np.uint64) | np.uint64(1)
        return h1, h2

    def set_bits(bitmap, keys, n_hashes):
        if not keys:
            return
        n_bits = np.uint64(bitmap.size * 8)
        h1, h2 = key_halves(keys)
        for i in range(n_hashes):
            pos = (h1 + np.uint64(i) * h2) % n_bits
            np.bitwise_or.at(
                bitmap, (pos >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
            )

    def test_bits(bitmap, keys, n_hashes):
        if not keys:
            return np.zeros(0, dtype=bool)
        n_bits = np.uint64(bitmap.size * 8)
        h1, h2 = key_halves(keys)
        ok = np.ones(len(keys), dtype=bool)
        for i in range(n_hashes):
            pos = (h1 + np.uint64(i) * h2) % n_bits
            byte = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
            bit = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
            ok &= (byte & bit) != 0
        return ok

    return {"set": set_bits, "test": test_bits}


def bloom_build(
    df: DataFrame, key_col: str, n_bits: int, n_hashes: int
) -> BloomFilter:
    """Distributed two-phase build (the :mod:`sketches` shape): each
    partition emits ONE partial bitmap row (``mapInPandas``), a single
    merge task ORs the ≤ numPartitions partials, and the driver fetches
    exactly one final bitmap — driver work is one row of ``n_bits/8``
    bytes regardless of corpus size. Null keys are skipped (a null hash
    has no membership)."""
    n_bytes = n_bits // 8
    ops = _build_bit_ops()

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bitmap = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            keys = pdf[key_col].dropna().tolist()
            if keys:
                seen = True
                ops["set"](bitmap, keys, n_hashes)
        if seen:
            yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(n_bytes, dtype=np.uint8)
        for raw in pdf["bitmap"]:
            acc |= np.frombuffer(raw, dtype=np.uint8)
        return pd.DataFrame({"bitmap": [acc.tobytes()]})

    from pyspark.sql import functions as F

    part = df.select(key_col).mapInPandas(partials, schema="bitmap binary")
    row = (
        part.withColumn("__g__", F.lit(1))
        .groupBy("__g__")
        .applyInPandas(lambda pdf: merge(pdf), schema="bitmap binary")
        .head()
    )
    bits = row[0] if row is not None else bytes(n_bytes)
    return BloomFilter(bits=bytes(bits), n_hashes=n_hashes)


def bloom_or(a: BloomFilter, b: BloomFilter) -> BloomFilter:
    """Exact sketch union — same params required (mergeability is what
    lets every accepted ingest batch OR into the persisted state bloom
    without touching history)."""
    if a.n_bits != b.n_bits or a.n_hashes != b.n_hashes:
        raise ValueError("bloom params differ; cannot OR")
    u = np.frombuffer(a.bits, dtype=np.uint8) | np.frombuffer(b.bits, dtype=np.uint8)
    return BloomFilter(bits=u.tobytes(), n_hashes=a.n_hashes)


def contains_col(
    df: DataFrame, key_col: str, bloom: BloomFilter, out_col: str
) -> DataFrame:
    """Append a boolean membership column (Arrow-batched pandas UDF —
    the bitmap rides to executors once per task as a captured constant,
    megabytes at most by construction). False for null keys."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    bits_raw, k = bloom.bits, bloom.n_hashes
    ops = _build_bit_ops()

    @pandas_udf("boolean")
    def probe(keys: pd.Series) -> pd.Series:
        bitmap = np.frombuffer(bits_raw, dtype=np.uint8)
        ok = keys.notna()
        out = np.zeros(len(keys), dtype=bool)
        if ok.any():
            out[ok.to_numpy()] = ops["test"](bitmap, keys[ok].tolist(), k)
        return pd.Series(out)

    return df.withColumn(out_col, probe(F.col(key_col)))


def fill_ratio(bloom: BloomFilter) -> float:
    """Fraction of set bits — the saturation monitor."""
    arr = np.frombuffer(bloom.bits, dtype=np.uint8)
    return float(np.unpackbits(arr).sum()) / bloom.n_bits


def estimated_fpr(bloom: BloomFilter) -> float:
    """Current false-positive rate ``fill^k`` — when this exceeds the
    sizing target by ~4×, rebuild the bloom from the hash-state table
    with fresh :func:`bloom_params` (the index-health re-train pattern;
    correctness is never at risk — saturation only sends more rows to
    the exact confirm)."""
    return fill_ratio(bloom) ** bloom.n_hashes


# ---- persisted sketch file (the dedup state names it in its manifest) ----


def save_bloom(path: str, bloom: BloomFilter) -> None:
    """Atomic single-file write (``commit.replace_file``): a reader
    never observes a torn bitmap, and replaying a save is idempotent."""
    commit.replace_file(path, bloom.to_bytes())


def load_bloom(path: str) -> BloomFilter | None:
    if not os.path.exists(path):
        return None
    with open(path, "rb") as f:
        return BloomFilter.from_bytes(f.read())
