"""Seeded input generator: the only data the engine sees in a benchmark run.

Every table has the schema of the engine's fixture contract (FIXTURES.md):
the TPC-H-shaped star (region, nation, customer, supplier, part, orders,
lineitem), the watermarked ``events`` stream, ``documents`` and
``embeddings``. Value domains follow the same contract (nation names,
part-name words, date ranges, 64-dim unit embeddings), so every catalog
query and its DuckDB oracle run unchanged on generated inputs.

The same ``(seed, sf)`` always yields identical tables. Row counts depend on
``sf`` only, so runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EMBED_DIM = 64
N_LABELS = 10
#: documents draw from a Zipf-weighted vocabulary large enough that BM25's
#: document-frequency stop-listing keeps most terms
VOCAB_SIZE = 2000
EPOCH_US = {
    "1995-01-01": 788_918_400_000_000,
    "2024-01-01": 1_704_067_200_000_000,
}
DAY_US = 86_400_000_000

#: rows per table at sf=1 (documents/embeddings are fixed-size corpora)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
N_DOCUMENTS = 500
N_EMBEDDINGS = 500


def _rows(name: str, sf: float) -> int:
    return max(10, int(round(ROWS_PER_SF[name] * sf)))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _vocabulary(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 9))
        words["".join(rng.choice(letters, n))] = None
    return list(words)


def documents_table(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    vocab = _vocabulary(np.random.default_rng(0))  # fixed vocabulary
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.1
    weights /= weights.sum()
    texts = []
    for _ in range(n):
        k = int(rng.integers(12, 90))
        texts.append(" ".join(vocab[i] for i in rng.choice(VOCAB_SIZE, k, p=weights)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embedding_matrix(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors around ``N_LABELS`` centroids: ``(vectors, labels)``."""
    centers = rng.normal(0, 1, (N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    vecs = 0.35 * centers[labels] + rng.normal(0, 0.125, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def _embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    vecs, labels = embedding_matrix(rng, n)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def events_table(
    rng: np.random.Generator, n: int, first_id: int, start_us: int, span_us: int, n_users: int
) -> pa.Table:
    ts = np.sort(start_us + rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = _rows("customer", sf), _rows("supplier", sf), _rows("part", sf)
    n_ord, n_line, n_ev = _rows("orders", sf), _rows("lineitem", sf), _rows("events", sf)
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": pa.array(
                    EPOCH_US["1995-01-01"] + rng.integers(0, 2404, n_ord) * DAY_US,
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
            "l_shipdate": pa.array(
                EPOCH_US["1995-01-01"] + rng.integers(1, 2500, n_line) * DAY_US,
                pa.timestamp("us"),
            ),
        }
    )
    tables["events"] = events_table(
        rng, n_ev, 0, EPOCH_US["2024-01-01"], 30 * DAY_US, max(10, n_cust // 10)
    )
    tables["documents"] = documents_table(rng, N_DOCUMENTS)
    tables["embeddings"] = _embeddings_table(rng, N_EMBEDDINGS)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


@dataclass(frozen=True)
class MedallionDelta:
    """The seeded change set between a cold and an incremental refresh."""

    changed_parts: tuple[int, ...]
    n_new_events: int
    n_parts: int
    n_events: int


def write_medallion_delta(src_dir: str, out_dir: str, seed: int) -> MedallionDelta:
    """Copy ``src_dir`` to ``out_dir`` with a seeded delta applied: about
    2 % of ``part`` rows change price and about 5 % new ``events`` rows land
    after the last source timestamp (past any watermark the cold run
    stored)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(src_dir):
        if name.endswith(".parquet") and name not in ("part.parquet", "events.parquet"):
            os.link(os.path.join(src_dir, name), os.path.join(out_dir, name))
    part = pq.read_table(os.path.join(src_dir, "part.parquet"))
    n_parts = part.num_rows
    changed = np.sort(rng.choice(n_parts, max(1, n_parts // 50), replace=False))
    prices = part.column("p_retailprice").to_numpy().copy()
    prices[changed] = np.round(prices[changed] + rng.integers(1, 100, changed.size) * 0.5, 1)
    idx = part.schema.get_field_index("p_retailprice")
    _write(part.set_column(idx, "p_retailprice", pa.array(prices)), f"{out_dir}/part.parquet")

    events = pq.read_table(os.path.join(src_dir, "events.parquet"))
    n_events = events.num_rows
    last_us = int(events.column("ts").cast(pa.int64()).to_numpy().max())
    n_users = int(events.column("user_id").to_numpy().max()) + 1
    n_new = max(1, n_events // 20)
    new = events_table(rng, n_new, n_events, last_us + 1_000_000, DAY_US, n_users)
    _write(pa.concat_tables([events, new]), f"{out_dir}/events.parquet")
    return MedallionDelta(tuple(int(k) for k in changed), n_new, n_parts, n_events)


def input_bytes(src_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(src_dir, n))
        for n in os.listdir(src_dir)
        if n.endswith(".parquet")
    )
