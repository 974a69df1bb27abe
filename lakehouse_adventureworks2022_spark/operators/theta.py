"""KMV/theta distinct-set sketches: mergeable bottom-k sketches that
answer the SET-OPERATION questions HLL cannot — estimated distinct
union, INTERSECTION and difference between key groups or corpus
versions ("how many users did both X and Y", "how many docs do two
snapshots share") from kilobyte state, no base-table re-scan.

KMV (k minimum values, Beyer et al. 2007 / the theta-sketch family):
hash every value to a uniform double in [0,1), keep the k smallest
DISTINCT hashes per group. With θ = k-th smallest, distinct ≈ (k−1)/θ
(relative error ~1/√(k−2)); below k distinct the sketch IS the exact
value set. Set ops compose: the union sketch is the k smallest of the
merged hash sets (EXACTLY the sketch of the concatenated input — merge
is lossless w.r.t. the sketch, tested), and the theta intersection
counts common hashes below min(θ_a, θ_b).

Architecture mirrors the KLL/MG family in ``operators/sketches.py``:
a per-partition Arrow pass emits ≤ one bounded partial per
(partition, group) — the shuffle carries k-hash arrays, never values —
then one per-group merge. State is a plain DataFrame (parquet it,
roll it up later with :func:`kmv_merge`). Closures are self-contained
(worker portability, see tests/test_worker_portability.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_K = 1024


def _kmv_schema(df: DataFrame, keys: list) -> str:
    key_part = "".join(
        f"{f.name} {f.dataType.simpleString()}, "
        for f in df.schema.fields
        if f.name in keys
    )
    return key_part + "n_raw long, hashes array<double>"


def _kmv_partial_fn(keys: list, value_col: str, k: int):
    from typing import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        def h(v) -> float:
            d = _hl.md5(str(v).encode("utf-8")).digest()
            return int.from_bytes(d[:8], "big") / 2.0**64

        state: dict = {}  # group key tuple -> (n_raw, set of hashes)
        for pdf in batches:
            sub = pdf[pdf[value_col].notna()]
            if not len(sub):
                continue
            # vectorized grouping; hash only each group's UNIQUE values
            # (hot keys repeat values heavily — hashing per row was the
            # measured cost at 10x stress volume)
            grouped = (
                sub.groupby(keys, sort=False) if keys else [((), sub)]
            )
            for g, gdf in grouped:
                if not isinstance(g, tuple):
                    g = (g,)
                n, s = state.get(g, (0, None))
                if s is None:
                    s = set()
                s.update(h(v) for v in gdf[value_col].unique())
                if len(s) > 4 * k:  # prune: keep the k smallest
                    s = set(sorted(s)[:k])
                state[g] = (n + len(gdf), s)
        if state:
            yield pd.DataFrame(
                [
                    list(g) + [n, sorted(s)[:k]]
                    for g, (n, s) in state.items()
                ],
                columns=keys + ["n_raw", "hashes"],
            )

    return run


def _kmv_merge_fn(keys: list, k: int):
    import pandas as pd

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        merged: set = set()
        for hs in pdf["hashes"]:
            merged.update(hs)
        row = {c: pdf[c].iloc[0] for c in keys}
        row["n_raw"] = int(pdf["n_raw"].sum())
        row["hashes"] = sorted(merged)[:k]
        return pd.DataFrame([row])

    return merge


def kmv_sketches(
    df: DataFrame, keys: list, value_col: str, k: int = DEFAULT_K
) -> DataFrame:
    """One KMV distinct sketch of ``value_col`` per key group. Two
    bounded phases (per-partition partials → per-group merge); the
    exchange carries ≤ k hashes per (partition, group)."""
    partials = df.select(*(keys + [value_col])).mapInPandas(
        _kmv_partial_fn(keys, value_col, k), schema=_kmv_schema(df, keys)
    )
    return kmv_merge(partials, keys=keys, k=k)


def kmv_merge(*sketches: DataFrame, keys: list, k: int = DEFAULT_K) -> DataFrame:
    """Merge sketch frames (per-day/per-version tables) into one sketch
    per group. Lossless w.r.t. the sketch: merge(sk(A), sk(B)) has
    EXACTLY the state of sk(A ∪ B) — the k smallest distinct hashes
    are the same set either way (tested)."""
    from functools import reduce

    unioned = reduce(lambda a, b: a.unionByName(b), sketches)
    schema = _kmv_schema(unioned, keys)
    if keys:
        return unioned.groupBy(*keys).applyInPandas(
            _kmv_merge_fn(keys, k), schema=schema
        )
    return unioned.groupBy(F.lit(1).alias("__g__")).applyInPandas(
        _kmv_merge_fn([], k), schema=schema
    )


def _build_kmv_ops():
    """By-value factory for the KMV estimators (worker portability: the
    mapInPandas closures capture these nested functions, which
    cloudpickle ships by value; module-level helpers would be pickled by
    reference and need the package importable on the worker)."""

    def estimate(hashes: list, k: int) -> float:
        if len(hashes) < k:
            return float(len(hashes))  # below k distinct: exact
        theta = hashes[k - 1]
        return (k - 1) / theta if theta > 0 else float(k)

    def set_estimates(ha: list, hb: list, k: int) -> dict:
        """Theta-style set estimates from two bottom-k hash lists."""
        sa, sb = set(ha), set(hb)
        theta_a = ha[k - 1] if len(ha) >= k else 1.0
        theta_b = hb[k - 1] if len(hb) >= k else 1.0
        theta = min(theta_a, theta_b)
        inter_below = sum(1 for h in sa & sb if h < theta)
        est_inter = inter_below / theta if theta > 0 else 0.0
        union_k = sorted(sa | sb)[:k]
        est_a, est_b = estimate(ha, k), estimate(hb, k)
        est_union = estimate(union_k, k)
        est_union = max(est_union, est_a, est_b, est_inter)
        return {
            "est_a": est_a,
            "est_b": est_b,
            "est_union": est_union,
            "est_intersection": est_inter,
            "est_difference": max(est_a - est_inter, 0.0),
            "est_jaccard": (est_inter / est_union) if est_union > 0 else 0.0,
        }

    return estimate, set_estimates


def kmv_estimate(sketches: DataFrame, keys: list, k: int = DEFAULT_K) -> DataFrame:
    """``(keys..., est_distinct, is_exact)`` from stored sketches —
    one Arrow projection over kilobyte rows."""
    import pandas as pd

    estimate, _ = _build_kmv_ops()

    def fn(batches):
        for pdf in batches:
            out = pdf[keys].copy() if keys else pd.DataFrame(index=pdf.index)
            out["est_distinct"] = [
                estimate(list(hs), k) for hs in pdf["hashes"]
            ]
            out["is_exact"] = [len(hs) < k for hs in pdf["hashes"]]
            yield out

    schema_keys = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in sketches.schema.fields
        if f.name in keys
    )
    schema = (schema_keys + ", " if schema_keys else "") + (
        "est_distinct double, is_exact boolean"
    )
    return sketches.mapInPandas(fn, schema=schema)


_OVERLAP_COLS = (
    "est_a double, est_b double, est_union double, "
    "est_intersection double, est_difference double, est_jaccard double"
)


def kmv_pairwise_overlap(
    sketches: DataFrame, label_col: str, k: int = DEFAULT_K
) -> DataFrame:
    """All label pairs' set estimates from ONE sketch frame:
    ``(label_a, label_b, est_a, est_b, est_union, est_intersection,
    est_difference, est_jaccard)`` for every ``label_a < label_b``.

    The join is sketch×sketch (|labels|² kilobyte rows, nothing
    corpus-sized); estimates are one Arrow projection. This is the
    "which sources/event-types share audiences or documents" question
    HLL state cannot answer."""
    a = sketches.select(
        F.col(label_col).alias("label_a"), F.col("hashes").alias("_ha")
    )
    b = sketches.select(
        F.col(label_col).alias("label_b"), F.col("hashes").alias("_hb")
    )
    joined = a.join(b, F.col("label_a") < F.col("label_b"))

    import pandas as pd

    _, set_estimates = _build_kmv_ops()

    def fn(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                est = set_estimates(list(r["_ha"]), list(r["_hb"]), k)
                rows.append(
                    {"label_a": r["label_a"], "label_b": r["label_b"], **est}
                )
            yield pd.DataFrame(
                rows,
                columns=["label_a", "label_b"]
                + [c.split(" ")[0] for c in _OVERLAP_COLS.split(", ")],
            )

    lt = dict(sketches.dtypes)[label_col]
    return joined.mapInPandas(
        fn, schema=f"label_a {lt}, label_b {lt}, {_OVERLAP_COLS}"
    )
