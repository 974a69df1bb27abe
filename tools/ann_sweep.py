"""ANN parameter sweep: recall-vs-latency for the IVF family against
the exact brute-force top-k, printed as one JSON line.

The sweep answers the deployment question directly — "which n_probe do
I run at my recall target?" — instead of guessing: for each n_probe it
measures median search wall-time (noop sink, warm index) and recall@k
vs the exact result on the same fixture.

Usage: python tools/ann_sweep.py [sf_dir] [k]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from lakehouse_adventureworks2022_spark.operators import similarity  # noqa: E402
from lakehouse_adventureworks2022_spark.operators.vector_index import (  # noqa: E402
    append_index,
    ensure_index,
    load_index,
)
from lakehouse_adventureworks2022_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("ann-sweep")
    q, cand = similarity.embedding_queries(spark, sf_dir)

    exact = {
        (r["query_id"], r["cand_id"])
        for r in similarity.cosine_topk(q, cand, k=k).collect()
    }
    n_q = len({a for a, _ in exact})

    index = similarity._build_index(cand, "ivf", "raw")
    index.base = index.base.persist()
    index.base.count()  # warm the index like a deployed search would

    sweep = []
    for n_probe in (1, 2, 4, 8, 16):
        times = []
        for _ in range(3):
            t = time.perf_counter()
            similarity.search_index(
                index, q, k=k, n_probe=n_probe
            ).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        got = {
            (r["query_id"], r["cand_id"])
            for r in similarity.search_index(
                index, q, k=k, n_probe=n_probe
            ).collect()
        }
        sweep.append(
            {
                "n_probe": n_probe,
                "recall": round(len(got & exact) / len(exact), 4),
                "median_search_sec": round(statistics.median(times), 3),
            }
        )
    index.base.unpersist()

    pq_sweep = []
    for rerank in (2, 8, 16):
        times = []
        for _ in range(3):
            t = time.perf_counter()
            similarity.cosine_topk_pq(
                q, cand, k=k, rerank=rerank
            ).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        got = {
            (r["query_id"], r["cand_id"])
            for r in similarity.cosine_topk_pq(
                q, cand, k=k, rerank=rerank
            ).collect()
        }
        pq_sweep.append(
            {
                "rerank": rerank,
                "recall": round(len(got & exact) / len(exact), 4),
                "median_sec_incl_encode": round(statistics.median(times), 3),
            }
        )

    ingest = ingest_growth_sweep(spark, q, cand, k=k)
    ingest_drift = ingest_growth_sweep(spark, q, cand, k=k, drift=True)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "k": k,
                "n_queries": n_q,
                "ivf": sweep,
                "pq": pq_sweep,
                "ingest_growth": ingest,
                "ingest_growth_drifted": ingest_drift,
            }
        )
    )
    spark.stop()


def _drifted(df):
    """Deterministic distribution shift for the append stream: push
    mass onto coordinate 0 and renormalize — the 'new topic' an ingest
    stream develops that the frozen centroids never trained on."""
    v = F.col("embedding")
    shifted = F.transform(
        v, lambda x, i: F.when(i == 0, x + F.lit(0.75)).otherwise(x)
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(shifted, lambda x: x * x),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    return df.withColumn(
        "embedding",
        F.when(norm > 0, F.transform(shifted, lambda x: x / norm)).otherwise(
            shifted
        ),
    )


def ingest_growth_sweep(
    spark, q, cand, k: int = 10, n_probe: int = 4, drift: bool = False
):
    """Recall decay of an ingest-GROWN index (r10 — frozen centroids:
    appended vectors land in the nearest EXISTING cell, so the cell
    geometry drifts away from the data as appends accumulate). For each
    append fraction f (appends / base), measures recall@k at fixed
    n_probe for (a) the grown index — base-trained centroids, appends
    via append_index — and (b) a from-scratch rebuild over the same
    corpus, the ceiling a re-train would restore. The gap (b)-(a) is
    the price of NOT re-training, which is what sets the re-cluster
    cadence: re-train when the gap crosses your recall budget.

    ``drift=False`` appends iid vectors (same distribution as the
    base): frozen centroids assign them exactly as a fresh assignment
    would, so this curve isolates pure-volume effects. ``drift=True``
    shifts the append stream's distribution (:func:`_drifted`) — the
    case that actually decays a frozen-centroid index and the one the
    cadence threshold comes from."""
    import tempfile

    half = cand.filter(F.col("vec_id") % 2 == 0)  # the frozen base
    rest = cand.filter(F.col("vec_id") % 2 == 1)
    if drift:
        rest = _drifted(rest)
    h = (F.col("vec_id") / 2).cast("long")  # odd-half ordinal

    idx = tempfile.mkdtemp(prefix="ann_ingest_sweep_")
    ensure_index(half, idx)

    # DISJOINT daily-batch increments; cumulative coverage of the odd
    # half after each step: 0 → 1/8 (~12.5% of base) → 1/2 (~50%) →
    # all (~100%). Each lands as its own append_index batch, the
    # exact ingest pattern the amortized queries use.
    steps = (
        (0, None),
        (12, h % 8 == 0),
        (50, (h % 2 == 0) & (h % 8 != 0)),
        (100, h % 2 != 0),
    )
    out = []
    corpus = half
    for frac_pct, inc_pred in steps:
        if inc_pred is not None:
            increment = rest.filter(inc_pred)
            corpus = corpus.unionByName(increment)
            append_index(increment, idx, batch_tag=f"sweep_{frac_pct}")
        exact = {
            (r["query_id"], r["cand_id"])
            for r in similarity.cosine_topk(q, corpus, k=k).collect()
        }
        got = {
            (r["query_id"], r["cand_id"])
            for r in similarity.search_index(
                load_index(spark, idx), q, k=k, n_probe=n_probe
            ).collect()
        }
        grown_recall = len(got & exact) / len(exact)
        rebuilt = similarity._build_index(corpus, "ivf", "raw")
        got_reb = {
            (r["query_id"], r["cand_id"])
            for r in similarity.search_index(
                rebuilt, q, k=k, n_probe=n_probe
            ).collect()
        }
        rebuilt_recall = len(got_reb & exact) / len(exact)
        out.append(
            {
                "append_frac_pct": frac_pct,
                "n_probe": n_probe,
                "grown_recall": round(grown_recall, 4),
                "rebuilt_recall": round(rebuilt_recall, 4),
                "retrain_gap": round(rebuilt_recall - grown_recall, 4),
            }
        )
    return out


if __name__ == "__main__":
    main()
