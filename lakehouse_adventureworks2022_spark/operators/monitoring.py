"""Corpus monitoring operators: distribution drift between snapshots
(beyond-reference scope — the observability a training-data pipeline
runs between ingests to catch source mix shifts, truncation bugs, and
upstream regressions before they reach a training run).

Scale shape: drift profiles are per-source aggregations (low-cardinality
uniform key — one small shuffle per snapshot) joined on source; nothing
is quadratic and nothing depends on corpus order. The exact percentile
holds per-group values in the aggregation buffer — fine up to very large
groups; pass ``exact=False`` at 100 TB to switch to
``approx_percentile`` (t-digest, bounded memory) for the same columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators.textops import tokens_col


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    exact: bool = True,
) -> DataFrame:
    """Per-source snapshot profile: doc count, corpus share, token-count
    mean and median — the summary a drift check compares."""
    toks = F.size(tokens_col(F.col(text_col))).cast("double")
    p50 = (
        F.percentile(toks, F.lit(0.5))
        if exact
        else F.percentile_approx(toks, F.lit(0.5))
    )
    prof = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(toks).alias("mean_tokens"),
        p50.cast("double").alias("p50_tokens"),
    )
    total = prof.agg(F.sum("n_docs").alias("__total__"))
    return prof.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        (F.col("n_docs") / F.col("__total__")).alias("share"),
        "mean_tokens",
        "p50_tokens",
    )


def embedding_profile(
    df: DataFrame, vec_col: str = "embedding", group_col: str = "label"
) -> DataFrame:
    """Per-group embedding-space profile: count, mean vector norm, and
    the group CENTROID (per-dimension mean, dimension-ordered).

    Shape: one (group, dim)-keyed aggregation for the centroid (uniform
    key, rows = vectors × dims — linear) + one group-keyed aggregation
    for the scalars; centroids are |groups| × dim rows of output, tiny.
    """
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    base = df.select(F.col(group_col).alias("grp"), v.alias("v"), norm.alias("nrm"))
    scalars = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg("nrm").alias("mean_norm"),
    )
    centroids = (
        base.select("grp", F.posexplode("v").alias("dim", "val"))
        .groupBy("grp", "dim")
        .agg(F.avg("val").alias("m"))
        .groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
    )
    return scalars.join(centroids, "grp").select(
        F.col("grp").alias(group_col), "n_vecs", "mean_norm", "centroid"
    )


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Per-group embedding-space drift between snapshots ``a`` and
    ``b`` — the signal that catches a silently swapped/retrained
    embedding model or a shifted upstream distribution before training:
    count and mean-norm deltas plus the COSINE between the group
    centroids (1.0 = direction unchanged; a rotated space shows up here
    even when norms match). Groups present on only one side carry null
    stats for the missing side — appearing/vanishing groups ARE drift.
    """
    def _cos(x, y):
        dot = F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda s, t: s + t
        )
        nx = F.sqrt(
            F.aggregate(F.transform(x, lambda p: p * p), F.lit(0.0), lambda s, t: s + t)
        )
        ny = F.sqrt(
            F.aggregate(F.transform(y, lambda p: p * p), F.lit(0.0), lambda s, t: s + t)
        )
        return dot / (nx * ny)

    pa = embedding_profile(a, vec_col, group_col).select(
        group_col,
        F.col("n_vecs").alias("n_a"),
        F.col("mean_norm").alias("mean_norm_a"),
        F.col("centroid").alias("centroid_a"),
    )
    pb = embedding_profile(b, vec_col, group_col).select(
        group_col,
        F.col("n_vecs").alias("n_b"),
        F.col("mean_norm").alias("mean_norm_b"),
        F.col("centroid").alias("centroid_b"),
    )
    return pa.join(pb, group_col, "full_outer").select(
        group_col,
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
        "mean_norm_a",
        "mean_norm_b",
        (F.col("mean_norm_b") - F.col("mean_norm_a")).alias("mean_norm_delta"),
        F.when(
            F.col("centroid_a").isNotNull() & F.col("centroid_b").isNotNull(),
            _cos(F.col("centroid_a"), F.col("centroid_b")),
        ).alias("centroid_cosine"),
    )


def corpus_drift(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    exact: bool = True,
) -> DataFrame:
    """Per-source drift between snapshot ``a`` (before) and ``b``
    (after): count/share/mean/median deltas, full-outer so sources that
    appeared or vanished still surface (their missing side reads as 0
    docs / null token stats — a vanished source IS the signal).

    Output: one row per source —
    ``(source, n_docs_a, n_docs_b, share_a, share_b, share_delta,
    mean_tokens_a, mean_tokens_b, mean_tokens_delta, p50_tokens_a,
    p50_tokens_b, p50_tokens_delta)``.
    """
    pa = corpus_profile(a, text_col, source_col, exact)
    pb = corpus_profile(b, text_col, source_col, exact)
    ra = pa.select(
        "source",
        F.col("n_docs").alias("n_docs_a"),
        F.col("share").alias("share_a"),
        F.col("mean_tokens").alias("mean_tokens_a"),
        F.col("p50_tokens").alias("p50_tokens_a"),
    )
    rb = pb.select(
        "source",
        F.col("n_docs").alias("n_docs_b"),
        F.col("share").alias("share_b"),
        F.col("mean_tokens").alias("mean_tokens_b"),
        F.col("p50_tokens").alias("p50_tokens_b"),
    )
    joined = ra.join(rb, "source", "full_outer")
    zero = lambda c: F.coalesce(F.col(c), F.lit(0.0))  # noqa: E731
    return joined.select(
        "source",
        F.coalesce("n_docs_a", F.lit(0)).alias("n_docs_a"),
        F.coalesce("n_docs_b", F.lit(0)).alias("n_docs_b"),
        zero("share_a").alias("share_a"),
        zero("share_b").alias("share_b"),
        (zero("share_b") - zero("share_a")).alias("share_delta"),
        "mean_tokens_a",
        "mean_tokens_b",
        (F.col("mean_tokens_b") - F.col("mean_tokens_a")).alias(
            "mean_tokens_delta"
        ),
        "p50_tokens_a",
        "p50_tokens_b",
        (F.col("p50_tokens_b") - F.col("p50_tokens_a")).alias(
            "p50_tokens_delta"
        ),
    )


def value_anomalies(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    lookback: int = 20,
    z_threshold: float = 3.0,
    min_history: int = 5,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key windowed anomaly detection: flag each event whose value
    sits more than ``z_threshold`` sample standard deviations from the
    mean of the key's PRECEDING ``lookback`` events (the trailing frame
    excludes the current row — an anomaly must not dilute the baseline
    it is judged against). Events with fewer than ``min_history``
    predecessors are unscored (null z) — cold keys can't alarm.

    Output: the event columns + ``baseline_mean``, ``baseline_std``,
    ``z_score``, ``is_anomaly``.

    Scale: one hash shuffle on the key + per-partition sort; the
    bounded frame holds O(lookback) state per row. A degenerate
    zero-variance baseline scores any deviation as +/-infinity —
    mapped to anomalous iff the value actually differs.

    Determinism: pass ``tiebreak_col`` (e.g. an event id) whenever the
    timestamp can tie within a key — the trailing baseline, and so the
    z-score, depends on the frame order. Without one, ties fall back to
    a CONTENT-DERIVED order (xxhash64 of every event column), which is
    identical under any partition layout — tied rows with identical
    content are interchangeable, so the result is fully deterministic
    either way (layout-independence is tested).
    """
    from pyspark.sql import Window

    # NOT monotonically_increasing_id(): that numbering follows the
    # physical partition layout, so the same data repartitioned could
    # order ties differently and shift every downstream baseline
    tiebreak = (
        F.col(tiebreak_col)
        if tiebreak_col is not None
        else F.xxhash64(*[F.col(c) for c in events.columns])
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), tiebreak)
        .rowsBetween(-lookback, -1)
    )
    out = (
        events.withColumn("baseline_mean", F.avg(value_col).over(w))
        .withColumn("baseline_std", F.stddev_samp(value_col).over(w))
        .withColumn("__n__", F.count(F.lit(1)).over(w))
    )
    z = F.when(
        (F.col("__n__") >= min_history) & (F.col("baseline_std") > 0),
        (F.col(value_col) - F.col("baseline_mean")) / F.col("baseline_std"),
    )
    return (
        out.withColumn("z_score", F.round(z, 6))
        .withColumn(
            "is_anomaly",
            F.when(
                F.col("__n__") < min_history, F.lit(False)
            ).when(
                F.col("baseline_std") == 0,
                F.col(value_col) != F.col("baseline_mean"),
            ).otherwise(F.abs(F.col("z_score")) > z_threshold),
        )
        .drop("__n__")
    )


def ivf_ingest_drift(spark, index_dir: str) -> DataFrame:
    """Per-cell occupancy drift of an ingest-grown ivf index (any
    codec): the BASE rows' cell-share distribution vs the distribution
    of all COMMITTED appended batches (r10 — the online re-train
    trigger the recall-vs-append-fraction sweep in SCALE.md calls for:
    recall decay under frozen centroids is a DRIFT phenomenon, and
    drifted appends show up as appended mass piling into cells out of
    proportion to the base long before recall is measurably gone).
    Both sides come from ``vector_index.load_index``, so only batches
    the manifest committed count.

    Output: one row per cell —
    ``(cell, n_base, n_appended, share_base, share_appended,
    share_delta)`` — full-outer so a cell receiving appends the base
    never had (or starved cells) still surfaces. Aggregate with
    :func:`ivf_retrain_trigger` for the scalar decision.

    Shape: two cell-keyed count aggregations over cell-clustered
    parquet (footer-sorted scans, map-side combine) + one join on the
    bounded cell key — never reads embeddings/codes payload columns."""
    from lakehouse_adventureworks2022_spark.operators.vector_index import (
        load_index,
    )

    index = load_index(spark, index_dir)
    base = index.base
    # no appends yet: zero drift by definition
    appended = base.limit(0) if index.appended is None else index.appended

    def _shares(df: DataFrame, n_name: str, s_name: str) -> DataFrame:
        counts = df.groupBy("cell").agg(F.count(F.lit(1)).alias(n_name))
        tot = F.broadcast(
            counts.agg(F.sum(n_name).cast("double").alias("__tot__"))
        )
        return counts.crossJoin(tot).select(
            "cell",
            n_name,
            (F.col(n_name) / F.greatest(F.col("__tot__"), F.lit(1.0))).alias(
                s_name
            ),
        )

    b = _shares(base, "n_base", "share_base")
    a = _shares(appended, "n_appended", "share_appended")
    return b.join(a, "cell", "full_outer").select(
        "cell",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_appended", F.lit(0)).alias("n_appended"),
        F.coalesce("share_base", F.lit(0.0)).alias("share_base"),
        F.coalesce("share_appended", F.lit(0.0)).alias("share_appended"),
        (
            F.coalesce("share_appended", F.lit(0.0))
            - F.coalesce("share_base", F.lit(0.0))
        ).alias("share_delta"),
    )


def ivf_retrain_trigger(
    drift: DataFrame, tv_threshold: float = 0.25
) -> DataFrame:
    """One-row decision frame over :func:`ivf_ingest_drift` output:
    ``(total_variation, max_cell_delta, n_appended, retrain)`` where
    ``total_variation = 0.5·Σ|share_delta|`` (TV distance between the
    base and appended cell distributions, 0 = identical, 1 = disjoint).

    Threshold guidance from the measured sweep (SCALE.md): iid appends
    sit in a TV noise band well under 0.2 at fixture scale, while the
    drifted append stream that costs ~11 recall points by 50% append
    fraction concentrates its mass into few cells (TV ≥ ~0.4). The
    default 0.25 splits the two regimes with margin; tune per corpus
    by replaying the sweep. A no-appends index reads TV 0 / retrain
    false."""
    agg = drift.agg(
        F.round(F.sum(F.abs(F.col("share_delta"))) / 2.0, 6).alias("__tv__"),
        F.round(F.max(F.abs(F.col("share_delta"))), 6).alias("__mx__"),
        F.sum("n_appended").alias("n_appended"),
    )
    # with zero appended rows every share_appended is 0 and the raw TV
    # degenerates to 0.5 against any base — an empty comparison, not
    # drift; report 0 (nothing has been appended to drift)
    has = F.col("n_appended") > 0
    return agg.select(
        F.when(has, F.col("__tv__")).otherwise(0.0).alias("total_variation"),
        F.when(has, F.col("__mx__")).otherwise(0.0).alias("max_cell_delta"),
        "n_appended",
    ).select(
        "total_variation",
        "max_cell_delta",
        "n_appended",
        (
            (F.col("total_variation") > F.lit(tv_threshold))
            & (F.col("n_appended") > 0)
        ).alias("retrain"),
    )
