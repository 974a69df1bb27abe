"""Host-graph analytics over crawl link structure — PageRank power
iteration on the ``(src_host, dst_host, n_links)`` edges that
``textops.host_link_graph`` aggregates out of a crawl. The rank is the
classic crawl-prioritization / quality-prior signal (Page et al. 1999;
CommonCrawl publishes exactly this as its host-level ranks), and on the
training-data side a per-host authority prior that curation mixes into
quality scoring.

Spark-first shape: the edge table is normalized ONCE (per-source
fractions, repartitioned by source and persisted), then every iteration
is one equi-join on the source key + one uniform-key aggregation on the
destination — the Pregel message-passing step expressed as DataFrame
ops. Dangling mass (nodes with no out-edges) and the teleport term are
attached via a ONE-ROW scalar aggregate broadcast join (the plan
audit's whitelisted scalar-NL class) — zero driver-side collects inside
the loop. Lineage is truncated with an eager ``localCheckpoint`` per
iteration, so the plan stays constant-size however many iterations run
(the documented iterative-algorithm posture; Connect note: substitute
persist+count on servers without localCheckpoint).

Reference parity note: the reference pipeline (racenak/
lakehouse-adventureworks2022) has no graph surface — this module is
part of the beyond-reference training-data layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.session import default_parallelism


def _exact_sum(col: str):
    """Sum of a rank-mass column (values in [0, 1]) that does not depend
    on the order Spark merges partial aggregates in: each double is
    rounded once to DECIMAL(38,30) — an absolute step of 1e-30, far
    below any rank's double ulp — and decimal addition is exact, hence
    associative. A plain double ``sum`` differs by ulps whenever
    adaptive planning or shuffle timing reorders the merge, which broke
    run-to-run reproducibility (test_pagerank_deterministic_across_runs)."""
    return F.sum(F.col(col).cast("decimal(38,30)")).cast("double")


def pagerank(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = "n_links",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank by fixed-iteration power method. Returns
    ``(node, rank)`` over every node that appears as a source or a
    destination; ranks sum to 1 (the probability interpretation —
    invariant-tested). Self-loops count like any edge; parallel edges
    should be pre-aggregated into ``weight_col`` (what
    ``host_link_graph`` emits); pass ``weight_col=None`` for the
    unweighted uniform split.

    Scale: per iteration exactly ONE shuffle pair (join on the source
    key — co-located with the edge table's persisted partitioning —
    plus the destination aggregation). The rank frame is (node, rank)
    only: payloads never enter the loop. ``iterations`` is fixed, not
    convergence-tested — the deployment contract for reproducible
    ranks (same input, same output, any cluster size).

    Weight contract: only edges with a positive weight carry mass —
    NULL/zero/negative-weight edges are dropped at normalization (a
    source whose weights sum to 0 would otherwise get NULL fractions
    from 0/0 under non-ANSI SQL — silently reclassified as dangling —
    or throw mid-loop under ``ansi.enabled``; r12 ADVICE). A source
    left with no positive-weight out-edges IS dangling: its mass
    redistributes uniformly like any sink's. Both endpoints of a
    dropped edge still enter the node set (they appeared in the graph),
    so rank conservation holds."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # the edge projection is materialized ONCE up front (r13 opt): the
    # edge list is the host graph — one row per (src, dst) host pair,
    # orders of magnitude smaller than the pages it was extracted from —
    # and it feeds nodes, out-weights and fractions. Without the cut,
    # materializing nodes and frac each re-ran the whole upstream
    # extraction pipeline (measured: two extra full passes per build at
    # sf0.1). localCheckpoint rather than persist: it cuts lineage AND
    # skips the CacheManager machinery (eager physical-planning at
    # persist() time, AQE loss inside cached plans — OPTIMIZATION_r13.md).
    # Fault-tolerance trade (r13 ADVICE, documented in SCALE.md):
    # checkpointed blocks live only on executors — losing one mid-build
    # fails the job instead of recomputing from lineage (and under
    # dynamic allocation idle-executor reclaim can do the same);
    # acceptable for a host-graph-sized frame inside a single batch
    # build, which simply re-runs. Deployments running with
    # spark.dynamicAllocation.enabled should prefer a reliable
    # checkpoint dir or persist(DISK_ONLY) here.
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        w.alias("w"),
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(default_parallelism(edges.sparkSession), "node")
        .persist()
    )
    n = nodes.count()  # bounded: one scalar for the teleport term
    # per-source outgoing fractions, built once and persisted
    # co-partitioned on the join key every iteration reuses. Only
    # positive-weight edges distribute mass (docstring contract) —
    # without the filter a source whose weights sum to 0 yields NULL
    # fractions (0/0) non-ANSI, or a mid-loop throw under ANSI.
    pos = e.filter(F.col("w") > 0)
    out_w = pos.groupBy("src").agg(F.sum("w").alias("out_w"))
    frac = (
        pos.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("frac"))
        .repartition(default_parallelism(edges.sparkSession), "src")
        .persist()
    )
    frac.count()  # materialize before the loop reads it repeatedly
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        contribs = (
            frac.join(ranks, frac["src"] == ranks["node"])
            .select("dst", (F.col("frac") * F.col("rank")).alias("c"))
            .groupBy("dst")
            .agg(_exact_sum("c").alias("contrib"))
        )
        # dangling mass = rank not redistributed by any edge. The total
        # redistributed IS sum(contrib), so dangling = 1 - that sum
        # (ranks sum to 1 by construction) — a one-row aggregate
        # attached by broadcast, never a driver collect in the loop.
        dangling = contribs.agg(
            (1.0 - F.coalesce(_exact_sum("contrib"), F.lit(0.0))).alias(
                "__dangling__"
            )
        )
        ranks = (
            nodes.join(
                contribs, nodes["node"] == contribs["dst"], "left"
            )
            .join(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("__dangling__") / n
                    )
                ).alias("rank"),
            )
            # constant-size plan however many iterations run
            .localCheckpoint(eager=True)
        )
    nodes.unpersist()
    frac.unpersist()
    return ranks


def host_authority(
    df: DataFrame,
    ranks: DataFrame,
    url_col: str = "url",
    out_col: str = "host_authority",
    default: float | None = 0.0,
) -> DataFrame:
    """Attach the per-host PageRank prior to a document frame — the
    consumption side of :func:`pagerank` that curation mixes into
    quality gating/selection (r12 verdict ask #3; this module's
    docstring promise). ``ranks`` is a ``(node, rank)`` frame whose
    nodes are canonical hosts (what :func:`~operators.textops.
    host_link_graph` + :func:`pagerank` produce); the document's host
    is derived from ``url_col`` with the same canonicalizer
    (``textops.canonical_host_col``), so the join key matches by
    construction. Non-URL rows get an empty-string host, match no
    rank row, and take ``default``.

    ``default`` fills unranked hosts (no row in ``ranks``); pass
    ``None`` to leave them NULL — the caller can then distinguish
    "unranked" from "ranked low" (the conservative gate in
    ``prepare_web_corpus`` keeps unranked hosts).

    Scale: host ranks are tiny relative to docs (one row per HOST vs
    billions of pages), so the join is an explicit ``broadcast`` —
    zero doc-side shuffle, plan-pinned in ``tests/test_graph.py``."""
    r = ranks.select(
        F.col("node").alias("__hn__"), F.col("rank").alias(out_col)
    )
    from lakehouse_adventureworks2022_spark.operators.textops import (
        canonical_host_col,
    )

    out = (
        df.withColumn("__host__", canonical_host_col(F.col(url_col)))
        .join(F.broadcast(r), F.col("__host__") == F.col("__hn__"), "left")
        .drop("__hn__", "__host__")
    )
    if default is not None:
        out = out.withColumn(
            out_col, F.coalesce(F.col(out_col), F.lit(float(default)))
        )
    return out
