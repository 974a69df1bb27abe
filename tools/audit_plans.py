"""Generate PLANS.md: the physical-plan audit of the headline queries.

For each query in ``bench.HEADLINE``, records the executed plan's
scale-relevant traits — exchange count, join strategies, scan pushdown
(PushedFilters/ReadSchema), whole-stage codegen, top-k operator — so the
plan shapes claimed in SCALE.md are inspectable evidence, regenerated by
``python tools/audit_plans.py`` whenever plans change.

Two hazard columns (both r6-verdict lessons):

- ``no-NL/CP``: CartesianProduct and BroadcastNestedLoopJoin are flagged,
  EXCEPT a BNL whose build side is a scalar aggregate (a 1-row frame
  attaching a global average/threshold — ``HashAggregate(keys=[]``
  directly inside the broadcast subtree). That shape is bounded and
  benign; rewriting it into a global window to appease this audit is
  what CREATED the r6 scale-killers.
- ``no-1p-win``: a Window operator fed by ``Exchange SinglePartition``
  moves its ENTIRE input through one reducer ("Moving all data to a
  single partition"). Flagged unless the query is in
  ``GLOBAL_WINDOW_OK`` — global windows whose input frame is a grouped
  aggregate on a bounded-cardinality key (|strata|, funnel steps), where
  single-partition is the correct plan.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE  # noqa: E402
from lakehouse_adventureworks2022_spark.plans.catalog import QUERIES  # noqa: E402
from lakehouse_adventureworks2022_spark.session import get_spark  # noqa: E402

#: Queries whose global (empty-partition-spec) window runs over a
#: provably bounded frame — a grouped aggregate keyed on low-cardinality
#: columns — so the single-partition exchange carries O(|key-domain|)
#: rows, not O(input). Each entry documents the bound.
GLOBAL_WINDOW_OK: dict[str, str] = {
    "temperature_mixture": "input = per-stratum counts (|strata| rows)",
    "funnel_conversion": "input = per-step counts (|steps| = 3 rows)",
    "corpus_zipf": "input = top-100 vocabulary (TakeOrderedAndProject "
    "bounds the window frame to <= top_n rows)",
}

#: Queries whose nested-loop join is over provably bounded AGGREGATE
#: frames on both sides (an inequality join of sketch/summary rows —
#: the correct plan; there is no equi-key to hash on). Each entry
#: documents the bound. A data-sized nested loop is never whitelisted.
BOUNDED_NL_OK: dict[str, str] = {
    "audience_overlap": (
        "both sides = per-event-type KMV sketch rows (|types| rows of "
        "k-hash arrays, kilobytes); pair join is |types|^2"
    ),
    "ann_cosine_topk_sq8": (
        "build side = the BROADCAST query batch, capped at "
        "QUERY_BATCH_CAP (similarity.py); the corpus side STREAMS its "
        "int codes past it — the canonical ANN scan shape every tier "
        "uses; no corpus-sized side is ever materialized or shuffled"
    ),
    "ann_cosine_topk_sq8_amortized": (
        "same bounded broadcast-query-batch scan as "
        "ann_cosine_topk_sq8, over the persisted codes index"
    ),
}


def _depth(line: str) -> int:
    """Tree depth of a plan line: length of its branch prefix after
    stripping the whole-stage-codegen ``*(n) `` marker, which prints
    between the branch glyphs and the node name and would otherwise skew
    sibling depths."""
    bare = re.sub(r"\*\(\d+\) ", "", line)
    return re.match(r"[ +\-:]*", bare).end()


def _subtree_lines(lines: list[str], i: int) -> list[str]:
    """Lines belonging to the subtree rooted at ``lines[i]`` in Spark's
    tree-formatted plan string (children are printed below the node at
    strictly greater indentation)."""
    depth = _depth(lines[i])
    out = []
    for line in lines[i + 1 :]:
        if line.strip() and _depth(line) <= depth:
            break
        out.append(line)
    return out


def traits(plan: str) -> dict[str, object]:
    lines = plan.splitlines()
    # count DISTINCT exchange nodes: a persisted subplan prints its
    # lineage once per InMemoryTableScan reference and AQE reuses
    # identical exchanges at runtime (ReusedExchange), so repeated
    # identical exchange lines execute once — dedupe by node text
    # (tree-prefix stripped; expression ids make distinct nodes unique)
    exchange_lines = {
        re.sub(r"^[\s+:*()\d-]*", "", line)
        for line in lines
        if re.search(r"Exchange (?:hash|range|Single)", line)
    }
    # a BNL is benign iff its broadcast build subtree is a scalar
    # aggregate (keys=[] => exactly one row)
    bnl_hazard = False
    bnl_scalar = 0
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        sub = _subtree_lines(lines, i)
        if any("HashAggregate(keys=[]" in s for s in sub) or any(
            "SortAggregate(key=[]" in s for s in sub
        ):
            bnl_scalar += 1
        else:
            bnl_hazard = True
    # a Window fed (directly or through Sort/Project) by an
    # Exchange SinglePartition is a global window: its whole input
    # funnels through ONE reducer
    single_part_window = False
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow(?:GroupLimit)?\b", line):
            continue
        sub = _subtree_lines(lines, i)
        # only inspect until the next shuffle boundary below the window:
        # the first Exchange in the subtree is the one feeding it
        for s in sub:
            if "Exchange" in s:
                if "Exchange SinglePartition" in s:
                    single_part_window = True
                break
    return {
        "exchanges": len(exchange_lines),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "topk": "TakeOrderedAndProject" in plan,
        "cartesian": "CartesianProduct" in plan,
        "bnl_hazard": bnl_hazard,
        "bnl_scalar": bnl_scalar,
        "single_part_window": single_part_window,
        "pushed": bool(re.search(r"PushedFilters: \[(?!\])", plan)),
    }


def codegen_spans(spark, make_df) -> int:
    """Count whole-stage-codegen spans. AQE wraps the plan in
    AdaptiveSparkPlan, hiding codegen until runtime — spans are a static
    property, so inspect the non-adaptive physical plan."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = make_df()._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen stages print as "*(id)" prefixes in the tree string
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("audit")
    lines = [
        "# PLANS — physical-plan audit (generated by tools/audit_plans.py)",
        "",
        f"Executed-plan traits of the bench headline queries at `{sf_dir}`.",
        "`exch` = shuffle exchanges; `bhj`/`smj` = broadcast-hash /",
        "sort-merge joins; `top-k` = TakeOrderedAndProject (no global",
        "sort); `pushdown` = non-empty PushedFilters at a scan; `codegen` =",
        "whole-stage codegen present. `no-NL/CP` flags ✗ on",
        "CartesianProduct or a BroadcastNestedLoopJoin whose build side is",
        "NOT a 1-row scalar aggregate (`s` marks the benign scalar-build",
        "form). `no-1p-win` flags ✗ on a Window fed by Exchange",
        "SinglePartition — the whole input through one reducer — unless the",
        "query's global window provably runs over a bounded grouped",
        "aggregate (whitelist + bound documented in GLOBAL_WINDOW_OK).",
        "",
        "| query | exch | bhj | smj | top-k | pushdown | codegen spans | no-NL/CP | no-1p-win |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    hazards: list[str] = []
    for name in HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        t = traits(plan)
        spans = codegen_spans(spark, lambda: QUERIES[name](spark, sf_dir))
        nl_bad = (t["cartesian"] or t["bnl_hazard"]) and name not in BOUNDED_NL_OK
        nl_cell = (
            "✗"
            if nl_bad
            else (
                "✓b"
                if (t["cartesian"] or t["bnl_hazard"])
                else ("✓s" if t["bnl_scalar"] else "✓")
            )
        )
        win_bad = t["single_part_window"] and name not in GLOBAL_WINDOW_OK
        win_cell = (
            "✗"
            if win_bad
            else ("✓b" if t["single_part_window"] else "✓")
        )
        if nl_bad:
            hazards.append(f"{name}: unbounded nested-loop/cartesian join")
        if win_bad:
            hazards.append(
                f"{name}: single-partition Window over unbounded input"
            )
        lines.append(
            f"| {name} | {t['exchanges']} | {t['broadcast_joins']} |"
            f" {t['sortmerge_joins']} | {'✓' if t['topk'] else ''} |"
            f" {'✓' if t['pushed'] else ''} |"
            f" {spans if spans else '✗'} |"
            f" {nl_cell} | {win_cell} |"
        )
    # ── gate-stage audit for the checkpointed dedup queries (r13
    # ADVICE #5): incremental_dedup/_bloom print their plan after the
    # eager localCheckpoint, so stage-1/2 hazards (broadcast direction,
    # bloom In() pushdown into the state scan) are invisible above —
    # audit the explicit lazy builder with the SAME state the catalog
    # queries read.
    gate_rows: list[str] = []
    try:
        from lakehouse_adventureworks2022_spark.operators.dedup import (
            incremental_dedup_gate_stage,
        )
        from lakehouse_adventureworks2022_spark.plans.text_queries import (
            dedup_fixture,
        )

        batch, hashes, sigs, bloom = dedup_fixture(spark, sf_dir, with_bloom=True)
        for gname, bf in (
            ("incremental_dedup[gate]", None),
            ("incremental_dedup_bloom[gate]", bloom),
        ):
            gate = incremental_dedup_gate_stage(batch, hashes, sigs, bloom=bf)
            gplan = gate._jdf.queryExecution().executedPlan().toString()
            gt = traits(gplan)
            if gt["cartesian"] or gt["bnl_hazard"]:
                hazards.append(f"{gname}: unbounded nested-loop/cartesian join")
            pushed_in = bool(re.search(r"In\(content_hash|content_hash IN", gplan))
            gate_rows.append(
                f"| {gname} | {gt['exchanges']} | {gt['broadcast_joins']} |"
                f" {gt['sortmerge_joins']} | {'✓' if gt['topk'] else ''} |"
                f" {'✓' if gt['pushed'] or pushed_in else ''} | n/a |"
                f" {'✗' if gt['cartesian'] or gt['bnl_hazard'] else '✓'} |"
                f" {'✗' if gt['single_part_window'] else '✓'} |"
            )
    except Exception as e:  # noqa: BLE001 - the gate audit must not kill PLANS.md
        gate_rows.append(f"| incremental_dedup[gate] | audit failed: {e} | | | | | | | |")
    lines += gate_rows
    lines += [
        "",
        "Notes:",
        "- `[gate]` rows audit the LAZY pre-checkpoint stage-1/2 frame of",
        "  the incremental-dedup queries via",
        "  `dedup.incremental_dedup_gate_stage` (the checkpointed queries'",
        "  own printed plans start at the checkpoint's Scan ExistingRDD);",
        "  their `pushdown` cell also accepts the bloom `In(content_hash`",
        "  filter. codegen spans are not re-measured for the gate (n/a).",
        "- `✓s` in no-NL/CP: BroadcastNestedLoopJoin present but every",
        "  build side is a scalar aggregate (HashAggregate(keys=[]) — one",
        "  row attaching a global threshold). `✓b` in no-NL/CP: an",
        "  inequality join of provably bounded aggregate frames on BOTH",
        "  sides (BOUNDED_NL_OK documents each bound — e.g. sketch-pair",
        "  joins have no equi-key and kilobyte inputs). `✓b` in",
        "  no-1p-win: a global window whose input is a bounded grouped",
        "  aggregate (GLOBAL_WINDOW_OK documents each bound).",
        "- `ann_cosine_topk_ivf` plans an Arrow `mapInPandas` stage (cell",
        "  assignment) — codegen applies to the surrounding stages.",
        "- exchange counts are DISTINCT physical-plan exchanges (a",
        "  persisted subplan prints once per InMemoryTableScan reference",
        "  but its exchanges materialize once; AQE likewise reuses",
        "  identical exchanges), before AQE runtime coalescing;",
        "  bucketed-table variants of the fact joins plan 0",
        "  (see tests/test_bucketing.py).",
        "- r13 opt removed the single-action persists (the caches were",
        "  measured as net pessimizations — OPTIMIZATION_r13.md): printed",
        "  exchange counts for `clean_corpus` / `web_corpus_pipeline`",
        "  therefore now show the full re-inlined lineage (e.g.",
        "  web_corpus_pipeline 22 printed with cache nodes → 67 printed",
        "  without), but the DISTINCT identical exchanges still",
        "  materialize once at runtime via ReuseExchange — the measured",
        "  wall time DROPPED with the persists removed.",
        "- `incremental_dedup`/`_bloom` print their plan AFTER the",
        "  batch-sized eager localCheckpoint that cuts the exact-dedup",
        "  stage's lineage (r13 opt — the same posture as",
        "  `host_pagerank`'s in-loop checkpoints): the vs-history +",
        "  exact stages run at build time, so the audited plan covers",
        "  the near-dup/verify tail (99 printed exchanges → 36).",
        "",
    ]
    Path(REPO / "PLANS.md").write_text("\n".join(lines))
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")
    if hazards:
        print("SCALE HAZARDS:", *hazards, sep="\n  ")
        sys.exit(1)


if __name__ == "__main__":
    main()
