"""Per-layer metrics of a traced run, computed from its spans.

Times and counts measured in the timed window are per timed operation (the
window's total divided by its operation count), so runs that fit a different
number of operations into the same length stay comparable. Set-up metrics
(``session.get_spark_s``) are per set-up repetition.
``task_skew`` is a ratio and is not divided.
"""

from __future__ import annotations

from spans import LAYERS, SPARK_KEYS, descendants_jobs, outermost, self_times, spark_by_layer
from stats import per_round

#: metric → span names whose outermost occurrences it sums, and the phase
TIMED = {
    "session.get_spark_s": ({"session.get_spark"}, "setup"),
    "sources.read_table_s": ({"sources.read_table"}, "window"),
    "sources.watermark_s": ({"sources.watermark"}, "window"),
    "storage.append_s": ({"storage.append"}, "window"),
    "storage.overwrite_s": ({"storage.overwrite"}, "window"),
    "storage.replace_where_s": ({"storage.replace_where"}, "window"),
    "pipeline.bronze_s": ({"pipeline.bronze"}, "window"),
    "pipeline.silver_s": ({"pipeline.silver"}, "window"),
    "pipeline.gold_s": ({"pipeline.gold"}, "window"),
    "pipeline.mart_s": ({"pipeline.mart"}, "window"),
    "plans.construct_s": ({"plans.construct"}, "window"),
    "plans.plan_s": ({"plans.plan"}, "window"),
    "plans.execute_s": ({"plans.execute"}, "window"),
}
#: the SCD2 merge is lazy: it executes inside the write of its snapshot
SCD2_TABLE = "gold.dim_part"
SPARK_UNITS = {"shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
               "spill_bytes": "bytes", "task_s": "s", "task_skew": "ratio"}


def per_layer(spans, groups, samples, untraced, reps: int):
    """``({metric: (value, unit)}, per-query breakdown)`` for a traced run."""
    window = [sp for sp in spans if sp.phase == "window"]
    setup = [sp for sp in spans if sp.phase == "setup"]
    n = max(1, len(samples))
    out: dict[str, tuple[float, str]] = {}

    for name, (names, phase) in TIMED.items():
        pool, per = (setup, reps) if phase == "setup" else (window, n)
        out[name] = (sum(sp.seconds for sp in outermost(pool, names)) / per, "s")

    reads = [sp for sp in window if sp.name == "sources.read_table"]
    out["sources.read_table.calls"] = (len(reads) / n, "count")
    incr = [s for s in samples if s.kind == "incremental"]
    out["sources.rows_new"] = (_mean([s.extra.get("rows_new", 0) for s in incr]), "rows")
    written = [s.extra for s in samples if "bytes_written" in s.extra]
    out["storage.bytes_written"] = (sum(e["bytes_written"] for e in written) / n, "bytes")
    out["storage.files_written"] = (sum(e["files_written"] for e in written) / n, "count")
    in_bytes = sum(e["input_bytes"] for e in written)
    out["storage.write_amp"] = (
        sum(e["bytes_written"] for e in written) / in_bytes if in_bytes else 0.0, "ratio"
    )

    scd2 = outermost(window, {"operators.scd2"}) + [
        sp for sp in window
        if sp.name == "storage.overwrite" and sp.attrs.get("target") == SCD2_TABLE
    ]
    out["operators.scd2_s"] = (sum(sp.seconds for sp in scd2) / n, "s")
    out["operators.scd2.rows_changed"] = (
        _mean([s.extra.get("scd2_rows_changed", 0) for s in incr]), "rows"
    )

    constructs = outermost(window, {"plans.construct"})
    out["plans.eager_jobs"] = (sum(descendants_jobs(window, sp) for sp in constructs) / n, "count")
    plan_spans = outermost(window, {"plans.construct", "plans.plan", "plans.execute"})
    jobs = sum(descendants_jobs(window, sp) for sp in plan_spans)
    out["plans.jobs"] = (jobs / n, "count")
    tree = _subtrees(window, plan_spans)
    out["plans.stages"] = (sum(sp.stages for sp in tree) / n, "count")
    out["plans.tasks"] = (sum(sp.tasks for sp in tree) / n, "count")

    selfs = self_times(window)
    spark = spark_by_layer(window, groups)
    for layer in LAYERS:
        out[f"{layer}.self_s"] = (
            sum(selfs[sp.sid] for sp in window if sp.layer == layer) / n, "s"
        )
        for key in SPARK_KEYS:
            v = spark[layer][key]
            out[f"{layer}.{key}"] = (v if key == "task_skew" else v / n, SPARK_UNITS[key])

    traced, plain = (per_round(x, lambda s: s.seconds) for x in (samples, untraced))
    out["trace.overhead_s"] = (traced - plain, "s")
    out["trace.overhead_pct"] = (100.0 * (traced - plain) / plain, "%")
    out["trace.spans"] = (len(window) / n, "count")
    return out, _per_query(window, selfs)


def _per_query(window, selfs) -> list[dict]:
    """Construct / plan / execute seconds and job counts of every timed
    operation, keyed by its label."""
    rows = []
    kids: dict[int, list] = {}
    for sp in window:
        kids.setdefault(sp.parent, []).append(sp)
    for root in kids.get(None, ()):
        row = {"op": root.attrs.get("label", root.name), "seconds": round(root.seconds, 6),
               "jobs": descendants_jobs(window, root)}
        for sp in kids.get(root.sid, ()):
            key = sp.name.split(".", 1)[-1]
            row[f"{key}_s"] = round(row.get(f"{key}_s", 0.0) + sp.seconds, 6)
            row[f"{key}_jobs"] = row.get(f"{key}_jobs", 0) + descendants_jobs(window, sp)
        rows.append(row)
    return rows


def _subtrees(spans, roots):
    kids: dict[int, list] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)
    out, todo = [], list(roots)
    while todo:
        sp = todo.pop()
        out.append(sp)
        todo.extend(kids.get(sp.sid, ()))
    return out


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0
