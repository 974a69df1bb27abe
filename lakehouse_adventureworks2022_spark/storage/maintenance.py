"""Table maintenance job: the operational composite SCALE.md prescribes
(the reference never compacts or analyzes — SURVEY.md §4 small-file
note) — run per table on a schedule, after heavy append cycles.

Each step is the already-tested primitive from ``TableManager``:

1. **compact** — rewrite to size-balanced files (incremental appends
   leave one small file per trigger/batch; scan cost at 100 TB is
   dominated by file count once files drop under ~100 MB);
2. **cluster** — range-cluster on the table's dominant filter key so
   parquet min/max footer stats prune whole files
   (``write_clustered``);
3. **analyze** — table + column stats into the session catalog for
   CBO join reordering (catalog tables only; path tables rely on
   footer stats + AQE).

Idempotent by construction: every step is a full rewrite or a stats
refresh; re-running is safe.

Ingest-grown ANN indexes get the same treatment
(:func:`run_index_maintenance`, r11): on the compaction cadence each
index's append-vs-base cell distribution is checked with the
TV-distance trigger (``monitoring.ivf_retrain_trigger``), and the
index is either RE-TRAINED (drifted appends — frozen centroids are
costing recall), RE-CLUSTERED (healthy appends — fold the per-batch
file sets into the base, centroids untouched), or left alone.
"""

from __future__ import annotations

from dataclasses import dataclass

from lakehouse_adventureworks2022_spark.storage.tables import TableManager


@dataclass
class MaintenancePlan:
    """Per-table maintenance directive."""

    table: str
    target_files: int | None = None  # compact to N files
    cluster_by: str | list[str] | None = None  # range-cluster key(s)
    analyze_table: str | None = None  # catalog name for ANALYZE
    analyze_columns: list[str] | None = None


def run_maintenance(tm: TableManager, plans: list[MaintenancePlan]) -> dict[str, list[str]]:
    """Execute each plan; returns {table: [steps run]} for observability."""
    done: dict[str, list[str]] = {}
    for p in plans:
        steps: list[str] = []
        if p.cluster_by is not None:
            # clustering IS a compaction (full rewrite) — run instead of
            # plain compact when both are requested
            tm.write_clustered(
                tm.read(p.table), p.table, p.cluster_by, n_files=p.target_files
            )
            steps.append("cluster")
        elif p.target_files is not None:
            tm.compact(p.table, p.target_files)
            steps.append("compact")
        if p.analyze_table is not None:
            tm.analyze(p.analyze_table, p.analyze_columns)
            steps.append("analyze")
        done[p.table] = steps
    return done


@dataclass
class IndexMaintenancePlan:
    """Per-index maintenance directive for an ingest-grown ivf index
    (``vector_index.append_index`` batches under ``index_dir``); a
    retrain reuses the build params its manifest records."""

    index_dir: str
    tv_threshold: float = 0.25  # monitoring.ivf_retrain_trigger default
    n_files: int = 16  # rewrite width for retrain/recluster


def run_index_maintenance(
    spark, plans: list[IndexMaintenancePlan]
) -> dict[str, dict]:
    """Check every ingest-grown index on the maintenance cadence and
    apply the right rewrite (r11 — operationalizes the SCALE.md
    recall-vs-append-fraction sweep that motivated the trigger):

    - ``retrain`` when the TV-distance trigger fires — appended mass is
      piling into cells out of proportion to the base, which is how
      recall decay under frozen centroids shows up long before recall
      itself is measurable online (``vector_index.retrain_index``:
      fresh centroids over the grown population);
    - ``recluster`` when appends exist but the distribution is healthy —
      the routine small-file fold-in, centroids untouched so results
      cannot change (``vector_index.recluster_index``);
    - ``none`` when nothing has been appended.

    Returns ``{index_dir: {total_variation, max_cell_delta, n_appended,
    action}}`` for observability. The drift check reads only the cell
    key column of cell-clustered files; retrain is the only step that
    touches embeddings, and it runs only when triggered."""
    from lakehouse_adventureworks2022_spark.operators.monitoring import (
        ivf_ingest_drift,
        ivf_retrain_trigger,
    )
    from lakehouse_adventureworks2022_spark.operators.vector_index import (
        recluster_index,
        retrain_index,
    )

    done: dict[str, dict] = {}
    for p in plans:
        row = ivf_retrain_trigger(
            ivf_ingest_drift(spark, p.index_dir), p.tv_threshold
        ).collect()[0]
        if row["retrain"]:
            retrain_index(spark, p.index_dir, n_files=p.n_files)
            action = "retrain"
        elif row["n_appended"] > 0:
            recluster_index(spark, p.index_dir, n_files=p.n_files)
            action = "recluster"
        else:
            action = "none"
        done[p.index_dir] = {
            "total_variation": row["total_variation"],
            "max_cell_delta": row["max_cell_delta"],
            "n_appended": row["n_appended"],
            "action": action,
        }
    return done
