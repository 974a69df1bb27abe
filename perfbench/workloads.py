"""The benchmark's workloads. Each drives the engine from outside, through
the public functions of ``pipeline``, ``plans``, ``operators``, ``sources``
and ``storage``, on inputs generated from the run's seed.

A workload is a closed loop with one client. It yields *rounds*: a seeded
permutation of its operation mix. The runner times every operation, runs
whole rounds until the measured time reaches the run length, and checks
every output after its timed window closes.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from gate import Check, OracleGate
from host import dir_bytes
from inputs import input_bytes, write_medallion_delta

#: scale presets: the benchmark proper, and a seconds-long smoke size
SCALES = {"bench": 0.01, "smoke": 0.001}


@dataclass
class Op:
    kind: str
    label: str
    arg: object = None


@dataclass
class Sample:
    kind: str
    label: str
    seconds: float
    ok: bool
    detail: str = ""
    extra: dict = field(default_factory=dict)
    #: CPU seconds of the driver, JIT compilation left out (``host.WorkCpu``)
    cpu_s: float = 0.0


class Workload:
    name = ""

    def __init__(self, spark, tracer, src_dir: str, work_dir: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.src, self.work, self.seed = src_dir, work_dir, seed
        self.rng = np.random.default_rng([seed, 3])

    def prepare(self) -> None:
        """Set-up work that belongs to the workload (timed into setup_s)."""

    def round(self) -> list[Op]:
        raise NotImplementedError

    def warmup_round(self) -> list[Op]:
        """The untimed operations run once before the timed window."""
        return self.round()

    def run(self, op: Op):
        """The timed part of one operation; returns what :meth:`check` needs."""
        raise NotImplementedError

    def check(self, op: Op, out) -> tuple[Check, dict]:
        raise NotImplementedError

    def metrics(self, samples: list[Sample]) -> dict[str, tuple[float, str]]:
        """The workload's own metrics: ``{name: (value, unit)}``."""
        return {}

    def close(self) -> None:
        """Release resources held for checks."""


def _median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else float("nan")


# ---------------------------------------------------------------------------
class DashboardQueries(Workload):
    """The analyst read path: star/mart/TPC-H-shaped catalog queries."""

    name = "dashboard_queries"
    #: fact_sales, scd2_part_price_asof and silver_lineitem_enriched are left
    #: out: they return a row per line item, so their time goes to collecting
    #: and hashing the rows rather than to the planning this workload isolates
    QUERIES = (
        "top_products", "sales_summary", "sales_rollup", "dim_date", "scd2_part_dimension",
        "customer_running_revenue", "tpch_q1", "tpch_q5", "tpch_q8_market_share",
        "tpch_q9_product_profit", "tpch_q11_important_parts", "tpch_q21_waiting_suppliers",
        "small_quantity_part_revenue", "customer_order_distribution", "incremental_read",
    )

    def prepare(self) -> None:
        from lakehouse_adventureworks2022_spark.plans import catalog

        self.catalog = catalog.QUERIES
        self.gate = OracleGate(self.src)

    def round(self) -> list[Op]:
        return [Op("query", self.QUERIES[i]) for i in self.rng.permutation(len(self.QUERIES))]

    def run(self, op: Op):
        tr = self.tracer
        with tr.span("plans.construct", query=op.label):
            df = self.catalog[op.label](self.spark, self.src)
        if tr.enabled:
            with tr.span("plans.plan", query=op.label):
                df._jdf.queryExecution().executedPlan()
        with tr.span("plans.execute", query=op.label):
            return df.toPandas()

    def check(self, op: Op, out) -> tuple[Check, dict]:
        c = self.gate.check(op.label, out)
        return c, {"rows": len(out), "hash": c.digest}

    def metrics(self, samples: list[Sample]) -> dict[str, tuple[float, str]]:
        from stats import highest_reportable, percentile

        lat = [s.seconds for s in samples if s.kind == "query"]
        out = {"query_p50_s": (_median(lat), "s"), "queries": (len(lat), "count")}
        tail = highest_reportable(len(lat))
        if tail and tail > 50:
            out[f"query_p{tail}_s"] = (percentile(lat, tail), "s")
        return out

    def close(self) -> None:
        self.gate.close()


# ---------------------------------------------------------------------------
class MedallionRefresh(Workload):
    """The reference's own pipeline: a cold bronze → silver → gold → mart
    run into an empty warehouse, then an incremental run over a copy of the
    sources carrying a seeded delta (changed part prices, new events past
    the watermark)."""

    name = "medallion_refresh"
    MARTS = ("sales_summary", "top_products")

    def prepare(self) -> None:
        self.delta_src = os.path.join(self.work, "source_delta")
        self.delta = write_medallion_delta(self.src, self.delta_src, self.seed)
        self.gates = {"cold": OracleGate(self.src), "incremental": OracleGate(self.delta_src)}
        self.n_cycles = 0

    def round(self) -> list[Op]:
        self.n_cycles += 1
        wh = os.path.join(self.work, f"warehouse-{self.n_cycles}")
        return [Op("cold", "cold", wh), Op("incremental", "incremental", wh)]

    def warmup_round(self) -> list[Op]:
        # a cold refresh runs every writer and plan the incremental one does
        return self.round()[:1]

    def run(self, op: Op):
        from lakehouse_adventureworks2022_spark import pipeline

        tr = self.tracer
        cold = op.kind == "cold"
        if cold and os.path.exists(op.arg):
            shutil.rmtree(op.arg)
        src = self.src if cold else self.delta_src
        started = time.time()
        p = pipeline.MedallionPipeline(self.spark, op.arg, src)
        with tr.span("pipeline.bronze"):
            rows_new = p.ingest_events_incremental()
            p.ingest_snapshots()
        with tr.span("pipeline.silver"):
            p.build_silver()
        with tr.span("pipeline.gold"):
            p.build_gold(effective_date="2024-01-01" if cold else "2024-02-01")
        with tr.span("pipeline.mart"):
            p.build_mart()
        return {"rows_new": rows_new, "started": started, "src": src}

    def check(self, op: Op, out) -> tuple[Check, dict]:
        spark, wh, d = self.spark, op.arg, self.delta
        cold = op.kind == "cold"
        problems = []
        for mart in self.MARTS:
            pdf = spark.read.parquet(os.path.join(wh, f"mart.{mart}")).toPandas()
            c = self.gates[op.kind].check(mart, pdf)
            if not c.ok:
                problems.append(c.detail)
        dim = spark.read.parquet(os.path.join(wh, "gold.dim_part"))
        current = dim.filter("is_current").count()
        expired = sorted(r[0] for r in dim.filter("not is_current").select("p_partkey").collect())
        want_expired = [] if cold else list(d.changed_parts)
        if current != d.n_parts or expired != want_expired:
            problems.append(
                f"dim_part current/expired {current}/{len(expired)}, "
                f"expected {d.n_parts}/{len(want_expired)}"
            )
        events = spark.read.parquet(os.path.join(wh, "bronze.events")).count()
        want_events = d.n_events + (0 if cold else d.n_new_events)
        want_new = d.n_events if cold else d.n_new_events
        if events != want_events or out["rows_new"] != want_new:
            problems.append(
                f"bronze.events {events} rows, {out['rows_new']} new; "
                f"expected {want_events}, {want_new}"
            )
        written, files = dir_bytes(wh, since=out["started"])
        extra = {
            "rows_new": out["rows_new"],
            "scd2_rows_changed": len(expired),
            "bytes_written": written,
            "files_written": files,
            "input_bytes": input_bytes(out["src"]),
            "warehouse_bytes": dir_bytes(wh)[0],
        }
        if not cold:
            shutil.rmtree(wh, ignore_errors=True)
        return Check(not problems, "; ".join(problems)), extra

    def metrics(self, samples: list[Sample]) -> dict[str, tuple[float, str]]:
        cold = [s for s in samples if s.kind == "cold"]
        incr = [s for s in samples if s.kind == "incremental"]
        amp = [s.extra["warehouse_bytes"] / s.extra["input_bytes"] for s in incr if s.extra]
        return {
            "refresh_s": (_median([s.seconds for s in cold]), "s"),
            "incremental_refresh_s": (_median([s.seconds for s in incr]), "s"),
            "space_amp": (_median(amp), "ratio"),
            "refreshes": (len(cold) + len(incr), "count"),
        }

    def close(self) -> None:
        for g in self.gates.values():
            g.close()


WORKLOADS = {w.name: w for w in (MedallionRefresh, DashboardQueries)}
