"""Spans around the calls into each engine layer, and the Spark work they
caused.

A span records its name, start, end and parent. The tracer keeps spans in
memory; the runner writes them out when the run ends. While a span is open
its id is the Spark job group, so every job it launches can be attributed
to it afterwards: job, stage and task counts come from ``statusTracker()``,
and task time, shuffle and spill bytes from the event log of the traced
session. A span's layer is the first component of its name.

Engine functions are traced by wrapping them in place (:meth:`Tracer.
instrument`): the wrapper replaces the function in its defining module and
in every engine module that imported it, so calls from inside the engine are
traced too. Nothing in the engine changes.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

LAYERS = ("session", "sources", "storage", "pipeline", "operators", "plans")
PACKAGE = "lakehouse_adventureworks2022_spark"
SPARK_KEYS = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_s", "task_skew")

#: engine entry points traced in every workload: (module, attribute, span)
ENGINE_CALLS = (
    ("session", "get_spark", "session.get_spark"),
    ("sources.readers", "read_table", "sources.read_table"),
    ("sources.watermark", "WatermarkStore.get", "sources.watermark"),
    ("sources.watermark", "WatermarkStore.put", "sources.watermark"),
    ("sources.watermark", "incremental_filter", "sources.watermark"),
    ("sources.watermark", "compute_watermark", "sources.watermark"),
    ("storage.tables", "TableManager.append", "storage.append"),
    ("storage.tables", "TableManager.overwrite", "storage.overwrite"),
    ("storage.tables", "TableManager.replace_where", "storage.replace_where"),
    ("operators.scd2", "scd2_apply", "operators.scd2"),
    ("plans.dims", "build_dim_customer_geo", "plans.construct"),
    ("plans.dims", "build_dim_supplier_geo", "plans.construct"),
    ("plans.dims", "build_dim_date", "plans.construct"),
    ("plans.facts", "build_fact_sales", "plans.construct"),
    ("plans.marts", "sales_summary", "plans.construct"),
    ("plans.marts", "top_products", "plans.construct"),
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    phase: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0

    @property
    def layer(self) -> str:
        head = self.name.split(".", 1)[0]
        return head if head in LAYERS else "bench"

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent,
            "phase": self.phase,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            "jobs": len(self.jobs),
            "stages": self.stages,
            "tasks": self.tasks,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """Records spans when enabled; a disabled tracer costs one attribute
    check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._attached = 0

    # ---- spans ---------------------------------------------------------
    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, 0.0, parent.sid if parent else None, self.phase)
        sp.attrs.update(attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        _set_group(f"pb{sp.sid}", name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                _set_group(f"pb{parent.sid}", parent.name)
            else:
                _set_group(None, None)

    def instrument(self, calls=ENGINE_CALLS) -> None:
        """Wrap each engine entry point in a span of the given name."""
        if not self.enabled:
            return
        for mod_name, attr, span_name in calls:
            module = importlib.import_module(f"{PACKAGE}.{mod_name}")
            owner, name = module, attr
            if "." in attr:
                cls_name, name = attr.split(".")
                owner = getattr(module, cls_name)
            original = getattr(owner, name)
            wrapped = self._wrap(original, span_name)
            self._patch(owner, name, wrapped)
            if owner is module:
                for other in list(sys.modules.values()):
                    if other is module or not getattr(other, "__name__", "").startswith(PACKAGE):
                        continue
                    for k, v in list(vars(other).items()):
                        if v is original:
                            self._patch(other, k, wrapped)

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            # the table or state name a call works on: its first plain-name argument
            target = next((a for a in args if isinstance(a, str) and os.sep not in a), None)
            with self._span(span_name, {"target": target} if target else {}):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, name: str, value) -> None:
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def restore(self) -> None:
        for owner, name, value in reversed(self._patches):
            setattr(owner, name, value)
        self._patches.clear()

    # ---- Spark work per span -------------------------------------------
    def attach_jobs(self, sc) -> None:
        """Read job/stage/task counts for spans opened since the last call.
        Call before the SparkContext that ran them stops."""
        if not self.enabled:
            return
        tracker = sc.statusTracker()
        for sp in self.spans[self._attached:]:
            sp.jobs = sorted(tracker.getJobIdsForGroup(f"pb{sp.sid}"))
            for jid in sp.jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    sp.stages += 1
                    sp.tasks += st.numTasks if st else 0
        self._attached = len(self.spans)


def _set_group(group: str | None, desc: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return
    if group is None:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    else:
        sc.setJobGroup(group, desc)


# ---- arithmetic over recorded spans --------------------------------------
def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered, last = 0.0, sp.start
        for ch in sorted(children.get(sp.sid, ()), key=lambda c: c.start):
            lo, hi = max(ch.start, last), min(ch.end, sp.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        out[sp.sid] = sp.seconds - covered
    return out


def outermost(spans: list[Span], names: set[str]) -> list[Span]:
    """Spans named in ``names`` with no ancestor also named in ``names`` —
    summing their durations never counts nested time twice."""
    by_id = {sp.sid: sp for sp in spans}
    out = []
    for sp in spans:
        if sp.name not in names:
            continue
        p = sp.parent
        while p is not None and by_id[p].name not in names:
            p = by_id[p].parent
        if p is None:
            out.append(sp)
    return out


def descendants_jobs(spans: list[Span], root: Span) -> int:
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    n, todo = 0, [root]
    while todo:
        sp = todo.pop()
        n += len(sp.jobs)
        todo.extend(kids.get(sp.sid, ()))
    return n


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Per job group: task run seconds, shuffle write/read bytes, spill
    bytes and every task's duration, from the uncompressed JSON event logs
    under ``log_dir``: one file, or one directory of rolled files, per
    application."""
    groups: dict[str, dict] = {}
    if not os.path.isdir(log_dir):
        return groups
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")]
            files = sorted(parts, key=lambda f: int(os.path.basename(f).split("_")[1]))
        else:
            files = [path]
        _read_application(files, groups)
    return groups


def _read_application(files: list[str], groups: dict[str, dict]) -> None:
    stage_group: dict[int, str] = {}  # stage ids are unique within one application
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = groups.setdefault(
                        group,
                        {"task_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                         "spill_bytes": 0, "durations": []},
                    )
                    info = ev.get("Task Info") or {}
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rd = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g["durations"].append(
                        max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    )


def spark_by_layer(spans: list[Span], groups: dict[str, dict]) -> dict[str, dict]:
    """Spark execution of each span's own job group, summed per layer.
    ``task_skew`` is the layer's max task duration over its median."""
    out = {}
    for layer in LAYERS:
        acc = {k: 0 for k in SPARK_KEYS}
        durations: list[int] = []
        for sp in spans:
            g = groups.get(f"pb{sp.sid}")
            if sp.layer != layer or g is None:
                continue
            for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_s"):
                acc[k] += g[k]
            durations.extend(g["durations"])
        if durations:
            acc["task_skew"] = max(durations) / max(1.0, statistics.median(durations))
        out[layer] = acc
    return out
