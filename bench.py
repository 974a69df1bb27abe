"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact (~200 byte) JSON
line:

    {"metric": "...", "value": <total_sec>, "unit": "sec", "sf": 0.1,
     "reps": 3, "n_queries": 81, "n_errors": 0, "steal_run_pct": 0.6,
     "dirty_reps": 0, "detail": "<per-run sidecar path>"}

Per-query medians, errors, and per-rep min/med/max + steal telemetry
live in the sidecar file the ``detail`` field points at. The driver's
artifact keeps only the tail of the line, so the line itself must stay
tiny (BENCH_r08-r10 all recorded ``"parsed": null`` when the medians
map rode along); ``tools/bench_compare.py`` follows the pointer.

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect, no disk write skew).

Robustness contract (round-4 lesson: one broken query aborted the whole
run and erased the round's bench evidence):

- every query rep runs under try/except — a failure lands in ``errors``
  (exception class + first line) and the JSON line is ALWAYS printed;
- each query runs ``$SPARK_GRAFT_BENCH_REPS`` times (default 3) and
  reports the per-query MEDIAN, so a single GC pause / host-load spike
  can't masquerade as a plan regression (the round-3 "uniform 44%
  regression" and round-4's noisy IVF number were both host noise).

Contention telemetry (round-8, after the r7 phantom-regression
adjudication): this VM suffers variable hypervisor CPU steal (measured
25% under load), which made a driver bench artifact indistinguishable
from a real plan regression. Every rep now records the /proc/stat
steal%% over its own window; reps whose window exceeds
``$SPARK_GRAFT_STEAL_PCT_MAX`` (default 5.0) are re-run (up to 2 extra
attempts per query) and excluded from the median when at least one
clean rep exists. The printed line carries ``steal_run_pct`` +
``dirty_reps`` so a contaminated run is *visible in the artifact*; the
full per-query breakdown goes to the sidecar
(``$SPARK_GRAFT_BENCH_DETAIL`` when set, else a per-run-stamped
``BENCH_detail.<utcstamp>.json`` beside this script so no later run or
pytest invocation can overwrite driver evidence).

Self-adjudication (round-13, after two rounds of mid-run steal waves
producing all-dirty >2× phantom flags only out-of-band probes could
clear): after the main loop, any query whose reps were ALL dirty or
whose median exceeds ``budget × BASELINE_QUERIES.json`` re-runs
serialized behind a bounded re-quiet wait; the sidecar records both
readings (``pre_retry_med`` + ``query_stats[..]["retry"]``) and the
reported median moves to the retry only when its window was clean.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from lakehouse_adventureworks2022_spark.plans.catalog import QUERIES, RECORDS
from lakehouse_adventureworks2022_spark.session import get_spark

#: Queries timed by the driver's per-round bench: the catalog records
#: marked ``headline``.
HEADLINE = [r.name for r in RECORDS if r.headline]


def _purge_amortized_state(sf_dir: str) -> list[str]:
    """Delete THIS fixture version's persisted amortized-query state
    (/tmp index/archive/state dirs keyed on the fixture fingerprint) so
    every bench run pays each one-time build exactly once, on its first
    rep (r13 verdict ask #6 — reproducible totals: a warm machine used
    to skip the builds forever, so the headline total contained entries
    whose build cost appeared in no rep). The per-query MEDIAN still
    reports the amortized steady state (reps 2..n are lookup-only); the
    build rep is visible in the sidecar's per-rep times. Default-on;
    set ``SPARK_GRAFT_PURGE_AMORTIZED=0`` to keep warm state (e.g. for
    a lookup-only probe). Returns the dirs actually removed."""
    import shutil

    from lakehouse_adventureworks2022_spark.plans import text_queries as tq

    dirs: list[str] = []
    for table, prefix, recipe in tq.AMORTIZED_STATE:
        try:
            dirs.append(tq.fixture_state_dir(sf_dir, table, prefix, recipe))
        except OSError:
            continue  # fixture without this table: no such state
    removed = []
    for d in dirs:
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
            removed.append(d)
    return removed


def _cpu_times() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate /proc/stat cpu
    line; (0, 0) where /proc is unavailable (bench stays portable)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(v) for v in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def _wait_for_quiet(
    max_wait: float, quiet_pct: float, window: float = 5.0
) -> tuple[float, float]:
    """Block until one ``window``-second /proc/stat interval shows
    hypervisor steal ≤ ``quiet_pct``%, or ``max_wait`` seconds elapse
    (r11 verdict: three of three closes AND the driver run all landed
    in steal waves the per-rep re-run machinery couldn't fully absorb —
    starting inside a wave is avoidable). Returns (waited_sec,
    last_window_pct); the caller records both in the artifact so an
    exhausted wait is visible, never silent."""
    start = time.monotonic()
    while True:
        s0, t0 = _cpu_times()
        time.sleep(window)
        s1, t1 = _cpu_times()
        pct = 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0
        waited = time.monotonic() - start
        if pct <= quiet_pct or waited >= max_wait:
            return round(waited, 1), round(pct, 2)


def _run_once(spark, sf_dir: str, name: str) -> tuple[float, float]:
    """Run one rep end-to-end; returns (elapsed_sec, steal_pct) where
    steal_pct is hypervisor CPU steal over THIS rep's window."""
    s0, t0 = _cpu_times()
    start = time.perf_counter()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - start
    s1, t1 = _cpu_times()
    steal_pct = 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0
    return elapsed, steal_pct


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or "0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    steal_max = float(os.environ.get("SPARK_GRAFT_STEAL_PCT_MAX", "5.0"))
    extra = 2  # extra attempts per query when a rep's window is stolen
    # bounded wait-for-quiet BEFORE any timing: don't start a run inside
    # a steal wave (r11: all four full runs did). Capped so an endlessly
    # noisy host still produces an artifact — with the exhaustion on
    # record in the line.
    quiet_wait_max = float(
        os.environ.get("SPARK_GRAFT_QUIET_WAIT_MAX_SEC", "300")
    )
    quiet_pct = float(os.environ.get("SPARK_GRAFT_QUIET_PCT", "0.5"))
    purge = os.environ.get("SPARK_GRAFT_PURGE_AMORTIZED", "1") != "0"
    purged = _purge_amortized_state(sf_dir) if purge else []
    quiet_wait, quiet_last_pct = _wait_for_quiet(quiet_wait_max, quiet_pct)
    # byte-clean artifact tail (r12 verdict #4): the driver records the
    # printed tail verbatim, and stage-progress \r frames otherwise ride
    # in front of the JSON line. Static conf — must be set at build.
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    # the artifact's tail must start at the JSON line: the known-bounded
    # WindowExec warning (and any other WARN chatter) otherwise rides
    # along in the driver's captured output (r11 verdict, cosmetic #4)
    try:
        spark.sparkContext.setLogLevel("ERROR")
    except Exception:
        pass  # Connect sessions have no sparkContext; logging is server-side
    # warm the JVM + parquet footers once so per-query numbers measure the
    # plans, not first-touch JIT/IO noise
    try:
        _run_once(spark, sf_dir, "top_products")
    except Exception:
        pass  # a broken warm-up query must not kill the run either

    timings: dict[str, float] = {}
    stats: dict[str, dict] = {}
    errors: dict[str, str] = {}
    run_s0, run_t0 = _cpu_times()
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        clean: list[float] = []
        dirty: list[float] = []
        steals: list[float] = []
        rep_times: list[float] = []
        attempts = 0
        while len(clean) < reps and attempts < reps + extra:
            attempts += 1
            try:
                elapsed, steal = _run_once(spark, sf_dir, name)
            except Exception as e:  # noqa: BLE001 - bench must always report
                first = str(e).strip().splitlines()[0] if str(e).strip() else ""
                errors[name] = f"{type(e).__name__}: {first[:200]}"
                break  # same plan fails identically; don't retry the reps
            steals.append(round(steal, 2))
            rep_times.append(round(elapsed, 3))
            (clean if steal <= steal_max else dirty).append(elapsed)
        samples = clean or dirty  # all-stolen: report, flagged below
        if samples:
            timings[name] = round(statistics.median(samples), 3)
            stats[name] = {
                "min": round(min(samples), 3),
                "med": timings[name],
                "max": round(max(samples), 3),
                "steal": steals,
                "dirty": len(dirty),
                # raw per-rep wall times IN ORDER: with the amortized
                # state purged at run start, rep 1 of an amortized query
                # carries its one-time build — the build/lookup split is
                # therefore on the record (r13 verdict ask #6) while the
                # median keeps reporting the steady state
                "reps_sec": rep_times,
            }
    run_s1, run_t1 = _cpu_times()
    run_steal = (
        100.0 * (run_s1 - run_s0) / (run_t1 - run_t0)
        if run_t1 > run_t0
        else 0.0
    )

    # ── end-of-run self-adjudication (r12 verdict ask #1) ─────────────
    # The pre-run quiet gate only protects the START of the run; steal
    # waves arriving mid-run produced all-dirty >2× phantom flags in
    # BENCH_r11/r12 that only out-of-band judge probes could clear. Any
    # query whose reps were ALL dirty, or whose median flags >2× vs the
    # frozen per-query baselines, re-runs HERE — serialized, after a
    # bounded re-quiet wait, on the already-warm JVM (so sub-second
    # entries read their steady codegen floor, the same reading
    # tools/quiet_probe.py adjudicates with). The artifact records BOTH
    # readings: `pre_retry_med` keeps the contaminated number, `retry`
    # carries the adjudication evidence, and the reported median moves
    # to the retry only when the retry window was genuinely clean — a
    # real regression therefore shows two agreeing readings, a phantom
    # clears itself without a human in the loop.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2.0"))
    retry_wait_max = float(
        os.environ.get("SPARK_GRAFT_RETRY_QUIET_WAIT_SEC", "120")
    )
    retry_cap = int(os.environ.get("SPARK_GRAFT_RETRY_MAX_QUERIES", "12"))
    try:
        baselines = json.loads(
            (Path(__file__).resolve().parent / "BASELINE_QUERIES.json")
            .read_text()
        ).get("queries", {})
    except (OSError, ValueError):
        baselines = {}
    flagged: list[tuple[str, str]] = []
    for name, med in timings.items():
        s = stats[name]
        if s["dirty"] and s["dirty"] == len(s["steal"]):
            flagged.append((name, "all_dirty"))
        elif baselines.get(name) and med / baselines[name] > budget:
            flagged.append((name, "gt_budget"))
    retried = 0
    for name, reason in flagged:
        if retried >= retry_cap:
            stats[name]["retry"] = {"skipped": "retry_cap", "reason": reason}
            continue
        retried += 1
        rq_wait, rq_pct = _wait_for_quiet(retry_wait_max, quiet_pct)
        r_clean: list[float] = []
        r_dirty: list[float] = []
        r_steals: list[float] = []
        attempts = 0
        while len(r_clean) < reps and attempts < reps + extra:
            attempts += 1
            try:
                elapsed, steal = _run_once(spark, sf_dir, name)
            except Exception as e:  # noqa: BLE001 - keep the artifact alive
                first = str(e).strip().splitlines()[0] if str(e).strip() else ""
                errors[name] = f"{type(e).__name__}: {first[:200]}"
                break
            r_steals.append(round(steal, 2))
            (r_clean if steal <= steal_max else r_dirty).append(elapsed)
        r_samples = r_clean or r_dirty
        if not r_samples:
            stats[name]["retry"] = {"reason": reason, "failed": True}
            continue
        r_med = round(statistics.median(r_samples), 3)
        stats[name]["retry"] = {
            "reason": reason,
            "med": r_med,
            "min": round(min(r_samples), 3),
            "max": round(max(r_samples), 3),
            "steal": r_steals,
            "dirty": len(r_dirty),
            "quiet_wait_sec": rq_wait,
            "quiet_gate_pct": rq_pct,
        }
        if r_clean:  # only a clean retry window may move the reading
            stats[name]["pre_retry_med"] = timings[name]
            stats[name]["med"] = r_med
            timings[name] = r_med

    total = round(sum(timings.values()), 3)
    steal_summary = {
        "run_pct": round(run_steal, 2),
        "threshold_pct": steal_max,
        "quiet_wait_sec": quiet_wait,
        "quiet_gate_pct": quiet_last_pct,
        "dirty_reps": sum(s["dirty"] for s in stats.values()),
        "all_dirty_queries": [
            n for n, s in stats.items() if s["dirty"] and n in timings
            and len(s["steal"]) == s["dirty"]
        ],
    }
    # The driver keeps only the TAIL of the printed line, and even the
    # 81-entry medians map alone overflows that window (BENCH_r08-r10
    # all landed with "parsed": null). The line is therefore ~200 bytes
    # by contract — totals + counts + a pointer — and EVERYTHING
    # per-query (medians, errors, per-rep steal) lives in the sidecar.
    # The sidecar default is stamped per run so a later pytest/bench
    # invocation can never clobber driver evidence (r10 verdict #2).
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL")
    if not detail_path:
        stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
        detail_path = str(
            Path(__file__).resolve().parent / f"BENCH_detail.{stamp}.json"
        )
    line: dict = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "reps": reps,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "steal_run_pct": steal_summary["run_pct"],
        "dirty_reps": steal_summary["dirty_reps"],
        # how long the pre-run quiet gate waited and the steal% of the
        # window that released it (> threshold ⇒ the wait EXHAUSTED and
        # the run started noisy — on the record, not silent)
        "quiet_wait_sec": quiet_wait,
        "quiet_gate_pct": quiet_last_pct,
        # end-of-run adjudication: how many flagged (all-dirty or >2×
        # vs baseline) queries re-ran serialized after a re-quiet wait;
        # both readings live in the sidecar's query_stats[..]["retry"]
        "retried": retried,
        "detail": detail_path,
    }
    try:
        Path(detail_path).write_text(
            json.dumps(
                {"sf": sf, "reps": reps, "queries": timings,
                 "errors": errors, "query_stats": stats,
                 "steal": steal_summary,
                 # reproducibility of the amortized family (r13 verdict
                 # ask #6): which persisted per-fixture state dirs were
                 # purged before timing, so first reps include builds
                 "amortized_purge": {
                     "enabled": purge, "purged_dirs": purged,
                 }},
                indent=1,
            )
        )
    except OSError:
        # read-only checkout: no sidecar — fall back to embedding the
        # medians so the data is not lost (the line may truncate, but a
        # missing sidecar must not erase the round's evidence)
        line["detail"] = None
        line["queries"] = timings
        line["errors"] = errors
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
