#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload dashboard_queries --seed 1 \
        --seconds 10 --trace 0 [--scale bench|smoke]

A run sets up several times (session start, seeded input generation, the
workload's own preparation) and reports the median as ``setup_s``. It then
warms the JVM up with an untimed round on inputs of another seed, and runs
whole rounds of operations until the measured time reaches ``--seconds``.
Each operation's latency and the driver's CPU time during it are recorded;
the headline ``round_cpu_s`` is the CPU time of one round. Every output is
checked after its timed window. ``--trace 1`` measures an untraced window,
a traced one and another untraced one, each of the same length, and reports
the per-layer metrics plus the tracing overhead.

The full record of a run (samples, checks, host telemetry, purged dirs,
per-layer detail and spans) is written under ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
SETUP_REPS = 5
#: the warm-up round runs on small inputs of another seed: it loads and
#: compiles the code paths of the timed window, and nothing the engine might
#: cache per input carries over into it
WARMUP_SEED_OFFSET = 1_000_003
WARMUP_SCALE = "smoke"
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def start_session(dirs, event_log: str | None):
    import host
    from lakehouse_adventureworks2022_spark import session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        **dirs.spark_conf(),
    }
    # a heap and a young generation of fixed size, so peak RSS does not
    # follow the collector's run-to-run choices of when to grow them
    conf["spark.driver.extraJavaOptions"] += (
        f" -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} {host.JVM_OPTIONS}"
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    spark = session.get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=int(cpus), extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, tracer) -> None:
    tracer.attach_jobs(spark.sparkContext)
    spark.stop()


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def run_round(wl, ops, tracer, samples, phase: str, check: bool = True):
    """Run (and check) one round; ``samples`` receives one entry per op."""
    import host
    from workloads import Sample

    cpu = host.WorkCpu([pid for pid in (os.getpid(), jvm_pid()) if pid])
    for op in ops:
        with tracer.span(f"bench.{op.kind}", label=op.label):
            c0 = cpu()
            t0 = time.perf_counter()
            try:
                out, err = wl.run(op), None
            except Exception:  # noqa: BLE001 - a failed op is a measured outcome
                out, err = None, traceback.format_exc(limit=3)
            dt = time.perf_counter() - t0
            cpu_s = cpu() - c0
        if err is None and not check:
            ok, detail, extra = True, "", {}
        elif err is None:
            try:
                result, extra = wl.check(op, out)
                ok, detail = result.ok, result.detail
            except Exception:  # noqa: BLE001 - a broken output fails its check
                ok, detail, extra = False, traceback.format_exc(limit=3), {}
        else:
            ok, detail, extra = False, err, {}
        samples.append(Sample(op.kind, op.label, dt, ok, detail, extra, cpu_s))
        if not ok:
            print(f"[{phase}] {op.label} failed: {detail.strip()[-400:]}", file=sys.stderr)


def measure(wl, tracer, seconds: float, phase: str):
    """Whole rounds until the timed operations add up to ``seconds``; a
    round is never empty, so a window always holds at least one round."""
    tracer.phase = phase
    samples = []
    while sum(s.seconds for s in samples) < seconds:
        run_round(wl, wl.round(), tracer, samples, phase)
    return samples


def end_to_end(samples, setup_times, rss_mb) -> dict:
    """The metrics every workload reports, in the order of BENCHMARK.json."""
    from stats import per_round

    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "round_cpu_s": (per_round(samples, lambda s: s.cpu_s), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def as_metrics(values: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [p for p in (HERE, CHECKOUT) if p not in sys.path]
    try:
        import lakehouse_adventureworks2022_spark  # noqa: F401
        import tools.check_oracles  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {CHECKOUT}: {exc}", file=sys.stderr)
        return 2
    import host
    import inputs
    from layers import per_layer
    from spans import Tracer, read_event_logs
    from stats import per_round
    from workloads import SCALES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    dirs = host.RunDirs(CHECKOUT, f"{args.workload}-{args.seed}")
    dirs.open()
    cpu_run, cpu_window = host.CpuWindow(), host.CpuWindow()
    cpu_run.start()
    info = {"host_start": host.host_info()}
    tracer = Tracer(enabled=bool(args.trace))
    tracer.instrument()
    event_log = dirs.path("eventlog") if args.trace else None
    sf = SCALES[args.scale]
    WL = WORKLOADS[args.workload]

    setup_times, spark, wl, untraced = [], None, None, []
    try:
        for rep in range(SETUP_REPS):
            rep_dir = dirs.path(f"rep{rep}")
            t0 = time.perf_counter()
            with tracer.span("bench.setup", rep=rep):
                spark = start_session(dirs, event_log)
                src = os.path.join(rep_dir, "inputs")
                inputs.generate(src, args.seed, sf)
                wl = WL(spark, tracer, src, rep_dir, args.seed)
                wl.prepare()
            setup_times.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                wl.close()
                stop_session(spark, tracer)
                shutil.rmtree(rep_dir, ignore_errors=True)

        warm: list = []
        tracer.phase = "warmup"
        t0 = time.perf_counter()
        warm_seed = args.seed + WARMUP_SEED_OFFSET
        warm_dir = dirs.path("warmup")
        inputs.generate(os.path.join(warm_dir, "inputs"), warm_seed, SCALES[WARMUP_SCALE])
        warm_wl = WL(spark, tracer, os.path.join(warm_dir, "inputs"), warm_dir, warm_seed)
        warm_wl.prepare()
        run_round(warm_wl, warm_wl.warmup_round(), tracer, warm, "warmup", check=False)
        warm_wl.close()
        shutil.rmtree(warm_dir, ignore_errors=True)
        warmup_s = time.perf_counter() - t0

        cpu_window.start()
        if args.trace:
            # untraced windows before and after the traced one, so the
            # JVM's further warming does not count as tracing overhead
            tracer.enabled = False
            untraced = measure(wl, tracer, args.seconds, "untraced")
            tracer.enabled = True
        samples = measure(wl, tracer, args.seconds, "window")
        if args.trace:
            tracer.enabled = False
            untraced += measure(wl, tracer, args.seconds, "untraced")
            tracer.enabled = True
        info["cpu_window"] = cpu_window.stop()
        rss = host.peak_rss_mb([os.getpid(), jvm_pid()])
        workload_metrics = wl.metrics(samples)
        wl.close()
        stop_session(spark, tracer)
    finally:
        tracer.restore()
        shutdown_jvm()
    info["cpu_run"] = cpu_run.stop()
    info["host_end"] = host.host_info()

    failed = sum(not s.ok for s in samples)
    correct = failed == 0 and all(s.ok for s in warm) and all(s.ok for s in untraced)
    workload_metrics["error_rate"] = (failed / len(samples), "ratio")
    workload_metrics["round_s"] = (per_round(samples, lambda s: s.seconds), "s")
    e2e = end_to_end(samples, setup_times, rss)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "sf": sf,
        "correct": correct, "attempted": len(samples), "failed": failed,
        "end_to_end": as_metrics(e2e), "workload_metrics": as_metrics(workload_metrics),
        "setup_reps_s": setup_times, "warmup_s": warmup_s,
        "window_s": sum(s.seconds for s in samples), "host": info,
        "samples": [s.__dict__ for s in samples],
        "warmup_samples": [s.__dict__ for s in warm],
    }
    if args.trace:
        groups = read_event_logs(event_log)
        layer, detail = per_layer(tracer.spans, groups, samples, untraced, SETUP_REPS)
        record.update(per_layer=as_metrics(layer), per_query=detail,
                      untraced_samples=[s.__dict__ for s in untraced],
                      spans=[sp.to_json() for sp in tracer.spans])
        metrics = as_metrics(layer)
    else:
        metrics = as_metrics(e2e)
    dirs.close()
    record["purged"] = dirs.purged
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    out = os.path.join(
        dirs.results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    )
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    steal = info["cpu_window"]["steal_pct"]
    print(f"perfbench {args.workload} seed={args.seed}: {len(samples)} ops, {failed} failed, "
          f"setup {statistics.median(setup_times):.2f} s, warm-up {warmup_s:.1f} s, "
          f"steal {steal}% over the window, nproc {info['host_start']['nproc']}; "
          f"record {os.path.relpath(out, CHECKOUT)}")
    print("workload metrics: " + json.dumps(as_metrics(workload_metrics)))
    print(json.dumps({"correct": correct, "attempted": len(samples), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
