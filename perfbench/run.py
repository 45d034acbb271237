#!/usr/bin/env python3
"""Benchmark of the atsc_spark engine: tiering, range reads, bulk scans,
materialized-rollup serving and one-day rollup refreshes.

    python3 perfbench/run.py --workload monitoring --seed 1 --seconds 10 --trace 0

Run from the repository root.  One driver process, one closed-loop
client with no think time, on ``local[<cores>]``.  Inputs are generated
from ``--seed`` and written to parquet under ``.perfbench/`` before the
engine sees them.  Every operation's output is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
operations again under spans, calls each layer's public functions,
writes the spans to ``.perfbench/spans-<workload>-<seed>.json`` and
prints the per-layer metrics.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries run details (host canary, session start, warm-up, sample counts).
See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

# timed operations in a run of NOMINAL_SECONDS on 4 cores; --seconds
# scales them.  Walls are medians.
NOMINAL_SECONDS = 20
BASE_COUNTS = {"tier": 1, "read": 2, "refresh": 2, "serve": 6}
SETUP_REPS = 3  # setup_s is their median; the traced run builds once

END_TO_END = {
    "setup_s": ("s", "lower"),
    "tier_msamples_per_s": ("Msamples/s", "higher"),
    "read_p50_ms": ("ms", "lower"),
    "serve_p50_ms": ("ms", "lower"),
    "refresh_s": ("s", "lower"),
    "atsc_ratio": ("x", "higher"),
    "gorilla_ratio": ("x", "higher"),
    "store_bytes_per_sample": ("B/sample", "lower"),
    "ok_op_share": ("share", "higher"),
}


def scaled_counts(seconds: int) -> dict[str, int]:
    f = seconds / NOMINAL_SECONDS
    return {op: max(1, round(n * f)) for op, n in BASE_COUNTS.items()}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20, help="run length the operation counts are sized for")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_canary_ms() -> float:
    """Fixed single-thread NumPy kernel, best of 3: a slow host window
    shows here while the engine's code is unchanged."""
    import numpy as np

    y = np.random.default_rng(42).standard_normal(1 << 20)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        z = np.fft.rfft(y)
        np.argsort(np.abs(z))
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(n_cores: int):
    local_dir = os.path.join(OUT, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(OUT, 'warehouse')} pyspark-shell"
    )
    from atsc_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{n_cores}]", shuffle_partitions=n_cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_gc_seconds(spark) -> float:
    """GC time of the driver JVM so far, from the local status REST API."""
    import urllib.request

    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/allexecutors"
    with urllib.request.urlopen(url, timeout=10) as r:
        return sum(e.get("totalGCTime", 0) for e in json.loads(r.read())) / 1000.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [ROOT, HERE]
    import checks
    import layers
    import workload

    if args.workload not in workload.SPECS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(workload.SPECS)}")
    from atsc_spark.cagg import ContinuousRollups

    info: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    info["canary_ms"] = host_canary_ms()
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    n_cores = cores()
    info["cores"] = n_cores

    t_run = t0 = time.perf_counter()
    spark = start_spark(n_cores)
    info["session_start_s"] = time.perf_counter() - t0
    try:
        ledger = checks.Ledger()
        counts = scaled_counts(args.seconds)
        info["counts"] = counts
        w = workload.Workload(spark, args.workload, args.seed, work, ledger, pipeline_input=bool(args.trace))
        setup_walls = [w.build(rep) for rep in range(1 if args.trace else SETUP_REPS)]
        for rep in range(1, len(setup_walls)):
            w.cleanup_inputs(rep)
        w.load_reference()
        info["samples"] = w.ref.n
        info["setup_walls_s"] = setup_walls

        # warm-up: every operation type once, untimed but checked.  The
        # warm tier pass leaves the store that scans and reads use; the
        # warm read (a day across the tier2 and tier1 days) runs the same
        # read_series and decoders the traced run's scan does.  The
        # serving copy starts with one raw day, so its first refresh is
        # already a one-day refresh.
        warm = {}
        tiered = w.fresh_copy()
        warm["tier"] = w.tier(tiered, timed=False)
        read_windows = w.read_windows(max(counts["read"], 4) + 1)
        warm["read"] = w.read(tiered, read_windows.pop(2), timed=False)
        serving = w.serving_copy()
        cagg = ContinuousRollups(spark, serving)
        warm["refresh"] = w.refresh(cagg, [w.today.isoformat()], timed=False)
        new_days = list(w.new_days)
        serve_windows = w.serve_windows(counts["serve"] + 1)
        warm["serve"] = w.serve(cagg, serve_windows.pop(), timed=False)
        info["warmup_s"] = warm

        stores = (tiered, serving, cagg)
        if not args.trace:
            metrics = measure_end_to_end(w, counts, stores, read_windows, serve_windows, new_days, setup_walls)
        else:
            metrics = measure_layers(w, stores, read_windows, serve_windows, new_days, n_cores, args, info)
        info["jvm_gc_s"] = jvm_gc_seconds(spark)
        info["failures"] = ledger.failures
        if not args.trace:
            metrics["ok_op_share"] = ledger.ok_share
            info["walls_s"] = w.walls
    finally:
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    units = END_TO_END if not args.trace else layers.PER_LAYER
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    info["run_s"] = time.perf_counter() - t_run
    print(json.dumps(info))
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k][0]} for k in units},
    }


def measure_end_to_end(w, counts, stores, read_windows, serve_windows, new_days, setup_walls) -> dict[str, float]:
    from statistics import median

    tiered, serving, cagg = stores
    for _ in range(counts["tier"]):
        store = w.fresh_copy()
        w.tier(store, timed=True)
        shutil.rmtree(store.base)
    for window in read_windows[: counts["read"]]:
        w.read(tiered, window, timed=True)
    # serves run beside one-day appends and refreshes
    per_round = len(serve_windows) // (counts["refresh"] + 1)
    for k in range(counts["refresh"] + 1):
        for window in serve_windows[k * per_round : (k + 1) * per_round]:
            w.serve(cagg, window, timed=True)
        if k < counts["refresh"]:
            day = new_days.pop(0)
            w.append_day(serving, day)
            w.refresh(cagg, [day.isoformat()], timed=True)

    n = w.ref.n
    walls = w.walls
    out = {
        "setup_s": median(setup_walls),
        "tier_msamples_per_s": n / median(walls["tier"]) / 1e6,
        "read_p50_ms": 1000 * median(walls["read"]),
        "serve_p50_ms": 1000 * median(walls["serve"]),
        "refresh_s": median(walls["refresh"]),
    }
    out.update(w.sizes(tiered))
    return out


def measure_layers(w, stores, windows, serve_windows, new_days, n_cores, args, info) -> dict[str, float]:
    import layers
    from spans import Tracer

    spark = w.spark
    tiered, serving, cagg = stores
    # one untraced operation of each kind, then the same traced
    plain = {}
    plain["tier"] = w.tier(w.fresh_copy(), timed=False)
    plain["scan"] = w.scan(tiered, timed=False)
    plain["read"] = w.read(tiered, windows[0], timed=False)
    plain["serve"] = w.serve(cagg, serve_windows[0], timed=False)
    day = new_days.pop(0)
    w.append_day(serving, day)
    plain["refresh"] = w.refresh(cagg, [day.isoformat()], timed=False)

    tracer = Tracer(spark.sparkContext)
    traced_tier = w.fresh_copy()
    w.tier(traced_tier, timed=False, tracer=tracer)
    w.scan(tiered, timed=False, tracer=tracer)
    for window in windows[1:]:
        w.read(tiered, window, timed=False, tracer=tracer)
    for window in serve_windows[1:6]:
        w.serve(cagg, window, timed=False, tracer=tracer)
    day = new_days.pop(0)
    w.append_day(serving, day)
    w.refresh(cagg, [day.isoformat()], timed=False, tracer=tracer)
    _, pipeline_stats = w.pipeline(tracer=tracer)
    metrics = layers.measure(w, tracer, traced_tier, cagg, n_cores, plain, pipeline_stats)
    path = os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json")
    tracer.write(path, {"run": info, "metrics": metrics})
    info["spans"] = os.path.relpath(path, ROOT)
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import atsc_spark  # noqa: F401  (the engine must be in the checkout)
    except ImportError:
        sys.path.insert(0, ROOT)
        try:
            import atsc_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the atsc_spark engine is not importable from {ROOT}: {e}", file=sys.stderr)
            return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
