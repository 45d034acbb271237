"""Per-layer metrics of the traced run.

Each layer is timed by calling its module's public functions from
outside, on the workload's own inputs, inside a span; Spark-plan counts
come from the job groups of the operation spans.  Which end-to-end
metric each layer should move is tabled in README.md.
"""

from __future__ import annotations

import glob
import time
from datetime import date
from statistics import median

import numpy as np
from pyspark.sql import functions as F

import checks
import gen
from atsc_spark.checkpoint import CheckpointLog
from atsc_spark.core import decompress_frame, get_chunk_sizes
from atsc_spark.core.batchfit import compress_frames_batch
from atsc_spark.core.gorilla import gorilla_decode, gorilla_encode
from atsc_spark.frames import decode_frames, fit_frames, fit_task_count, grouped_points, prune_frames_to_range
from atsc_spark.lossless import decode_lossless, fit_lossless
from atsc_spark.retention import TieredStore
from atsc_spark.rollup import rollup, rollup_cascade_step
from atsc_spark.series import derive_series
from sparkstats import SparkStats
from workload import ERR_TIER1

OPS = ("tier", "read", "scan", "serve", "refresh", "pipeline")
SPARK_COUNTS = ("jobs", "stages", "tasks", "shuffle_bytes", "executor_run_s", "driver_only_s")
CORE_SAMPLE_CAP = 150_000

# name -> (unit, better)
PER_LAYER = {
    "core.atsc_encode_msamples_per_s": ("Msamples/s", "higher"),
    "core.atsc_decode_msamples_per_s": ("Msamples/s", "higher"),
    "core.gorilla_encode_msamples_per_s": ("Msamples/s", "higher"),
    "core.gorilla_decode_msamples_per_s": ("Msamples/s", "higher"),
    "core.kernel_share_tier": ("share", "higher"),
    "frames.group_s": ("s", "lower"),
    "frames.fit_s": ("s", "lower"),
    "frames.decode_s": ("s", "lower"),
    "frames.prune_ms": ("ms", "lower"),
    "frames.boundary_s": ("s", "lower"),
    "lossless.fit_s": ("s", "lower"),
    "lossless.decode_s": ("s", "lower"),
    "series.derive_s": ("s", "lower"),
    "rollup.cascade_s": ("s", "lower"),
    "retention.write_raw_s": ("s", "lower"),
    "retention.tier_days_ms": ("ms", "lower"),
    "retention.read_plan_ms": ("ms", "lower"),
    "retention.read_exec_ms": ("ms", "lower"),
    "cagg.dirty_days_ms": ("ms", "lower"),
    "cagg.serve_plan_ms": ("ms", "lower"),
    "cagg.state_files": ("count", "lower"),
    "checkpoint.record_ms": ("ms", "lower"),
    "checkpoint.pending_ms": ("ms", "lower"),
    "pipeline.derive_s": ("s", "lower"),
    "pipeline.rollup_s": ("s", "lower"),
    "pipeline.tier0_s": ("s", "lower"),
    "pipeline.frames_s": ("s", "lower"),
    "pipeline.retention_s": ("s", "lower"),
    "pipeline.total_s": ("s", "lower"),
    "trace.overhead_share": ("share", "lower"),
}
_SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "shuffle_bytes": "B", "executor_run_s": "s", "driver_only_s": "s",
}
for _op in OPS:
    for _c in SPARK_COUNTS:
        PER_LAYER[f"spark.{_op}.{_c}"] = (_SPARK_UNITS[_c], "lower")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _series_days(ref_df, cap: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """(ts, values) per series-day, in key order, up to ``cap`` samples."""
    df = ref_df.assign(day=ref_df["ts"] // checks.DAY_S)
    out, total = [], 0
    for _, g in df.groupby(["conv_id", "metric", "day"], sort=True):
        out.append((g["ts"].to_numpy(np.int64), g["value"].to_numpy(np.float64)))
        total += len(g)
        if total >= cap:
            break
    return out


def core_rates(ref_df) -> dict[str, float]:
    """Single-core, in-process kernel throughputs on the workload's
    series-days, cut into frames by ``get_chunk_sizes``."""
    groups = _series_days(ref_df, CORE_SAMPLE_CAP)
    frames = []
    for _, v in groups:
        o = 0
        for size in get_chunk_sizes(len(v)):
            frames.append(v[o : o + size])
            o += size
    n = sum(len(v) for _, v in groups)
    t0 = time.perf_counter()
    results = compress_frames_batch(frames, ERR_TIER1)
    t1 = time.perf_counter()
    for r in results:
        decompress_frame(r.compressor, r.sample_count, r.payload)
    t2 = time.perf_counter()
    blobs = [gorilla_encode(ts, v) for ts, v in groups]
    t3 = time.perf_counter()
    for b in blobs:
        gorilla_decode(b)
    t4 = time.perf_counter()
    return {
        "core.atsc_encode_msamples_per_s": n / (t1 - t0) / 1e6,
        "core.atsc_decode_msamples_per_s": n / (t2 - t1) / 1e6,
        "core.gorilla_encode_msamples_per_s": n / (t3 - t2) / 1e6,
        "core.gorilla_decode_msamples_per_s": n / (t4 - t3) / 1e6,
    }


def _timed_ms(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return median(walls) * 1000.0


def measure(w, tracer, tiered, cagg, cores: int, plain: dict[str, float], pipeline_stats: dict) -> dict[str, float]:
    """Layer calls under spans, then every per-layer metric.  ``tiered``
    is the store of the traced tier pass; ``plain`` holds the untraced
    wall of one operation of each kind, for the tracing overhead."""
    spark = w.spark
    out: dict[str, float] = {}
    series = spark.read.parquet(f"{w.raw_base()}/raw").select("conv_id", "metric", "bucket_ts", "value")

    def span(name, fn):
        with tracer.span(name) as s:
            fn()
        return s.duration

    out["frames.group_s"] = span("frames.group", lambda: _noop(grouped_points(series, fit_task_count(spark))))
    out["frames.fit_s"] = span("frames.fit", lambda: _noop(fit_frames(series, max_error=ERR_TIER1)))
    out["lossless.fit_s"] = span("lossless.fit", lambda: _noop(fit_lossless(series)))
    read = spark.read.parquet
    out["frames.decode_s"] = span(
        "frames.decode",
        lambda: _noop(decode_frames(read(tiered.path("tier1")).unionByName(read(tiered.path("tier2"))))),
    )
    lo = gen.epoch_s(date.fromisoformat([d for d, t in w.want_moves if t == "tier1"][0])) + 6 * 3600
    out["frames.prune_ms"] = 1000 * span(
        "frames.prune", lambda: prune_frames_to_range(read(tiered.path("tier1")), lo, lo + 3599).count()
    )
    out["lossless.decode_s"] = span("lossless.decode", lambda: _noop(decode_lossless(read(tiered.path("tier0")))))
    out["series.derive_s"] = span(
        "series.derive", lambda: _noop(derive_series(read(f"{w.inputs_dir()}/transcripts.parquet")))
    )

    def cascade():
        day0 = gen.epoch_s(w.days[0])
        ts = F.col("bucket_ts")
        one_day = series.filter(
            (ts >= F.timestamp_seconds(F.lit(day0))) & (ts < F.timestamp_seconds(F.lit(day0 + checks.DAY_S)))
        )
        r1m = rollup(one_day, "1 minute")
        r1h = rollup_cascade_step(r1m, "1 hour")
        for df in (r1m, r1h, rollup_cascade_step(r1h, "1 day")):
            _noop(df)

    out["rollup.cascade_s"] = span("rollup.cascade", cascade)

    scratch = TieredStore(spark, f"{w.work}/layer_store", w.policy)
    new_day = f"{w.inputs_dir()}/series/day={w.new_days[-1].isoformat()}"
    out["retention.write_raw_s"] = span("retention.write_raw", lambda: scratch.write_raw(read(new_day)))
    with tracer.span("retention.tier_days"):
        out["retention.tier_days_ms"] = _timed_ms(lambda: tiered.tier_days("tier1"), 5)
    out["retention.read_plan_ms"] = 1000 * median([s.duration for s in tracer.find("retention.read_plan")])
    out["retention.read_exec_ms"] = 1000 * median([s.duration for s in tracer.find("retention.read_exec")])

    with tracer.span("cagg.dirty_days"):
        out["cagg.dirty_days_ms"] = _timed_ms(cagg.dirty_days, 3)
    out["cagg.serve_plan_ms"] = 1000 * median([s.duration for s in tracer.find("cagg.serve_plan")])
    out["cagg.state_files"] = float(len(glob.glob(f"{cagg.base}/_state/*.parquet")))

    log = CheckpointLog(spark, f"{w.work}/layer_lineage")
    keys = [d.isoformat() for d in w.days]
    rows = [{"stage": "bench", "partition_key": k, "rows_out": 1, "wall_ms": 1} for k in keys]
    with tracer.span("checkpoint.record"):
        out["checkpoint.record_ms"] = _timed_ms(lambda: log.record(rows), 5)
    key_df = spark.createDataFrame([(k,) for k in keys], "partition_key string")
    with tracer.span("checkpoint.pending"):
        out["checkpoint.pending_ms"] = _timed_ms(lambda: log.pending(key_df, "bench").collect(), 3)

    for stage in ("derive", "rollup", "tier0", "frames", "retention"):
        out[f"pipeline.{stage}_s"] = float(pipeline_stats[stage])
    out["pipeline.total_s"] = tracer.find("op.pipeline")[0].duration

    with tracer.span("core.kernels"):
        out.update(core_rates(w.ref.df))
    atsc_rate = out["core.atsc_encode_msamples_per_s"] * 1e6
    gorilla_rate = out["core.gorilla_encode_msamples_per_s"] * 1e6
    out["frames.boundary_s"] = out["frames.fit_s"] - out["frames.group_s"] - w.ref.n / atsc_rate / cores

    per_day = w.ref.day_counts()
    moved = {t: 0 for t in ("tier0", "tier1", "tier2")}
    for d, t in w.want_moves:
        moved[t] += per_day.get(gen.epoch_s(date.fromisoformat(d)) // checks.DAY_S, 0)
    kernel_cpu_s = (moved["tier1"] + moved["tier2"]) / atsc_rate + moved["tier0"] / gorilla_rate
    tier_wall = tracer.find("op.tier")[0].duration
    out["core.kernel_share_tier"] = kernel_cpu_s / (tier_wall * cores)

    stats = SparkStats(spark)
    traced_sum = plain_sum = 0.0
    for op in OPS:
        spans = tracer.find(f"op.{op}")
        per = [stats.groups([x.group for x in tracer.subtree(s)], s.start, s.end) for s in spans]
        for c in SPARK_COUNTS:
            out[f"spark.{op}.{c}"] = median([p[c] for p in per])
        if op in plain:
            traced_sum += median([s.duration for s in spans])
            plain_sum += plain[op]
    out["trace.overhead_share"] = (traced_sum - plain_sum) / plain_sum
    return out
