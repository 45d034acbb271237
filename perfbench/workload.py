"""Workloads: seeded inputs, store set-up, and the engine operations the
benchmark times, each checked against a reference built from raw.

Operations (public engine calls):

- ``tier``: ``TieredStore.retention_pass(today)`` on a fresh copy of the
  raw store; one pass moves days raw->tier0, raw->tier1 and raw->tier2.
- ``read``: ``TieredStore.read_series(t0, t1, conv_ids, metrics)`` over
  1 h, 6 h and 1 day windows on two series, rows collected.
- ``scan``: ``TieredStore.read_series()`` unbounded, drained to a noop sink.
- ``serve``: ``ContinuousRollups.serve(t0, t1, conv_ids)`` over spans that
  pick the 1m, 1h and 1d grains, rows collected.
- ``refresh``: ``ContinuousRollups.refresh()`` after an untimed
  ``write_raw`` of one new day.
- ``pipeline``: ``pipeline.run`` on a transcripts parquet (traced run only).
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import checks
import gen
from atsc_spark import pipeline
from atsc_spark.cagg import ContinuousRollups
from atsc_spark.retention import TieredStore, TierPolicy
from atsc_spark.series import derive_series

FIRST_DAY = date(2024, 1, 1)
ERR_TIER1, ERR_TIER2 = 0.01, 0.03
MAX_POINTS = 40  # a sparkline panel: 30 min -> 1m, 6 h and 1 d -> 1h, 2 d and longer -> 1d
N_NEW_DAYS = 2  # days appended to the serving copy, one per refresh
READ_SPANS = (3600, 6 * 3600, 86_400)


@dataclass(frozen=True)
class Spec:
    kind: str  # "monitoring" | "transcripts"
    size: int  # series (monitoring) or conversations (transcripts)
    days: int
    pipeline_convs: int  # monitoring only: conversations in the traced pipeline's input


SPECS = {
    "monitoring": Spec("monitoring", size=20, days=4, pipeline_convs=300),
    "transcripts": Spec("transcripts", size=600, days=4, pipeline_convs=0),
}


def _span(tracer, name: str):
    return nullcontext() if tracer is None else tracer.span(name)


class Workload:
    """One workload's inputs, stores and checked operations.

    Every operation returns its wall (seconds), appends it to
    ``self.walls[op]`` when ``timed``, and records its check in
    ``ledger``.  With a ``tracer`` it also records spans around the
    operation and its engine calls."""

    def __init__(self, spark, name: str, seed: int, work: str, ledger: checks.Ledger, pipeline_input: bool) -> None:
        self.spark = spark
        self.pipeline_input = pipeline_input
        self.spec = SPECS[name]
        self.seed = seed
        self.work = work
        self.ledger = ledger
        self.days = gen.day_list(FIRST_DAY, self.spec.days)
        self.today = self.days[-1]
        self.new_days = gen.day_list(date.fromordinal(self.today.toordinal() + 1), N_NEW_DAYS)
        self.policy = TierPolicy(t0_days=1, t1_days=2, t2_days=3, err_tier1=ERR_TIER1, err_tier2=ERR_TIER2)
        self.want_moves = []
        for d in self.days:
            tier = self.policy.tier_for_age((self.today - d).days)
            if tier != "raw":
                self.want_moves.append((d.isoformat(), tier))
        self.lossy_days = {
            gen.epoch_s(date.fromisoformat(d)) // checks.DAY_S
            for d, t in self.want_moves
            if t in ("tier1", "tier2")
        }
        self.rng = np.random.default_rng([seed, 7])
        self.walls: dict[str, list[float]] = {}
        self._copies = 0

    # ------------------------------------------------------------ set-up

    def inputs_dir(self, rep: int = 0) -> str:
        return f"{self.work}/setup{rep}"

    def raw_base(self, rep: int = 0) -> str:
        return f"{self.inputs_dir(rep)}/store"

    def build(self, rep: int) -> float:
        """One set-up repetition: generate the inputs, write them to
        parquet, and build the raw store from the files.  The series of
        the days appended later are written beside, one directory a day."""
        t0 = time.perf_counter()
        root = self.inputs_dir(rep)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        spec, spark = self.spec, self.spark
        all_days = self.days + self.new_days
        if spec.kind == "monitoring":
            tbl = gen.monitoring(self.seed, spec.size, all_days)
            day = pa.compute.strftime(tbl["bucket_ts"], format="%Y-%m-%d")
            pq.write_to_dataset(tbl.append_column("day", day), f"{root}/series", partition_cols=["day"])
            if self.pipeline_input:
                pq.write_table(
                    gen.transcripts(self.seed, spec.pipeline_convs, self.days), f"{root}/transcripts.parquet"
                )
        else:
            # each appended day is generated on its own, with a stored day's
            # share of conversations, so every day's size is steady by seed
            pq.write_table(gen.transcripts(self.seed, spec.size, self.days), f"{root}/transcripts.parquet")
            per_day = spec.size // len(self.days)
            new = [gen.transcripts(self.seed, per_day, [d], part=1 + k) for k, d in enumerate(self.new_days)]
            pq.write_table(pa.concat_tables(new), f"{root}/new_transcripts.parquet")
            (
                derive_series(spark.read.parquet(f"{root}/transcripts.parquet", f"{root}/new_transcripts.parquet"))
                .withColumn("day", F.to_date("bucket_ts"))
                .write.partitionBy("day")
                .parquet(f"{root}/series")
            )
        base = [d.isoformat() for d in self.days]
        series = spark.read.parquet(f"{root}/series").filter(F.col("day").cast("string").isin(base))
        TieredStore(spark, self.raw_base(rep), self.policy).write_raw(series.drop("day"))
        return time.perf_counter() - t0

    def load_reference(self) -> None:
        self.ref = checks.Reference(checks.read_series_dir(f"{self.raw_base()}/raw"))
        today = gen.epoch_s(self.today) // checks.DAY_S
        self.serve_ref = checks.Reference(self.ref.df[self.ref.df["ts"] // checks.DAY_S == today])

    def fresh_copy(self) -> TieredStore:
        self._copies += 1
        base = f"{self.work}/store{self._copies}"
        shutil.copytree(self.raw_base(), base)
        return TieredStore(self.spark, base, self.policy)

    def serving_copy(self) -> TieredStore:
        """A store holding only the raw day ``today``, for serves and
        refreshes: its first refresh has exactly one dirty day."""
        base = f"{self.work}/serving"
        day = f"raw/day={self.today.isoformat()}"
        shutil.copytree(f"{self.raw_base()}/{day}", f"{base}/{day}")
        return TieredStore(self.spark, base, self.policy)

    def cleanup_inputs(self, rep: int) -> None:
        shutil.rmtree(self.inputs_dir(rep), ignore_errors=True)

    # -------------------------------------------------------- operations

    def _done(self, op: str, wall: float, problem: str | None, timed: bool) -> float:
        self.ledger.record(op, problem)
        if timed:
            self.walls.setdefault(op, []).append(wall)
        return wall

    def tier(self, store: TieredStore, timed: bool, tracer=None) -> float:
        with _span(tracer, "op.tier"):
            t0 = time.perf_counter()
            moves = store.retention_pass(self.today)
            wall = time.perf_counter() - t0
        problem = checks.check_tier(
            store.base, moves, self.want_moves, self.ref, {"tier1": ERR_TIER1, "tier2": ERR_TIER2}
        )
        return self._done("tier", wall, problem, timed)

    def scan(self, store: TieredStore, timed: bool, tracer=None) -> float:
        obs = Observation("scan")
        with _span(tracer, "op.scan"):
            t0 = time.perf_counter()
            df = store.read_series().observe(obs, F.count(F.lit(1)).alias("n"))
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
        n = obs.get["n"]
        problem = None if n == self.ref.n else f"scan decoded {n} samples, raw has {self.ref.n}"
        return self._done("scan", wall, problem, timed)

    def read_windows(self, n: int) -> list[tuple]:
        """Seeded windows on two series that hold data in them: 1 h on the
        tier0 day, 6 h on the tier1 day, 1 day from inside the tier2 day,
        1 h on the raw day, then round again."""
        by_tier = {t: date.fromisoformat(d) for d, t in self.want_moves}
        order = [by_tier["tier0"], by_tier["tier1"], by_tier["tier2"], self.today]
        out = []
        df = self.ref.df
        day_of = df["ts"].to_numpy() // checks.DAY_S
        for i in range(n):
            span = READ_SPANS[i % len(READ_SPANS)]
            d = order[i % len(order)]
            rows = np.flatnonzero(day_of == gen.epoch_s(d) // checks.DAY_S)
            picks = df.iloc[self.rng.choice(rows, size=2, replace=False)]
            lo = int(max(gen.epoch_s(d), picks["ts"].min() - self.rng.integers(0, span // 2 + 1)))
            hi = lo + span - 1
            out.append((lo, hi, sorted(set(picks["conv_id"])), sorted(set(picks["metric"]))))
        return out

    def read(self, store: TieredStore, window: tuple, timed: bool, tracer=None) -> float:
        lo, hi, convs, metrics = window
        with _span(tracer, "op.read"):
            t0 = time.perf_counter()
            with _span(tracer, "retention.read_plan"):
                df = store.read_series(lo, hi, conv_ids=convs, metrics=metrics)
            with _span(tracer, "retention.read_exec"):
                rows = df.collect()
            wall = time.perf_counter() - t0
        problem = checks.check_read(self.ref, checks.rows_frame(rows), lo, hi, convs, metrics, self.lossy_days)
        return self._done("read", wall, problem, timed)

    def serve_windows(self, n: int) -> list[tuple]:
        """Seeded spans from 30 min to the whole serving store (today and
        the appended days) on three series."""
        out = []
        df = self.serve_ref.df
        first = gen.epoch_s(self.today)
        last = gen.epoch_s(self.new_days[-1]) + checks.DAY_S - 1
        spans = (1800, 6 * 3600, 86_400, 2 * 86_400, None)
        for i in range(n):
            span = spans[i % len(spans)]
            picks = df.iloc[self.rng.choice(len(df), size=3, replace=False)]
            if span is None:
                lo, hi = first, last
            else:
                lo = int(max(first, picks["ts"].iloc[0] - self.rng.integers(0, span // 2 + 1)))
                hi = lo + span - 1
            out.append((lo, hi, sorted(set(picks["conv_id"]))))
        return out

    def serve(self, cagg: ContinuousRollups, window: tuple, timed: bool, tracer=None) -> float:
        lo, hi, convs = window
        with _span(tracer, "op.serve"):
            t0 = time.perf_counter()
            with _span(tracer, "cagg.serve_plan"):
                df = cagg.serve(lo, hi, max_points=MAX_POINTS, conv_ids=convs)
            with _span(tracer, "cagg.serve_exec"):
                rows = df.collect()
            wall = time.perf_counter() - t0
        # the serving copy is never tiered: every sum must be exact
        problem = checks.check_serve(self.serve_ref, checks.rows_frame(rows), lo, hi, convs, MAX_POINTS, set())
        return self._done("serve", wall, problem, timed)

    def append_day(self, store: TieredStore, day: date) -> None:
        path = f"{self.inputs_dir()}/series/day={day.isoformat()}"
        store.write_raw(self.spark.read.parquet(path).select("conv_id", "metric", "bucket_ts", "value"))
        self.serve_ref.add(checks.read_series_dir(path))

    def refresh(self, cagg: ContinuousRollups, want: list[str], timed: bool, tracer=None) -> float:
        with _span(tracer, "op.refresh"):
            t0 = time.perf_counter()
            got = cagg.refresh()
            wall = time.perf_counter() - t0
        problem = None if sorted(got) == sorted(want) else f"refreshed {sorted(got)}, want {sorted(want)}"
        return self._done("refresh", wall, problem, timed)

    def pipeline(self, tracer=None) -> tuple[float, dict]:
        """``pipeline.run`` on the workload's transcripts parquet, into an
        empty store."""
        base = f"{self.work}/pipeline"
        shutil.rmtree(base, ignore_errors=True)
        with _span(tracer, "op.pipeline"):
            t0 = time.perf_counter()
            stats = pipeline.run(
                self.spark,
                base,
                input_path=f"{self.inputs_dir()}/transcripts.parquet",
                max_error=ERR_TIER2,
                today=self.today,
            )
            wall = time.perf_counter() - t0
        err = stats.get("atsc_max_error")
        problem = None if err is not None and err <= ERR_TIER2 else f"atsc_max_error {err} exceeds {ERR_TIER2}"
        self._done("pipeline", wall, problem, False)
        return wall, stats

    def sizes(self, store: TieredStore) -> dict[str, float]:
        out = checks.tier_sizes(store.base)
        out["store_bytes_per_sample"] = out.pop("store_bytes") / self.ref.n
        return out
