"""Output checks for every benchmark operation.

Each check compares what the engine returned with a reference computed
here in NumPy from the raw store, read with pyarrow (never through
Spark), and returns ``None`` when the output is right or a one-line
reason when it is not.  :class:`Ledger` counts operations attempted and
failed; ``ok_op_share`` comes from it.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

DAY_S = 86_400
GRAIN_S = (60, 3600, DAY_S)


@dataclass
class Ledger:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, op: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            self.failures.append(f"{op}: {problem}")
        return problem is None

    @property
    def ok_share(self) -> float:
        return (self.attempted - self.failed) / max(self.attempted, 1)


def _epoch_s(col: pd.Series) -> np.ndarray:
    if getattr(col.dt, "tz", None) is not None:
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    return col.to_numpy().astype("datetime64[s]").astype(np.int64)


def read_series_dir(path: str) -> pd.DataFrame:
    """``(conv_id, metric, ts, value)`` of a ``day=``-partitioned series
    directory (a raw tier, or an input parquet file)."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files and os.path.isfile(path):
        files = [path]
    parts = [
        pq.read_table(f, columns=["conv_id", "metric", "bucket_ts", "value"]).to_pandas()
        for f in files
    ]
    df = pd.concat(parts, ignore_index=True)
    return pd.DataFrame(
        {
            "conv_id": df["conv_id"].astype(str),
            "metric": df["metric"].astype(str),
            "ts": _epoch_s(df["bucket_ts"]),
            "value": df["value"].to_numpy(np.float64),
        }
    )


def rows_frame(rows: list, ts_field: str = "bucket_ts") -> pd.DataFrame:
    """Collected Spark rows -> ``(conv_id, metric, ts, ...)``."""
    df = pd.DataFrame([r.asDict() for r in rows])
    if df.empty:
        return pd.DataFrame(columns=["conv_id", "metric", "ts", "value"])
    df["ts"] = _epoch_s(pd.to_datetime(df.pop(ts_field), utc=True))
    return df


class Reference:
    """The raw series a store holds, sorted by key and time."""

    def __init__(self, df: pd.DataFrame) -> None:
        self.df = df.sort_values(["conv_id", "metric", "ts"], kind="stable").reset_index(drop=True)

    def add(self, df: pd.DataFrame) -> None:
        """Take in the rows of an appended day."""
        self.df = Reference(pd.concat([self.df, df], ignore_index=True)).df

    @property
    def n(self) -> int:
        return len(self.df)

    def day_counts(self) -> dict[int, int]:
        days, counts = np.unique(self.df["ts"].to_numpy() // DAY_S, return_counts=True)
        return dict(zip(days.tolist(), counts.tolist()))

    def window(self, lo: int, hi: int, conv_ids=None, metrics=None) -> pd.DataFrame:
        d = self.df
        m = (d["ts"] >= lo) & (d["ts"] <= hi)
        if conv_ids is not None:
            m &= d["conv_id"].isin(conv_ids)
        if metrics is not None:
            m &= d["metric"].isin(metrics)
        return d[m]


def check_read(ref: Reference, got: pd.DataFrame, lo, hi, conv_ids, metrics, lossy_days: set[int]) -> str | None:
    """Exact row count and timestamps; bit-identical values on lossless days."""
    want = ref.window(lo, hi, conv_ids, metrics)
    if len(got) != len(want):
        return f"window [{lo},{hi}] returned {len(got)} rows, raw has {len(want)}"
    if not len(want):
        return None
    got = got.sort_values(["conv_id", "metric", "ts"], kind="stable")
    keys_ok = (
        np.array_equal(got["conv_id"].to_numpy(str), want["conv_id"].to_numpy(str))
        and np.array_equal(got["metric"].to_numpy(str), want["metric"].to_numpy(str))
        and np.array_equal(got["ts"].to_numpy(np.int64), want["ts"].to_numpy(np.int64))
    )
    if not keys_ok:
        return f"window [{lo},{hi}] keys or timestamps differ from raw"
    gv = got["value"].to_numpy(np.float64)
    wv = want["value"].to_numpy(np.float64)
    exact = ~np.isin(want["ts"].to_numpy() // DAY_S, list(lossy_days))
    if not np.array_equal(gv[exact].view(np.int64), wv[exact].view(np.int64)):
        return f"window [{lo},{hi}] lossless values are not bit-identical to raw"
    if not np.isfinite(gv[~exact]).all():
        return f"window [{lo},{hi}] lossy values are not finite"
    return None


def _files(store: str, tier: str) -> list[str]:
    return sorted(glob.glob(os.path.join(store, tier, "day=*", "*.parquet")))


def _tier_table(store: str, tier: str, columns: list[str]) -> pd.DataFrame:
    parts = []
    for f in _files(store, tier):
        t = pq.read_table(f, columns=columns).to_pandas()
        t["day"] = (np.datetime64(os.path.basename(os.path.dirname(f))[4:]).astype("datetime64[D]").astype(np.int64))
        parts.append(t)
    if not parts:
        return pd.DataFrame(columns=columns + ["day"])
    return pd.concat(parts, ignore_index=True)


def check_tier(store: str, moves, want_moves, ref: Reference, bounds: dict[str, float]) -> str | None:
    """Moves as planned; every moved day's sample count kept; every frame
    within its tier's error bound."""
    if sorted(moves) != sorted(want_moves):
        return f"moves {sorted(moves)} != planned {sorted(want_moves)}"
    per_day = ref.day_counts()
    for tier, bound in (("tier0", None), ("tier1", bounds["tier1"]), ("tier2", bounds["tier2"])):
        cols = ["sample_count"] + ([] if bound is None else ["error"])
        t = _tier_table(store, tier, cols)
        want_days = {np.datetime64(d).astype("datetime64[D]").astype(np.int64) for d, tt in want_moves if tt == tier}
        counts = t.groupby("day")["sample_count"].sum().to_dict()
        for d in want_days:
            if counts.get(d, 0) != per_day.get(d, 0):
                return f"{tier} day {d} holds {counts.get(d, 0)} samples, raw had {per_day.get(d, 0)}"
        if bound is not None:
            err = t["error"].to_numpy(np.float64)
            if len(err) and not (np.isfinite(err).all() and err.max() <= bound):
                return f"{tier} frame error {np.nanmax(err):.5f} exceeds bound {bound}"
    return None


def tier_sizes(store: str) -> dict[str, float]:
    """Compression ratios and on-disk bytes of a tiered store."""
    out = {}
    for tier, key in (("tier0", "gorilla"), (("tier1", "tier2"), "atsc")):
        tiers = tier if isinstance(tier, tuple) else (tier,)
        raw = pay = 0
        for t in tiers:
            tab = _tier_table(store, t, ["raw_bytes", "payload_bytes"])
            raw += int(tab["raw_bytes"].sum())
            pay += int(tab["payload_bytes"].sum())
        out[f"{key}_ratio"] = raw / pay if pay else float("nan")
    out["store_bytes"] = float(
        sum(
            os.path.getsize(f)
            for t in ("raw", "tier0", "tier1", "tier2")
            for f in _files(store, t)
        )
    )
    return out


def grain_for(span_s: int, max_points: int) -> int:
    """The grain (seconds) the engine's resolution rule picks for a span."""
    for g in GRAIN_S:
        if span_s // g + 1 <= max_points:
            return g
    return DAY_S


def check_serve(
    ref: Reference, got: pd.DataFrame, lo: int, hi: int, conv_ids, max_points: int, lossy_days: set[int]
) -> str | None:
    """Buckets, counts and sums equal a rollup of raw (sums on lossless days only)."""
    g = grain_for(max(hi - lo, 1), max_points)
    d = ref.df[ref.df["conv_id"].isin(conv_ids)]
    bucket = d["ts"].to_numpy() // g * g
    keep = (bucket >= lo) & (bucket <= hi)
    want = (
        d[keep].assign(b=bucket[keep])
        .groupby(["conv_id", "metric", "b"], sort=True)["value"]
        .agg(["count", "sum"])
        .reset_index()
    )
    if len(got) != len(want):
        return f"serve [{lo},{hi}] at {g}s returned {len(got)} buckets, want {len(want)}"
    if not len(want):
        return None
    got = got.sort_values(["conv_id", "metric", "ts"], kind="stable")
    if not np.array_equal(got["ts"].to_numpy(np.int64), want["b"].to_numpy(np.int64)):
        return f"serve [{lo},{hi}] bucket starts differ from a rollup of raw"
    if not np.array_equal(got["cnt"].to_numpy(np.int64), want["count"].to_numpy(np.int64)):
        return f"serve [{lo},{hi}] bucket counts differ from a rollup of raw"
    exact = ~np.isin(want["b"].to_numpy() // DAY_S, list(lossy_days))
    gs, ws = got["sum"].to_numpy(np.float64)[exact], want["sum"].to_numpy(np.float64)[exact]
    if not np.allclose(gs, ws, rtol=1e-9, atol=1e-9):
        return f"serve [{lo},{hi}] sums on raw/tier0 days differ from a rollup of raw"
    return None
