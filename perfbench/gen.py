"""Seeded input generators for the benchmark.

Each generator is a pure function of its arguments and ``seed``: the
same seed gives byte-identical tables.  They are written to parquet in
set-up, so the engine only ever receives files, and nothing here
imports the engine (an edit to ``atsc_spark/fixtures.py`` cannot move a
benchmark number).

Shapes follow FIXTURES.md:

- :func:`monitoring` ports ``fixtures.monitoring_series``: the reference
  corpora (cpu_utilization, iowait, heap gauge, uptime) at a 20 s cadence,
  4,320 samples per series-day, mixed 40/5/35/20.
- :func:`transcripts` ports ``fixtures.transcripts``: Zipf(1.5)
  conversation lengths clipped to [2, 4096] turns (drawn stratified),
  Exp(20 s) inter-turn gaps, lognormal text lengths and a Zipf tool mix.
"""

from __future__ import annotations

from datetime import date, datetime, timezone

import numpy as np
import pyarrow as pa

CADENCE_S = 20
SAMPLES_PER_DAY = 86_400 // CADENCE_S  # 4,320
TOOLS = ["search", "python", "browser", "calculator", "sql", "files", "email", "calendar"]
_FILLER = (
    "the quick brown token stream rolls over the frame boundary while the "
    "compressor fits a polynomial to the turn rate and the fft hums along "
)
SERIES_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("metric", pa.string()),
        ("bucket_ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
    ]
)
TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def epoch_s(d: date) -> int:
    return int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp())


def _series_table(conv: np.ndarray, metric: np.ndarray, ts_s: np.ndarray, value: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "conv_id": pa.array(conv, pa.string()),
            "metric": pa.array(metric, pa.string()),
            "bucket_ts": pa.array(ts_s.astype(np.int64) * 1_000_000, pa.timestamp("us", tz="UTC")),
            "value": pa.array(value, pa.float64()),
        },
        schema=SERIES_SCHEMA,
    )


def monitoring(seed: int, n_series: int, days: list[date], part: int = 0) -> pa.Table:
    """Dense monitoring series, one 4,320-sample series-day per (series, day).

    Series ``sid`` takes kind ``sid % 20``: 0-7 cpu-like (noisy % with a
    flat tail over the last fifth of each day), 8 iowait-like (near-zero
    with rare spikes), 9-15 heap-like (large integral gauge), 16-19
    constant (uptime-like).  The waveforms repeat each day; the seed
    draws the noise.  ``part`` picks an independent stream of the same
    seed, for days appended later.
    """
    rng = np.random.default_rng([seed, 1, part])
    i = np.arange(SAMPLES_PER_DAY, dtype=np.float64)
    flat_start = int(SAMPLES_PER_DAY * 0.8)
    convs, metrics, ts_parts, vals = [], [], [], []
    for sid in range(n_series):
        kind = sid % 20
        for d in days:
            g = rng.standard_normal(SAMPLES_PER_DAY)
            u = rng.random(SAMPLES_PER_DAY)
            if kind < 8:
                name = "cpu_like"
                i_eff = np.minimum(i, flat_start)
                noise = np.where(i >= flat_start, 0.0, 0.8 * g)
                v = np.round(np.abs(40.0 + 20.0 * np.sin(i_eff / 120.0) + noise), 2) + 1.0
            elif kind < 9:
                name = "iowait_like"
                spike = np.where(u > 0.97, np.round(rng.random(SAMPLES_PER_DAY) * 2.0, 3), 0.0)
                v = np.round(np.abs(0.02 + 0.005 * g), 3) + 0.01 + spike
            elif kind < 16:
                name = "heap_like"
                v = np.round(1e8 + 1e6 * np.sin(i / 300.0) + np.floor(u * 1e5), 0)
            else:
                name = "uptime_like"
                v = np.full(SAMPLES_PER_DAY, 12345.0)
            convs.append(np.full(SAMPLES_PER_DAY, f"series_{sid:06d}", dtype=object))
            metrics.append(np.full(SAMPLES_PER_DAY, name, dtype=object))
            ts_parts.append(epoch_s(d) + np.arange(SAMPLES_PER_DAY, dtype=np.int64) * CADENCE_S)
            vals.append(v)
    return _series_table(
        np.concatenate(convs), np.concatenate(metrics), np.concatenate(ts_parts), np.concatenate(vals)
    )


def transcripts(seed: int, n_convs: int, days: list[date], part: int = 0) -> pa.Table:
    """Multi-turn transcripts whose conversations start uniformly over
    ``days`` and are clipped to end before the last day does, so every
    derived sample falls inside the requested days.  ``part`` picks an
    independent stream of the same seed."""
    rng = np.random.default_rng([seed, 2, part])
    lo = epoch_s(days[0])
    hi = epoch_s(days[-1]) + 86_400
    # stratified uniforms: the same Zipf marginal, but the heavy tail no
    # longer swings the total turn count (and so every size) by seed
    u = (np.arange(n_convs) + rng.random(n_convs)) / n_convs
    rng.shuffle(u)
    u = np.maximum(u, 1e-9)
    n_turns = np.maximum(2, np.minimum(4096.0, 2.0 / u**2).astype(np.int64))
    total = int(n_turns.sum())
    conv_of_turn = np.repeat(np.arange(n_convs), n_turns)
    first = np.concatenate([[0], np.cumsum(n_turns)[:-1]])
    turn_idx = np.arange(total, dtype=np.int64) - np.repeat(first, n_turns)

    gap = np.maximum(1.0, np.round(rng.exponential(20.0, total)))
    gap[first] = 0.0
    elapsed = np.cumsum(gap)
    elapsed -= np.repeat(elapsed[first], n_turns)
    length_s = elapsed[np.cumsum(n_turns) - 1]
    start = lo + (rng.random(n_convs) * np.maximum(hi - lo - length_s - 1, 0)).astype(np.int64)
    ts = np.repeat(start, n_turns) + elapsed.astype(np.int64)

    u_role = rng.random(total)
    role = np.where(u_role < 0.10, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))
    weights = 1.0 / np.arange(1, len(TOOLS) + 1)
    tool_pick = rng.choice(len(TOOLS), size=total, p=weights / weights.sum())
    tool = np.where(role == "tool", np.asarray(TOOLS, dtype=object)[tool_pick], None)

    text_len = np.clip(np.exp(rng.normal(5.0, 1.0, total)).astype(np.int64), 1, 20_000)
    filler = _FILLER * (20_000 // len(_FILLER) + 2)
    text = [filler[:n] for n in text_len.tolist()]

    conv_ids = np.array([f"conv_{c:08d}" for c in range(n_convs)], dtype=object)[conv_of_turn]
    return pa.table(
        {
            "conv_id": pa.array(conv_ids, pa.string()),
            "turn_idx": pa.array(turn_idx.astype(np.int32), pa.int32()),
            "role": pa.array(role.astype(object), pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )


def day_list(first: date, n: int) -> list[date]:
    return [date.fromordinal(first.toordinal() + k) for k in range(n)]
