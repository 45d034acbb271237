"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

import os
import sys
from datetime import date

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Span, Tracer, covered, self_time  # noqa: E402

DAYS = gen.day_list(date(2024, 1, 1), 2)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", None, 0, 0.0, 10.0),
        Span(1, "a", 0, 0, 1.0, 4.0),
        Span(2, "b", 0, 0, 3.0, 6.0),  # overlaps a: union is [1, 6]
        Span(3, "c", 2, 0, 3.5, 5.5),  # grandchild: not subtracted from op
        Span(4, "d", 0, 0, 9.0, 12.0),  # clipped to the parent's end
    ]
    assert self_time(spans[0], spans) == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_time(spans[2], spans) == pytest.approx(3.0 - 2.0)
    assert covered([(0, 1), (2, 3)], 0.5, 2.5) == pytest.approx(1.0)


def test_tracer_nests_spans_under_one_operation():
    t = Tracer()
    with t.span("op.read") as op:
        with t.span("retention.read_plan") as plan:
            pass
    with t.span("op.serve") as other:
        pass
    assert plan.parent == op.id and plan.op == op.op
    assert other.op != op.op and other.parent is None
    assert [s.name for s in t.subtree(op)] == ["op.read", "retention.read_plan"]
    assert self_time(op, t.spans) <= op.duration


@pytest.mark.parametrize("make", [
    lambda seed: gen.monitoring(seed, 20, DAYS),
    lambda seed: gen.transcripts(seed, 50, DAYS),
])
def test_each_seed_always_generates_the_same_input(make):
    assert make(3).equals(make(3))
    assert not make(3).equals(make(4))


def test_monitoring_shapes():
    df = gen.monitoring(1, 20, DAYS).to_pandas()
    assert len(df) == 20 * len(DAYS) * gen.SAMPLES_PER_DAY
    per_metric = df.groupby("metric")["conv_id"].nunique().to_dict()
    assert per_metric == {"cpu_like": 8, "iowait_like": 1, "heap_like": 7, "uptime_like": 4}
    assert (df[df.metric == "uptime_like"].value == 12345.0).all()


def test_transcripts_stay_inside_their_days():
    df = gen.transcripts(5, 200, DAYS).to_pandas()
    lo = pd.Timestamp(DAYS[0], tz="UTC")
    hi = pd.Timestamp(DAYS[-1], tz="UTC") + pd.Timedelta(days=1)
    assert df.ts.min() >= lo and df.ts.max() < hi
    turns = df.groupby("conv_id").turn_idx.agg(["min", "max", "count"])
    assert (turns["min"] == 0).all() and (turns["max"] + 1 == turns["count"]).all()
    assert (df.groupby("conv_id").ts.apply(lambda s: s.is_monotonic_increasing)).all()


def _reference():
    day0 = gen.epoch_s(DAYS[0])
    ts = day0 + np.arange(0, 2 * checks.DAY_S, 3600)
    return checks.Reference(
        pd.DataFrame({"conv_id": "s1", "metric": "m", "ts": ts, "value": np.arange(len(ts)) * 1.5})
    )


def test_corrupted_decode_is_a_failed_operation():
    ref = _reference()
    lo, hi = int(ref.df.ts.min()), int(ref.df.ts.max())
    ledger = checks.Ledger()
    good = ref.window(lo, hi).copy()
    assert ledger.record("read", checks.check_read(ref, good, lo, hi, ["s1"], ["m"], set())) is True

    corrupt = good.copy()
    bits = corrupt["value"].to_numpy().copy().view(np.int64)
    bits[3] ^= 1  # one flipped mantissa bit
    corrupt["value"] = bits.view(np.float64)
    assert not ledger.record("read", checks.check_read(ref, corrupt, lo, hi, ["s1"], ["m"], set()))

    lossy_day = {gen.epoch_s(DAYS[0]) // checks.DAY_S}
    assert checks.check_read(ref, corrupt, lo, hi, ["s1"], ["m"], lossy_day) is None
    assert checks.check_read(ref, good.iloc[1:], lo, hi, ["s1"], ["m"], set()) is not None

    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert ledger.ok_share == 0.5
    assert ledger.failures[0].startswith("read: ")


def test_serve_check_matches_a_rollup_of_raw():
    ref = _reference()
    lo, hi = gen.epoch_s(DAYS[0]), gen.epoch_s(DAYS[0]) + 6 * 3600 - 1
    assert checks.grain_for(hi - lo, 100) == 3600
    want = ref.window(lo, hi)
    got = pd.DataFrame(
        {"conv_id": "s1", "metric": "m", "ts": want.ts, "cnt": 1, "sum": want.value}
    )
    assert checks.check_serve(ref, got, lo, hi, ["s1"], 100, set()) is None
    bad = got.assign(cnt=got.cnt.where(got.index != got.index[0], 2))
    assert checks.check_serve(ref, bad, lo, hi, ["s1"], 100, set()) is not None
    # a window past the last stored day: no buckets, and none expected
    later = gen.epoch_s(DAYS[-1]) + checks.DAY_S
    assert checks.check_serve(ref, checks.rows_frame([]), later, later + 3599, ["s1"], 100, set()) is None
