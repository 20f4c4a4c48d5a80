"""Unit tests for time-series operators on tiny hand-built frames.

Pinned semantics come from the reference's test suite (FIXTURES.md):
- duplicate timestamps are legal rows, delta 0, negative dod
  (time_and_value_stream.rs:78-99);
- delta/dod values for the canonical sequences F2;
- as-of join takes the latest right row at-or-before each left ts.
"""

from __future__ import annotations

import datetime as dt
import math
import struct

import pytest
from pyspark.sql import functions as F

from gibbon_spark.operators.timeseries import (
    as_timeseries,
    asof_join,
    bits_to_double,
    double_bits,
    gap_fill,
    resample,
    summary,
    with_bucket,
    with_delta,
    with_delta_of_delta,
    with_value_xor,
)


def _ts(sec: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)


def _series_df(spark, points, series="s1"):
    return spark.createDataFrame(
        [(series, _ts(t), float(v), i) for i, (t, v) in enumerate(points)],
        "series_id string, ts timestamp, value double, seq int",
    )


def test_delta_and_dod_int_less_than_64(spark):
    # FIXTURES.md F2 `int_less_than_64`: ts 1,2,3,4,4,4,6 — dupes legal,
    # delta hits 0, dod goes negative (time_and_value_stream.rs:78-99).
    df = _series_df(spark, [(t, 0) for t in [1, 2, 3, 4, 4, 4, 6]])
    out = (
        with_delta_of_delta(df, ["series_id"], tiebreak=["seq"])
        .orderBy("seq")
        .select("delta", "dod")
        .collect()
    )
    assert [r.delta for r in out] == [None, 1, 1, 1, 0, 0, 2]
    assert [r.dod for r in out] == [None, None, 0, 0, -1, 0, 2]


def test_delta_all_steps(spark):
    # FIXTURES.md F2 `int_all_steps`: 1,51,251,1251,11251 → dod 49/150/800/9000
    df = _series_df(spark, [(t, 0) for t in [1, 51, 251, 1251, 11251]])
    out = (
        with_delta_of_delta(df, ["series_id"], tiebreak=["seq"])
        .orderBy("seq")
        .collect()
    )
    assert [r.dod for r in out][2:] == [150, 800, 9000]
    assert [r.delta for r in out][1:] == [50, 200, 1000, 10000]


def test_summary_matches_reference_aggregates(spark):
    pts = [(10005, 0.34), (10065, 0.35), (10124, 0.72), (10247, 0.42), (10365, 1.12)]
    df = _series_df(spark, pts)
    row = summary(df).collect()[0]
    assert row.min_value == 0.34
    assert row.max_value == 1.12
    assert row.n_samples == 5
    assert abs(row.avg_value - sum(v for _, v in pts) / 5) < 1e-12
    assert row.max_ts == _ts(10365)


def test_value_xor_repeat_is_zero(spark):
    # Repeated identical values → xor 0 (double_stream.rs:172-190 all_zeros)
    df = _series_df(spark, [(i * 60, 7.25) for i in range(4)])
    out = (
        with_value_xor(df, ["series_id"], tiebreak=["seq"]).orderBy("seq").collect()
    )
    assert [r.value_xor for r in out] == [None, 0, 0, 0]
    assert [r.xor_leading_zeros for r in out][1:] == [64, 64, 64]


def test_value_xor_new_window(spark):
    # 0.0 → 1.0: xor = bits(1.0) = 0x3FF0...0, 2 leading zeros
    # (double_stream.rs:192-206 new_window golden vector)
    df = _series_df(spark, [(0, 0.0), (60, 1.0)])
    out = with_value_xor(df, ["series_id"], tiebreak=["seq"]).orderBy("seq").collect()
    assert out[1].value_xor == 0x3FF0000000000000
    assert out[1].xor_leading_zeros == 2


EDGE_DOUBLES = [
    0.0,
    -0.0,
    5e-324,  # smallest subnormal
    2.2250738585072014e-308,  # smallest normal
    math.inf,
    -math.inf,
    math.nan,
    1.7976931348623157e308,  # largest finite
    9.64,
    0.1 + 0.2,
    -2.0,
]


def _raw_bits(v: float) -> int:
    return struct.unpack("<q", struct.pack("<d", v))[0]


def test_double_bits_edge_values(spark):
    """double_bits is f64::to_bits as a signed long, and bits_to_double
    undoes it bit for bit on every non-NaN value; null maps to null both
    ways."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(EDGE_DOUBLES)] + [(len(EDGE_DOUBLES), None)],
        "i int, v double",
    )
    bits = df.select("i", double_bits(F.col("v")).alias("b"))
    rows = bits.select("i", "b", bits_to_double(F.col("b")).alias("back")).collect()
    got = {r.i: (r.b, r.back) for r in rows}
    for i, v in enumerate(EDGE_DOUBLES):
        b, back = got[i]
        assert b == _raw_bits(v), v
        if math.isnan(v):
            assert math.isnan(back)
        else:
            assert _raw_bits(back) == b, v
    assert got[len(EDGE_DOUBLES)] == (None, None)


def test_bucket_2h_alignment(spark):
    df = _series_df(spark, [(3 * 3600 + 15, 1.0)])  # 03:00:15 → bucket 02:00
    row = with_bucket(df).collect()[0]
    assert row.bucket == dt.datetime(2024, 1, 1, 2, 0, 0)


def test_as_timeseries_truncates_to_seconds(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0, 1, 500000), 2.0)],
        "user_id int, ts timestamp, value double",
    )
    row = as_timeseries(df, series=["user_id"]).collect()[0]
    assert row.series_id == "1"
    assert row.ts == dt.datetime(2024, 1, 1, 0, 0, 1)


def test_asof_join_takes_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [("a", _ts(100), 1.0), ("a", _ts(200), 2.0), ("b", _ts(100), 3.0)],
        "k string, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [("a", _ts(50), 10.0), ("a", _ts(100), 20.0), ("a", _ts(150), 30.0),
         ("b", _ts(300), 40.0)],
        "k string, ts timestamp, rv double",
    )
    out = {
        (r.k, r.ts): (r.rv_right, r.ts_right)
        for r in asof_join(left, right, ["k"]).collect()
    }
    # at-or-before: left a@100 sees right a@100 (not a@50)
    assert out[("a", _ts(100))] == (20.0, _ts(100))
    assert out[("a", _ts(200))] == (30.0, _ts(150))
    assert out[("b", _ts(100))] == (None, None)


def test_gap_fill_forward_fills(spark):
    df = _series_df(spark, [(0, 1.0), (7200, 3.0)])  # hourly grid, 1h gap
    out = (
        gap_fill(df, ["series_id"], step="1 hour")
        .orderBy("grid_ts")
        .select("grid_ts", "filled_value")
        .collect()
    )
    assert [r.filled_value for r in out] == [1.0, 1.0, 3.0]
    assert out[1].grid_ts == _ts(3600)


def test_resample_counts(spark):
    df = _series_df(spark, [(0, 1.0), (1800, 3.0), (3600, 5.0)])
    out = resample(df, ["series_id"], every="1 hour").orderBy("bucket_start").collect()
    assert [r.n_samples for r in out] == [2, 1]
    assert out[0].avg_value == 2.0


def test_gap_fill_non_unit_step(spark):
    """30-minute slots: observations inside a slot but off its start
    minute must still land in the slot (regression: date_trunc-based
    snapping dropped them)."""
    df = _series_df(spark, [(0, 1.0), (1900, 7.0), (5400, 9.0)])
    # slots: 00:00 (rows at 0s and 1900s=31:40 -> second slot!), 00:30, 01:00, 01:30
    out = (
        gap_fill(df, ["series_id"], step="30 minutes")
        .orderBy("grid_ts")
        .select("grid_ts", "filled_value")
        .collect()
    )
    assert [r.filled_value for r in out] == [1.0, 7.0, 7.0, 9.0]
    assert out[1].grid_ts == _ts(1800)


# ---------------------------------------------------------------------------
# range_join (bucketized point-in-interval)
# ---------------------------------------------------------------------------


def _rj_frames(spark):
    # intervals: [60, 180) spans two 60s buckets; [200, 200) is empty;
    # [0, 400) spans many buckets (longer than the bucket width).
    iv = spark.createDataFrame(
        [
            ("a", _ts(60), _ts(180)),
            ("empty", _ts(200), _ts(200)),
            ("wide", _ts(0), _ts(400)),
        ],
        "iv_id string, w_start timestamp, w_end timestamp",
    )
    pts = spark.createDataFrame(
        [(i, _ts(t)) for i, t in enumerate([0, 59, 60, 179, 180, 200, 399, 400])],
        "pt_id int, ts timestamp",
    )
    return pts, iv


def test_range_join_boundaries(spark):
    from gibbon_spark.operators.timeseries import range_join

    pts, iv = _rj_frames(spark)
    out = range_join(pts, iv, bucket="1 minute")
    got = sorted((r.iv_id, r.pt_id) for r in out.collect())
    # start inclusive, end exclusive; empty interval matches nothing;
    # no duplicate pairs even when an interval spans many buckets.
    assert got == sorted(
        [("a", 2), ("a", 3)]
        + [("wide", i) for i in range(7)]  # ts 0..399, not 400
    )
    assert len(got) == len(set(got))


def test_range_join_plan_is_equi_join(spark):
    from gibbon_spark.operators.timeseries import range_join

    pts, iv = _rj_frames(spark)
    plan = range_join(pts, iv, bucket="1 minute")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_property_vs_bruteforce(spark):
    """Randomized (seeded) intervals/points: bucketized join must equal
    the brute-force O(P*I) containment for several bucket widths,
    including widths smaller and larger than the intervals."""
    import random

    from gibbon_spark.operators.timeseries import range_join

    rng = random.Random(20260813)
    pts_raw = [(i, rng.randrange(0, 5000)) for i in range(120)]
    iv_raw = []
    for j in range(40):
        s = rng.randrange(0, 5000)
        ln = rng.choice([0, 1, 30, 90, 250, 900])  # includes empty
        iv_raw.append((j, s, s + ln))
    expect = sorted(
        (j, i)
        for j, s, e_ in iv_raw
        for i, t in pts_raw
        if s <= t < e_
    )
    pts = spark.createDataFrame(
        [(i, _ts(t)) for i, t in pts_raw], "pt_id int, ts timestamp"
    )
    iv = spark.createDataFrame(
        [(j, _ts(s), _ts(e_)) for j, s, e_ in iv_raw],
        "iv_id int, w_start timestamp, w_end timestamp",
    )
    for width in ["1 minute", "5 minutes", "1 hour"]:
        out = range_join(pts, iv, bucket=width)
        got = sorted((r.iv_id, r.pt_id) for r in out.collect())
        assert got == expect, f"bucket={width}"


def test_interpolate_linear_known_values(spark):
    """Points at hours 0 and 3 with values 10 and 40: the empty slots at
    hours 1/2 interpolate to 20/30; observed slots pass through."""
    from gibbon_spark.operators.timeseries import interpolate_linear

    rows = [
        ("s", "2024-01-01 00:15:00", 10.0),
        ("s", "2024-01-01 03:45:00", 40.0),
    ]
    df = spark.createDataFrame(rows, "sid string, ts_s string, value double").select(
        "sid", F.to_timestamp("ts_s").alias("ts"), "value"
    )
    out = {
        r.grid_ts.hour: r.interp_value
        for r in interpolate_linear(df, ["sid"], step="1 hour").collect()
    }
    assert out == {0: 10.0, 1: 20.0, 2: 30.0, 3: 40.0}


# Two key columns, 30-minute slots. Per series: (minute, value) samples
# and the expected grid rows (slot minute, slot_value, filled, interp).
_SLOT_GRID_CASES = {
    # slot 0:30 is observed, but its last sample is null: forward fill
    # skips it and interpolation treats it as empty (2 → 10 over 2 h).
    ("a", 1): (
        [(5, 2.5), (20, 2.0), (40, 5.0), (50, None), (130, 10.0)],
        [(0, 2.0, 2.0, 2.0), (30, None, 2.0, 4.0), (60, None, 2.0, 6.0),
         (90, None, 2.0, 8.0), (120, 10.0, 10.0, 10.0)],
    ),
    ("a", 2): ([(45, 3.0)], [(30, 3.0, 3.0, 3.0)]),
    # a null last sample after the last value: one-sided fallback
    ("b", 1): ([(0, 4.0), (35, None)], [(0, 4.0, 4.0, 4.0), (30, None, 4.0, 4.0)]),
    # a null series key is one series like any other
    (None, 1): (
        [(10, 7.0), (75, 9.0)],
        [(0, 7.0, 7.0, 7.0), (30, None, 7.0, 8.0), (60, 9.0, 9.0, 9.0)],
    ),
}


def _slot_grid_rows(spark, keys):
    from gibbon_spark.operators.timeseries import interpolate_linear

    df = spark.createDataFrame(
        [(*k, _ts(60 * m), v) for k in keys for m, v in _SLOT_GRID_CASES[k][0]],
        "k1 string, k2 int, ts timestamp, value double",
    )
    got, want = {}, {}
    for i, (op, col) in enumerate(
        [(gap_fill, "filled_value"), (interpolate_linear, "interp_value")]
    ):
        got[col] = {
            (r.k1, r.k2, r.grid_ts): (r.slot_value, r[col])
            for r in op(df, ["k1", "k2"], step="30 minutes").collect()
        }
        want[col] = {
            (*k, _ts(60 * m)): (slot_value, expected[i])
            for k in keys
            for m, slot_value, *expected in _SLOT_GRID_CASES[k][1]
        }
    return got, want


def test_slot_grid_null_samples_two_keys(spark):
    got, want = _slot_grid_rows(spark, [("a", 1), ("a", 2), ("b", 1)])
    assert got == want


def test_slot_grid_null_series_key(spark):
    """The grid of a null-key series keeps its observations."""
    got, want = _slot_grid_rows(spark, [("a", 1), (None, 1)])
    assert got == want


def test_asof_join_forward_takes_earliest_at_or_after(spark):
    left = spark.createDataFrame(
        [("a", _ts(100), 1.0), ("a", _ts(200), 2.0), ("b", _ts(100), 3.0)],
        "k string, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [("a", _ts(50), 10.0), ("a", _ts(100), 20.0), ("a", _ts(150), 30.0),
         ("b", _ts(40), 40.0)],
        "k string, ts timestamp, rv double",
    )
    out = {
        (r.k, r.ts): (r.rv_right, r.ts_right)
        for r in asof_join(left, right, ["k"], direction="forward").collect()
    }
    # at-or-after: left a@100 sees right a@100 (not a@150)
    assert out[("a", _ts(100))] == (20.0, _ts(100))
    assert out[("a", _ts(200))] == (None, None)
    assert out[("b", _ts(100))] == (None, None)


def test_asof_join_nearest_picks_closer_side_tie_backward(spark):
    left = spark.createDataFrame(
        [("a", _ts(100), 1.0), ("a", _ts(210), 2.0), ("a", _ts(300), 3.0)],
        "k string, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [("a", _ts(90), 10.0), ("a", _ts(220), 20.0)],
        "k string, ts timestamp, rv double",
    )
    out = {
        r.ts: (r.rv_right, r.ts_right)
        for r in asof_join(left, right, ["k"], direction="nearest").collect()
    }
    assert out[_ts(100)] == (10.0, _ts(90))   # 10s back vs 120s fwd
    assert out[_ts(210)] == (20.0, _ts(220))  # 120s back vs 10s fwd
    assert out[_ts(300)] == (20.0, _ts(220))  # nothing after
    # exact tie goes backward
    left2 = spark.createDataFrame(
        [("a", _ts(155), 1.0)], "k string, ts timestamp, value double"
    )
    row = asof_join(left2, right, ["k"], direction="nearest").collect()[0]
    assert (row.rv_right, row.ts_right) == (10.0, _ts(90))


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_join_matches_bruteforce_reference(spark, seed, direction):
    """All three directions vs an O(L×R) per-key reference on random
    data with duplicate timestamps and keys missing from either side."""
    import random

    rng = random.Random(seed)
    keys = ["a", "b", "c", "d"]
    left = [
        (k, _ts(rng.randrange(0, 500)), float(i))
        for i, k in enumerate(rng.choices(keys, k=30))
    ]
    right = [
        (k, _ts(rng.randrange(0, 500)), 100.0 + i)
        for i, k in enumerate(rng.choices(keys[:3], k=25))  # 'd' has no right rows
    ]
    ldf = spark.createDataFrame(left, "k string, ts timestamp, lv double")
    rdf = spark.createDataFrame(right, "k string, ts timestamp, rv double")

    def expect(k, t):
        back = [(rt, rv) for (rk, rt, rv) in right if rk == k and rt <= t]
        fwd = [(rt, rv) for (rk, rt, rv) in right if rk == k and rt >= t]
        b = max(back, default=None)  # latest ts; ties -> larger rv is NOT
        f = min(fwd, default=None)
        # guard: duplicate right ts within a key would make the pick
        # ambiguous; regenerate-free determinism by construction below
        if direction == "backward":
            return b
        if direction == "forward":
            return f
        if b is None:
            return f
        if f is None:
            return b
        return b if (t - b[0]) <= (f[0] - t) else f

    # drop ambiguous duplicate right (k, ts) pairs for determinism
    seen: dict = {}
    right = [r for r in right if seen.setdefault((r[0], r[1]), r) is r]
    rdf = spark.createDataFrame(right, "k string, ts timestamp, rv double")

    out = asof_join(ldf, rdf, ["k"], direction=direction).collect()
    assert len(out) == len(left)
    for row in out:
        exp = expect(row.k, row.ts)
        got = None if row.ts_right is None else (row.ts_right, row.rv_right)
        assert got == exp, (direction, row.k, row.ts, got, exp)
