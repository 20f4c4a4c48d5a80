"""Time-series operators — the reference's whole query surface, Spark-first.

The reference's queries are five full-stream scan-aggregates executed by
streaming decode (``examples/csv_to_packed.rs:36-76``): max/min/count/avg
of value and max timestamp. Its codecs are lag-shaped transforms over a
per-series ordered stream: delta and delta-of-delta of timestamps
(``src/timestamp_stream.rs:29-67``) and XOR of consecutive IEEE-754
value bits (``src/double_stream.rs:33-82``). Here each becomes a
declarative DataFrame plan:

- aggregates → ``groupBy().agg`` (Catalyst emits partial+final hash
  aggregation inside whole-stage codegen; at cluster scale the partial
  side runs map-local, so the shuffle carries one row per group per task),
- lag-shaped transforms → window functions over
  ``Window.partitionBy(series).orderBy(ts)`` (one shuffle on the series
  key; within a 100 TB table each series' points co-locate, which is the
  same data placement Gorilla's per-series blocks impose).

Scale notes are given per operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gibbon_spark.functions import exact as exact_fns

# ---------------------------------------------------------------------------
# Normalization: any table -> the engine's canonical stream schema
# (series_id string, ts timestamp, value double) — SURVEY.md §1.3 / FIXTURES.md F1.
# ---------------------------------------------------------------------------


def as_timeseries(
    df: DataFrame,
    *,
    series: Sequence[str] | None = None,
    ts: str = "ts",
    value: str = "value",
    second_granularity: bool = True,
) -> DataFrame:
    """Normalize to ``(series_id, ts, value)``.

    ``second_granularity`` truncates ts to whole seconds, mirroring the
    reference's seconds-only design assumption (``timestamp_stream.rs:1-4``:
    millisecond timestamps "would compress poorly").
    """
    series = list(series or [])
    if series:
        sid = F.concat_ws("/", *[F.col(c).cast("string") for c in series])
    else:
        sid = F.lit("default")
    ts_col = F.col(ts)
    if second_granularity:
        ts_col = F.date_trunc("second", ts_col)
    return df.select(
        sid.alias("series_id"),
        ts_col.alias("ts"),
        F.col(value).cast("double").alias("value"),
    )


# ---------------------------------------------------------------------------
# Scan-aggregate queries (reference operators #15-#21)
# ---------------------------------------------------------------------------


def _avg(value: str, exact: bool):
    return exact_fns.exact_avg(F.col(value)) if exact else F.avg(value)


def summary(
    df: DataFrame, *, value: str = "value", ts: str = "ts", exact_avg: bool = False
) -> DataFrame:
    """The reference's five aggregates in one pass.

    ``csv_to_packed.rs:36-76`` decodes the stream five times, once per
    aggregate; a columnar engine computes all five in a single scan with
    O(1) aggregation state per task (partial aggregates combine map-side,
    so at 100 TB the shuffle moves 5 numbers per task, not rows).

    ``avg_value`` is plain ``avg()`` (the reference's contract,
    ``csv_to_packed.rs:66-76``); pass ``exact_avg=True`` for the
    oracle-parity decimal form (see ``exact_fns.exact_avg`` for the trade-off).
    """
    return df.agg(
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
        F.count(F.lit(1)).alias("n_samples"),
        _avg(value, exact_avg).alias("avg_value"),
        F.max(ts).alias("max_ts"),
    )


def summary_by_series(
    df: DataFrame,
    keys: Sequence[str],
    *,
    value: str = "value",
    ts: str = "ts",
    exact_avg: bool = False,
) -> DataFrame:
    """Per-series scan-aggregate — the reference's caller-side key→stream
    map (SURVEY.md §1.1 item 4) expressed as groupBy. One shuffle on the
    series key; partial aggregation makes it skew-tolerant (AQE splits
    hot keys). ``exact_avg`` as in :func:`summary`."""
    return df.groupBy(*keys).agg(
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
        F.count(F.lit(1)).alias("n_samples"),
        _avg(value, exact_avg).alias("avg_value"),
        F.max(ts).alias("max_ts"),
    )


def range_scan(
    df: DataFrame,
    *,
    ts: str = "ts",
    start=None,
    end=None,
    predicate: Column | None = None,
) -> DataFrame:
    """Time-range scan. The reference can only skip whole 2-h blocks by
    header time (``csv_to_packed.rs:17``); here the filter is pushed into
    the parquet scan (row-group stats + partition pruning on a bucketed
    layout — see sources/bucketed.py), which subsumes block addressing."""
    out = df
    if start is not None:
        out = out.filter(F.col(ts) >= F.lit(start))
    if end is not None:
        out = out.filter(F.col(ts) < F.lit(end))
    if predicate is not None:
        out = out.filter(predicate)
    return out


# ---------------------------------------------------------------------------
# Lag-shaped analytics (the codec math as queryable functions, #4 / #7)
# ---------------------------------------------------------------------------


def _series_window(series: Sequence[str], ts: str, *order_tiebreak: str):
    return Window.partitionBy(*series).orderBy(ts, *order_tiebreak)


def with_delta(
    df: DataFrame,
    series: Sequence[str],
    *,
    ts: str = "ts",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """delta = ts - lag(ts) per series — the quantity the timestamp codec
    encodes (``timestamp_stream.rs:40``). Equal/duplicate timestamps are
    legal and yield delta 0 (``time_and_value_stream.rs:86-87``); pass a
    ``tiebreak`` column to make window order deterministic under dupes."""
    w = _series_window(series, ts, *tiebreak)
    prev = F.lag(F.col(ts)).over(w)
    return df.withColumn(
        "delta", (F.unix_timestamp(ts) - F.unix_timestamp(prev)).cast("long")
    )


def with_delta_of_delta(
    df: DataFrame,
    series: Sequence[str],
    *,
    ts: str = "ts",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """dod = delta - lag(delta) (``timestamp_stream.rs:41``). Negative dod
    is legal (out-of-order-ish deltas, ``time_and_value_stream.rs:86``)."""
    out = with_delta(df, series, ts=ts, tiebreak=tiebreak)
    w = _series_window(series, ts, *tiebreak)
    return out.withColumn("dod", (F.col("delta") - F.lag("delta").over(w)).cast("long"))


def with_value_xor(
    df: DataFrame,
    series: Sequence[str],
    *,
    ts: str = "ts",
    value: str = "value",
    tiebreak: Sequence[str] = (),
    first_raw: bool = False,
) -> DataFrame:
    """xor = bits(value) XOR bits(lag(value)) — the double codec's core
    (``double_stream.rs:42``).

    Spark has no built-in double→bits reinterpret (casts are value
    conversions, not bit puns), so the bit extraction runs through the
    Arrow-vectorized ``double_bits`` pandas UDF (numpy zero-copy view) —
    the sanctioned slow path (SURVEY.md §4.3). The XOR, lag window and
    leading-zero math all stay JVM-side.

    ``first_raw=True`` emits the raw IEEE-754 bits for the first record
    of each series instead of NULL — exactly what the codec stores for
    it (``time_and_value_stream.rs:20-23`` writes the first value
    uncompressed), and what keeps the column non-nullable int64 for the
    oracle's dtype parity.
    """
    from gibbon_spark.functions.bits import double_bits

    w = _series_window(series, ts, *tiebreak)
    bits = double_bits(F.col(value))
    out = df.withColumn("_bits", bits)
    xor = F.col("_bits").bitwiseXOR(F.lag("_bits").over(w))
    if first_raw:
        xor = F.coalesce(xor, F.col("_bits"))
    return (
        out.withColumn("value_xor", xor)
        .withColumn("xor_leading_zeros", _leading_zeros64(F.col("value_xor")))
        .drop("_bits")
    )


def _leading_zeros64(col: Column) -> Column:
    """Leading zeros of a 64-bit pattern, JVM-side and EXACT:
    64 - length(bin(x)) — ``bin`` of a positive int64 has no leading
    zeros and ``bin`` of a negative one is the full 64-char two's
    complement, so the same expression covers both (negative → 0).
    (The previous 63 - floor(log2(double(x))) form was off by one for
    x within half-ULP below a power of two ≥ 2^53 — e.g. 2^63 - 1
    rounds to 2^63 as a double; string length has no such boundary.)"""
    return (
        F.when(col == 0, F.lit(64))
        .otherwise(F.lit(64) - F.length(F.bin(col)))
        .cast("int")
    )


# ---------------------------------------------------------------------------
# Bucketing / resampling / gap fill
# ---------------------------------------------------------------------------


def with_bucket(df: DataFrame, *, ts: str = "ts", width: str = "2 hours") -> DataFrame:
    """Add the Gorilla block key: 2-hour aligned window start
    (``csv_to_packed.rs:17`` — ``(t / 7200) * 7200`` seconds). Used as the
    parquet partition column so time-range queries prune partitions."""
    return df.withColumn("bucket", F.window(F.col(ts), width).start)


def resample(
    df: DataFrame,
    keys: Sequence[str],
    *,
    every: str = "1 hour",
    ts: str = "ts",
    value: str = "value",
    exact_avg: bool = False,
) -> DataFrame:
    """Tumbling-window downsample: per key per window min/max/count/avg.
    This is the canonical TSDB rollup; the tumbling window start is
    computed map-side (pure projection) so the only shuffle is the
    groupBy, with partial aggregation. ``exact_avg`` as in
    :func:`summary`."""
    win = F.window(F.col(ts), every)
    return (
        df.groupBy(*keys, win.alias("win"))
        .agg(
            F.min(value).alias("min_value"),
            F.max(value).alias("max_value"),
            F.count(F.lit(1)).alias("n_samples"),
            _avg(value, exact_avg).alias("avg_value"),
        )
        .withColumn("bucket_start", F.col("win").start)
        .drop("win")
    )


_STEP_UNITS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
    "week": 604800,
    "weeks": 604800,
}


def _step_seconds(step: str) -> int:
    parts = step.strip().lower().split()
    if len(parts) == 1:
        parts = ["1", parts[0]]
    if len(parts) != 2 or parts[1] not in _STEP_UNITS:
        raise ValueError(f"unsupported gap_fill step: {step!r}")
    return int(parts[0]) * _STEP_UNITS[parts[1]]


def _slot_grid_join(
    df: DataFrame,
    series: Sequence[str],
    *,
    ts: str = "ts",
    value: str = "value",
    step: str = "1 hour",
) -> DataFrame:
    """Shared grid machinery for gap_fill / interpolate_linear: the full
    per-series slot grid left-joined with the last observation of each
    slot. Columns: *series, grid_ts, slot_value."""
    # Grid slots and observation snapping both floor to epoch-aligned
    # tumbling slots of ANY step width (same alignment as window(step)).
    # Plain epoch arithmetic because (a) Spark allows only one window()
    # expression per projection and (b) an earlier date_trunc version
    # silently DROPPED observations that fell inside a slot but not on
    # its truncation unit for steps like "30 minutes".
    w_sec = _step_seconds(step)

    def slot_of(c: Column) -> Column:
        epoch = F.unix_timestamp(c)
        return F.timestamp_seconds(epoch - epoch % w_sec)
    grid = (
        df.groupBy(*series)
        .agg(
            F.min(ts).alias("_min_ts"),
            F.max(ts).alias("_max_ts"),
        )
        .select(
            *series,
            F.explode(
                F.sequence(
                    slot_of(F.col("_min_ts")),
                    slot_of(F.col("_max_ts")),
                    F.expr(f"interval {step}"),
                )
            ).alias("grid_ts"),
        )
    )
    # snap observations to their slot, keep last value per slot
    snapped = df.select(
        *series,
        slot_of(F.col(ts)).alias("grid_ts"),
        F.col(value).alias("_v"),
        F.col(ts).alias("_ts"),
    )
    w_slot = Window.partitionBy(*series, "grid_ts").orderBy(F.col("_ts").desc())
    slot_last = (
        snapped.withColumn("_rn", F.row_number().over(w_slot))
        .filter(F.col("_rn") == 1)
        .select(*series, "grid_ts", F.col("_v").alias("slot_value"))
    )
    return grid.join(slot_last, [*series, "grid_ts"], "left")


def gap_fill(
    df: DataFrame,
    series: Sequence[str],
    *,
    ts: str = "ts",
    value: str = "value",
    step: str = "1 hour",
) -> DataFrame:
    """Regular-grid gap fill with forward fill.

    Per series: build the full grid between min(ts) and max(ts) with
    ``sequence()`` + ``explode`` (no driver loop — the grid is generated
    distributed, one row per series in, grid rows out), left-join the
    observed points, then forward-fill with ``last(value, ignorenulls)``
    over an unbounded-preceding window. Two shuffles (grid join + window)
    both on the series key, so AQE can reuse the partitioning.
    """
    joined = _slot_grid_join(df, series, ts=ts, value=value, step=step)
    w_ffill = (
        Window.partitionBy(*series)
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.withColumn(
        "filled_value", F.last("slot_value", ignorenulls=True).over(w_ffill)
    )


def interpolate_linear(
    df: DataFrame,
    series: Sequence[str],
    *,
    ts: str = "ts",
    value: str = "value",
    step: str = "1 hour",
) -> DataFrame:
    """Regular-grid LINEAR interpolation — the sibling of
    :func:`gap_fill` for signals where holding the last value flat is
    wrong (counters, gauges between sparse scrapes). Empty slots get
    ``v_prev + (v_next − v_prev) · Δt_frac`` from the bracketing
    observed slots; observed slots pass through unchanged; a missing
    bracket (before first / after last observation) falls back to the
    one-sided neighbor.

    Same shuffle profile as gap_fill: grid join + ONE window shuffle.
    The forward lookup is a running ``last(ignorenulls)`` over a
    DESCENDING sort, not ``first`` over a (currentRow,
    unboundedFollowing) frame: Spark's UnboundedFollowing frame
    re-scans to the partition end for every row — O(n²) per series,
    measured 24 s vs 1.5 s at sf0.1 on this exact operator. Both
    directions share the partitioning (one shuffle); the second sort is
    per-partition."""
    joined = _slot_grid_join(df, series, ts=ts, value=value, step=step)
    w_back = (
        Window.partitionBy(*series)
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(*series)
        .orderBy(F.desc("grid_ts"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs_ts = F.when(F.col("slot_value").isNotNull(), F.col("grid_ts"))
    out = (
        joined.withColumn("_vp", F.last("slot_value", ignorenulls=True).over(w_back))
        .withColumn("_tp", F.last(obs_ts, ignorenulls=True).over(w_back))
        .withColumn("_vn", F.last("slot_value", ignorenulls=True).over(w_fwd))
        .withColumn("_tn", F.last(obs_ts, ignorenulls=True).over(w_fwd))
    )
    frac = (
        (F.unix_timestamp("grid_ts") - F.unix_timestamp("_tp")).cast("double")
        / (F.unix_timestamp("_tn") - F.unix_timestamp("_tp")).cast("double")
    )
    interp = (
        F.when(F.col("slot_value").isNotNull(), F.col("slot_value"))
        .when(F.col("_vp").isNull(), F.col("_vn"))
        .when(F.col("_vn").isNull(), F.col("_vp"))
        .otherwise(F.col("_vp") + (F.col("_vn") - F.col("_vp")) * frac)
    )
    return out.withColumn("interp_value", interp).select(
        *series, "grid_ts", "slot_value", "interp_value"
    )


# ---------------------------------------------------------------------------
# As-of join (standard TSDB op; absent in reference — SURVEY.md §2.2)
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    *,
    ts: str = "ts",
    right_value_cols: Sequence[str] | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """As-of join with equal keys, in any of the three directions:

    - ``backward`` (default): the most recent right row with
      ``right.ts <= left.ts``;
    - ``forward``: the earliest right row with ``right.ts >= left.ts``;
    - ``nearest``: whichever of the two is closer in time (tie →
      backward).

    Implemented with the union-and-fill strategy rather than a range
    join: tag both sides, union, then one window pass per key ordered
    by (ts, side) fills the matching right values onto left rows
    (forward uses the same pass with the order reversed; nearest runs
    both fills over the SAME partitioning and picks per row). Exactly
    ONE shuffle on the join key regardless of direction, and no row
    explosion — the strategy that survives 100 TB, where a naive
    range-condition join degenerates to a broadcast-nested-loop or an
    exploding theta join.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    on = list(on)
    rv = list(
        right_value_cols
        or [c for c in right.columns if c not in on and c != ts]
    )
    l_tagged = left.withColumn("_side", F.lit(1)).withColumns(
        {f"{c}{suffix}": F.lit(None).cast(right.schema[c].dataType) for c in rv}
    )
    r_tagged = right.select(
        *on,
        F.col(ts).alias(ts),
        *[F.col(c).alias(f"{c}{suffix}") for c in rv],
    ).withColumn("_side", F.lit(0))
    left_only = [c for c in l_tagged.columns if c not in r_tagged.columns]
    r_full = r_tagged.withColumns(
        {c: F.lit(None).cast(l_tagged.schema[c].dataType) for c in left_only}
    )
    unioned = r_full.select(*l_tagged.columns).unionByName(l_tagged)
    # right rows sort before left rows at the same ts (_side 0 < 1), so a
    # right row AT the left ts is visible to it — "<=" / ">=" inclusive
    # semantics in both directions.
    w_back = (
        Window.partitionBy(*on)
        .orderBy(ts, "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # descending ts: the preceding frame holds rows with ts >= this row's,
    # and last() of it is the nearest following right row.
    w_fwd = (
        Window.partitionBy(*on)
        .orderBy(F.desc(ts), F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def _fill(df: DataFrame, w, names: dict[str, str]) -> DataFrame:
        df = df.withColumns(
            {
                names[c]: F.last(f"{c}{suffix}", ignorenulls=True).over(w)
                for c in rv
            }
        )
        return df.withColumn(
            names[ts],
            F.last(
                F.when(F.col("_side") == 0, F.col(ts)), ignorenulls=True
            ).over(w),
        )

    if direction in ("backward", "forward"):
        w = w_back if direction == "backward" else w_fwd
        names = {c: f"{c}{suffix}" for c in (*rv, ts)}
        filled = _fill(unioned, w, names)
        return filled.filter(F.col("_side") == 1).drop("_side")

    # nearest: both fills share one hash partitioning (two sorts, one
    # shuffle), then a per-row pick by time distance.
    b_names = {c: f"_b_{c}" for c in (*rv, ts)}
    f_names = {c: f"_f_{c}" for c in (*rv, ts)}
    both = _fill(_fill(unioned, w_back, b_names), w_fwd, f_names)
    t = F.unix_micros(F.col(ts).cast("timestamp"))
    tb = F.unix_micros(F.col(b_names[ts]).cast("timestamp"))
    tf = F.unix_micros(F.col(f_names[ts]).cast("timestamp"))
    use_back = F.col(f_names[ts]).isNull() | (
        F.col(b_names[ts]).isNotNull() & ((t - tb) <= (tf - t))
    )
    picked = both.withColumns(
        {
            f"{c}{suffix}": F.when(use_back, F.col(b_names[c])).otherwise(
                F.col(f_names[c])
            )
            for c in (*rv, ts)
        }
    )
    return picked.filter(F.col("_side") == 1).drop(
        "_side", *b_names.values(), *f_names.values()
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    ts: str = "ts",
    start: str = "w_start",
    end: str = "w_end",
    bucket: str = "15 minutes",
) -> DataFrame:
    """Point-in-interval join with NO equi key, bucketized into an equi-join.

    The naive plan for ``p.ts >= i.start AND p.ts < i.end`` (no equality
    conjunct) is a broadcast-nested-loop or cartesian product — O(P×I)
    work that dies at scale. Instead both sides are mapped onto
    fixed-width time buckets: each interval is replicated into every
    bucket it overlaps (``sequence``+``explode``, fully distributed),
    each point lands in exactly one, and the join becomes an equi-join
    on bucket id plus the exact containment filter. Because a point's
    bucket is unique, an (interval, point) pair can only meet in that
    one bucket — no post-join dedup needed. The join shuffles both
    sides on bucket id, so it scales like any hash join; pick
    ``bucket`` at least the typical interval length so each interval
    replicates into O(1) buckets.

    ``start`` is inclusive, ``end`` exclusive. Intervals with
    ``end <= start`` are dropped (they can match nothing, and an empty
    ``sequence`` bound would otherwise run backwards).
    """
    width_us = _step_seconds(bucket) * 1_000_000

    def _us(c: str):
        # unix_micros rejects TIMESTAMP_NTZ; the cast is a no-op for
        # TimestampType and maps NTZ via the session tz (pinned UTC).
        # Both sides bucketize through the same conversion, so the
        # equi-key is consistent regardless of timezone.
        return F.unix_micros(F.col(c).cast("timestamp"))

    iv = intervals.filter(F.col(end) > F.col(start)).withColumn(
        "_rj_bucket",
        F.explode(
            F.sequence(
                F.floor(_us(start) / width_us),
                F.floor((_us(end) - 1) / width_us),
            )
        ),
    )
    pt = points.withColumn("_rj_bucket", F.floor(_us(ts) / width_us))
    joined = pt.join(iv, on="_rj_bucket").filter(
        (F.col(ts) >= F.col(start)) & (F.col(ts) < F.col(end))
    )
    return joined.drop("_rj_bucket")


# ---------------------------------------------------------------------------
# Top-k
# ---------------------------------------------------------------------------


def topk(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k via orderBy+limit — Catalyst plans TakeOrderedAndProject
    (per-partition heap then driver merge of k rows, no full sort)."""
    return df.orderBy(*order_by).limit(k)
