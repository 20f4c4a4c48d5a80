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

from gibbon_spark.codec.gorilla import BLOCK_SECONDS
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


def _scan_aggs(value: str, exact: bool) -> list[Column]:
    """The reference's value aggregates: min, max, count and avg
    (``csv_to_packed.rs:36-76``)."""
    return [
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
        F.count(F.lit(1)).alias("n_samples"),
        _avg(value, exact).alias("avg_value"),
    ]


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
    return summary_by_series(df, (), value=value, ts=ts, exact_avg=exact_avg)


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
        *_scan_aggs(value, exact_avg), F.max(ts).alias("max_ts")
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

    Spark casts convert values, so the bit pun is :func:`double_bits`
    (the JVM's ``Double.doubleToRawLongBits``). The pun, the XOR, the
    lag window and the leading-zero count all run in the JVM, with no
    Python stage.

    ``first_raw=True`` emits the raw IEEE-754 bits for the first record
    of each series instead of NULL — exactly what the codec stores for
    it (``time_and_value_stream.rs:20-23`` writes the first value
    uncompressed), and what keeps the column non-nullable int64 for the
    oracle's dtype parity.
    """
    w = _series_window(series, ts, *tiebreak)
    out = df.withColumn("_bits", double_bits(F.col(value)))
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


def _java_double(method: str, col: Column) -> Column:
    return F.call_function(
        "java_method", F.lit("java.lang.Double"), F.lit(method), col
    )


def double_bits(col: Column) -> Column:
    """The IEEE-754 bits of a double as a signed int64, exactly
    ``f64::to_bits`` up to signedness (``double_stream.rs:34``): the JVM's
    ``Double.doubleToRawLongBits`` called through Spark's ``java_method``.
    Null in, null out.

    ``java_method`` is nondeterministic to Spark and runs without codegen
    (interpreted reflection per row). A null argument makes it raise
    ``IllegalArgumentException``, hence the ``when`` guard. It returns the
    result as a string, which the cast turns back into the exact long."""
    return F.when(
        col.isNotNull(), _java_double("doubleToRawLongBits", col).cast("long")
    )


def bits_to_double(col: Column) -> Column:
    """Inverse of :func:`double_bits`: ``Double.longBitsToDouble`` through
    ``java_method``, with the same null guard, nondeterminism and lack of
    codegen. The double comes back via ``Double.toString`` and a
    string→double cast, which round-trips every finite value, ±0 and ±inf
    exactly; a NaN comes back as the canonical NaN, so its payload is
    lost (the tables hold no NaN, and NaN never compares equal anyway)."""
    return F.when(
        col.isNotNull(), _java_double("longBitsToDouble", col).cast("double")
    )


# ---------------------------------------------------------------------------
# Bucketing / resampling / gap fill
# ---------------------------------------------------------------------------


# The Gorilla block width as a Spark interval string; windows of it start
# where ``(t / BLOCK_SECONDS) * BLOCK_SECONDS`` does.
BUCKET_WIDTH = f"{BLOCK_SECONDS} seconds"


def with_bucket(df: DataFrame, *, ts: str = "ts") -> DataFrame:
    """Add the Gorilla block key: the start of the ``BLOCK_SECONDS``
    (2-hour) aligned window holding ``ts`` (``csv_to_packed.rs:17`` —
    ``(t / 7200) * 7200`` seconds). The bucketed stores' partition column,
    so time-range queries prune partitions."""
    return df.withColumn("bucket", F.window(F.col(ts), BUCKET_WIDTH).start)


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
        .agg(*_scan_aggs(value, exact_avg))
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


def _slot_grid(
    df: DataFrame,
    series: Sequence[str],
    *,
    ts: str,
    value: str,
    step: str,
    **carry: Column,
) -> DataFrame:
    """The full slot grid of each series, from its first observed slot to
    its last, in one per-series ordered pass. Columns: *series,
    ``grid_ts``, ``slot_value`` (the slot's last sample; null for an
    empty slot) and one column per ``carry``.

    Rows snap to epoch-aligned tumbling slots of ANY step width (the
    alignment of ``window(step)``) by plain epoch arithmetic: an earlier
    date_trunc version silently DROPPED observations that fell inside a
    slot but not on its truncation unit for steps like "30 minutes".
    Then one shuffle on the series key and one sort by (slot, ts). A
    row whose ``lead(slot)`` differs is its slot's last sample, and that
    lead is the series' next observed slot, so ``explode(sequence(slot,
    next - step, step))`` expands each observed slot into itself plus
    the empty slots before the next one: the grid needs no min/max
    aggregate, no second scan and no join. A null series key is one
    series like any other, as in ``groupBy``.

    ``carry`` maps names to window expressions over the observed slots
    (columns *series, ``_slot`` in epoch seconds, ``_v``), ordered by
    ``_series_window(series, "_slot")``; that ordering reuses the sort,
    so it adds no shuffle and no sort. Every grid row takes the value of
    the observed slot that starts its run.
    """
    w_sec = _step_seconds(step)
    epoch = F.unix_timestamp(F.col(ts))
    snapped = df.select(
        *series,
        (epoch - epoch % w_sec).alias("_slot"),
        F.col(ts).alias("_ts"),
        F.col(value).alias("_v"),
    )
    nxt = F.lead("_slot").over(_series_window(series, "_slot", "_ts"))
    slots = (
        snapped.withColumn("_next", nxt)
        .filter(F.col("_next").isNull() | (F.col("_next") != F.col("_slot")))
        .withColumns(carry)
    )
    last = F.coalesce(F.col("_next") - w_sec, F.col("_slot"))
    runs = F.explode(F.sequence("_slot", last, F.lit(w_sec).cast("long")))
    return slots.select(*series, "_slot", "_v", *carry, runs.alias("_grid")).select(
        *series,
        F.timestamp_seconds("_grid").alias("grid_ts"),
        F.when(F.col("_grid") == F.col("_slot"), F.col("_v")).alias("slot_value"),
        *carry,
    )


def gap_fill(
    df: DataFrame,
    series: Sequence[str],
    *,
    ts: str = "ts",
    value: str = "value",
    step: str = "1 hour",
) -> DataFrame:
    """Regular-grid gap fill with forward fill.

    Per series: the full grid between min(ts) and max(ts), one row per
    ``step`` slot with its last sample as ``slot_value``, and
    ``filled_value`` = the last non-null ``slot_value`` at or before the
    slot (a running ``last(ignorenulls)``). The grid is generated
    distributed (no driver loop) by :func:`_slot_grid`; the fill runs
    over the observed slots before they expand, in the same sort. One
    shuffle on the series key and one sort.
    """
    back = _series_window(series, "_slot").rowsBetween(Window.unboundedPreceding, 0)
    ffill = F.last("_v", ignorenulls=True).over(back)
    return _slot_grid(df, series, ts=ts, value=value, step=step, filled_value=ffill)


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
    observed slots; observed slots pass through unchanged (one whose
    last sample is null counts as empty); a missing bracket (before
    first / after last observation) falls back to the one-sided neighbor.

    Same single shuffle and single sort as gap_fill: both lookups run
    over the grid's own ordering. The backward one is a running
    ``last(ignorenulls)``; the forward one is ``lead(...) IGNORE NULLS``,
    which Spark evaluates in one forward pass (on a 4-core host a
    200k-row run of nulls took 0.28 s, as a descending running ``last``
    did), not ``first`` over an
    unboundedFollowing frame: Spark's UnboundedFollowing frame re-scans
    to the partition end for every row — O(n²) per series, measured
    24 s vs 1.5 s at sf0.1 on this operator."""
    w = _series_window(series, "_slot")
    back = w.rowsBetween(Window.unboundedPreceding, 0)
    obs = F.when(F.col("_v").isNotNull(), F.col("_slot"))
    # PySpark's lead() has no ignoreNulls argument; the SQL form has.
    nxt = "lead({}) IGNORE NULLS"
    grid = _slot_grid(
        df, series, ts=ts, value=value, step=step,
        _vp=F.last("_v", ignorenulls=True).over(back),
        _tp=F.last(obs, ignorenulls=True).over(back),
        _vn=F.expr(nxt.format("_v")).over(w),
        _tn=F.expr(nxt.format("CASE WHEN _v IS NOT NULL THEN _slot END")).over(w),
    )
    frac = (F.unix_timestamp("grid_ts") - F.col("_tp")).cast("double") / (
        F.col("_tn") - F.col("_tp")
    ).cast("double")
    interp = (
        F.when(F.col("slot_value").isNotNull(), F.col("slot_value"))
        .when(F.col("_vp").isNull(), F.col("_vn"))
        .when(F.col("_vn").isNull(), F.col("_vp"))
        .otherwise(F.col("_vp") + (F.col("_vn") - F.col("_vp")) * frac)
    )
    return grid.select(*series, "grid_ts", "slot_value", interp.alias("interp_value"))


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
