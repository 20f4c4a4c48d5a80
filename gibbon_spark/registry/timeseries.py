"""Time-series queries (``ts_*``): the reference's scan-aggregates and the
delta / delta-of-delta streams its timestamp codec encodes (SURVEY.md
§2.1), then the TSDB operators around them: as-of and range joins, gap
fill, windows, smoothing, downsampling, anomaly and changepoint scans,
and forecasting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gibbon_spark.functions.exact import (
    exact_avg,
    exact_avg_sql,
    money4,
    money4_sql,
    money_sum_sql,
)
from gibbon_spark.operators import timeseries as ts_ops
from gibbon_spark.registry import _prep, query


# =========================================================================
# Time-series surface (reference operators #13-#22, SURVEY.md §2.1)
# =========================================================================


@query(
    "ts_summary",
    f"""
    SELECT min(value) AS min_value,
           max(value) AS max_value,
           count(*) AS n_samples,
           {exact_avg_sql("value")} AS avg_value,
           max(ts) AS max_ts
    FROM events
    """,
)
def q_ts_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's five scan-aggregates in one pass
    (``examples/csv_to_packed.rs:36-76``): min/max/count/avg over value,
    max over ts. One scan, partial+final hash agg, whole-stage codegen."""
    (events,) = _prep(spark, sf_dir, "events")
    return ts_ops.summary(events, exact_avg=True)


@query(
    "ts_summary_by_series",
    f"""
    SELECT event_type,
           min(value) AS min_value,
           max(value) AS max_value,
           count(*) AS n_samples,
           {exact_avg_sql("value")} AS avg_value,
           max(ts) AS max_ts
    FROM events
    GROUP BY event_type
    """,
)
def q_ts_summary_by_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series aggregates — the caller-side key→stream map of the
    reference (SURVEY.md §1.1) as a groupBy. Shuffles once on the series
    key with map-side partial aggregation."""
    (events,) = _prep(spark, sf_dir, "events")
    return ts_ops.summary_by_series(events, ["event_type"], exact_avg=True)


@query(
    "ts_delta",
    """
    SELECT event_id,
           user_id,
           date_diff('second',
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS delta
    FROM events
    """,
)
def q_ts_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta = ts - lag(ts) per series, seconds granularity — the
    quantity the timestamp codec encodes (``timestamp_stream.rs:40``)."""
    (events,) = _prep(spark, sf_dir, "events")
    out = ts_ops.with_delta(events, ["user_id"], tiebreak=["event_id"])
    return out.select("event_id", "user_id", "delta")


@query(
    "ts_delta_of_delta",
    """
    WITH d AS (
      SELECT event_id, user_id,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) AS delta,
             ts
      FROM events
    )
    SELECT event_id, user_id, delta,
           delta - lag(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dod
    FROM d
    """,
)
def q_ts_dod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta-of-delta per series (``timestamp_stream.rs:41``); negative
    dod is legal (``time_and_value_stream.rs:86``)."""
    (events,) = _prep(spark, sf_dir, "events")
    out = ts_ops.with_delta_of_delta(events, ["user_id"], tiebreak=["event_id"])
    return out.select("event_id", "user_id", "delta", "dod")


@query(
    "ts_dod_class_histogram",
    """
    WITH d AS (
      SELECT user_id, event_id, ts,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) AS delta
      FROM events
    ),
    dd AS (
      SELECT delta - lag(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS dod
      FROM d
    )
    SELECT CASE WHEN dod IS NULL THEN 'head'
                WHEN dod = 0 THEN 'zero:1b'
                WHEN dod BETWEEN -63 AND 64 THEN 'small:7b'
                WHEN dod BETWEEN -255 AND 256 THEN 'mid:9b'
                WHEN dod BETWEEN -2047 AND 2048 THEN 'large:12b'
                ELSE 'wide:32b' END AS dod_class,
           count(*) AS n,
           count(CASE WHEN dod < -2047 THEN 1 END) AS n_ref_garbles
    FROM dd
    GROUP BY 1
    """,
)
def q_ts_dod_class_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of delta-of-delta values by Gorilla encoding class
    (``timestamp_stream.rs:42-67``: '0' / '10'+7b / '110'+9b /
    '1110'+12b / '1111'+32b) — the distribution that determines the
    compression ratio, plus ``n_ref_garbles``: rows in the 32-bit
    class with dod < −2047, where the reference's UNSIGNED 32-bit
    decode (``timestamp_stream.rs:100-103``, bias 0) would garble its
    own stream while this codec sign-extends and round-trips
    (``codec/gorilla.py`` module docstring "DOCUMENTED DIVERGENCE";
    golden pin: tests/test_gorilla_codec.py::
    test_ts_32bit_negative_dod_sign_extension_divergence). One window
    pass + one grouped aggregate, both keyed on the series."""
    (events,) = _prep(spark, sf_dir, "events")
    dd = ts_ops.with_delta_of_delta(events, ["user_id"], tiebreak=["event_id"])
    dod = F.col("dod")
    cls = (
        F.when(dod.isNull(), "head")
        .when(dod == 0, "zero:1b")
        .when((dod >= -63) & (dod <= 64), "small:7b")
        .when((dod >= -255) & (dod <= 256), "mid:9b")
        .when((dod >= -2047) & (dod <= 2048), "large:12b")
        .otherwise("wide:32b")
    )
    return dd.groupBy(cls.alias("dod_class")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(dod < -2047, F.lit(1))).alias("n_ref_garbles"),
    )


@query(
    "ts_bucket_2h",
    f"""
    SELECT time_bucket(INTERVAL '2 hours', ts) AS bucket_start,
           event_type,
           count(*) AS n_samples,
           {exact_avg_sql("value")} AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_ts_bucket_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gorilla 2-hour block (``csv_to_packed.rs:17``) as a tumbling
    window rollup. Window start is computed map-side; one shuffle."""
    (events,) = _prep(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "2 hours").start.alias("bucket_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            exact_avg(F.col("value")).alias("avg_value"),
        )
    )


@query(
    "ts_resample_1h",
    f"""
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
           min(value) AS min_value,
           max(value) AS max_value,
           count(*) AS n_samples,
           {exact_avg_sql("value")} AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_ts_resample_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample to hourly per-series stats — canonical TSDB rollup."""
    (events,) = _prep(spark, sf_dir, "events")
    out = ts_ops.resample(events, ["event_type"], every="1 hour", exact_avg=True)
    return out.select(
        "event_type",
        "bucket_start",
        "min_value",
        "max_value",
        "n_samples",
        "avg_value",
    )


@query(
    "ts_range_scan",
    """
    SELECT event_id, ts, user_id, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      AND event_type = 'click'
    """,
)
def q_ts_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range + predicate scan. The filter reaches the parquet reader
    (PushedFilters) — subsumes the reference's whole-block header-time
    addressing, the only skipping it supports (SURVEY.md §3.2)."""
    (events,) = _prep(spark, sf_dir, "events")
    out = ts_ops.range_scan(
        events,
        start="2024-01-08 00:00:00",
        end="2024-01-15 00:00:00",
        predicate=F.col("event_type") == "click",
    )
    return out.select("event_id", "ts", "user_id", "value")


@query(
    "ts_topk_series",
    f"""
    SELECT user_id, count(*) AS n_events, {exact_avg_sql("value")} AS avg_value
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 10
    """,
)
def q_ts_topk_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k series by activity. Catalyst plans TakeOrderedAndProject:
    per-partition heaps then a k-row driver merge — no full sort at scale."""
    (events,) = _prep(spark, sf_dir, "events")
    agg = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_avg(F.col("value")).alias("avg_value"),
    )
    return ts_ops.topk(agg, [F.col("n_events").desc(), F.col("user_id")], 10)


@query(
    "ts_compression_stats",
    """
    SELECT count(*) AS n_samples, count(*) * 16 AS raw_bytes
    FROM events
    """,
)
def q_ts_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's compression-stats query numerator: raw size at
    16 B/row (u64 ts + f64 value, ``csv_to_packed.rs:109-113``). The
    compressed side is a storage metric (sum of parquet bytes) exposed by
    ``gibbon_spark.sources.bucketed.compression_stats``."""
    (events,) = _prep(spark, sf_dir, "events")
    return events.agg(
        F.count(F.lit(1)).alias("n_samples"),
        (F.count(F.lit(1)) * F.lit(16)).alias("raw_bytes"),
    )


# =========================================================================
# As-of join & gap fill (standard TSDB ops, SURVEY.md §2.2 / M2)
# =========================================================================


@query(
    "ts_asof_join",
    """
    SELECT l.event_id, l.user_id, l.ts,
           r.value AS last_purchase_value,
           r.ts AS last_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each click, the latest purchase at-or-before it by
    the same user. Implemented union-style (operators.timeseries.asof_join):
    ONE shuffle on the key, no range-join explosion — the strategy that
    survives 100 TB."""
    (events,) = _prep(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = ts_ops.asof_join(
        clicks, purchases, ["user_id"], right_value_cols=["purchase_value"]
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("purchase_value_right").alias("last_purchase_value"),
        F.col("ts_right").alias("last_purchase_ts"),
    )


@query(
    "ts_range_join",
    f"""
    WITH spikes AS (
      SELECT event_id AS spike_id, ts AS w_start,
             ts + INTERVAL 15 MINUTE AS w_end
      FROM events WHERE value > 200
    )
    SELECT s.spike_id, s.w_start,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           {exact_avg_sql("e.value")} AS avg_value
    FROM spikes s JOIN events e
      ON e.ts >= s.w_start AND e.ts < s.w_end
    GROUP BY s.spike_id, s.w_start
    ORDER BY s.spike_id
    """,
)
def q_ts_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi key): every value spike opens a 15-minute
    window; count the events of ALL users that fall inside each window.
    Bucketized into an equi-join on time-bucket id
    (operators.timeseries.range_join) — the naive inequality-only join
    would plan as a broadcast-nested-loop and do O(P×I) work at 100 TB."""
    (events,) = _prep(spark, sf_dir, "events")
    spikes = events.filter(F.col("value") > 200).select(
        F.col("event_id").alias("spike_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("w_end"),
    )
    pts = events.select("user_id", "ts", "value")
    joined = ts_ops.range_join(pts, spikes, bucket="15 minutes")
    # MANUAL two-phase distinct instead of countDistinct: Catalyst's
    # rewrite of {count, countDistinct, avg} expands every joined row
    # into 2 aggregation paths, doubling the shuffled volume of the one
    # genuinely large intermediate (window pairs grow ~quadratically
    # with event density — 57M rows at sf3). Pre-grouping by
    # (spike, user) shuffles the pairs ONCE at full partial-agg
    # reduction, then n_users is a plain count — measured 2.3x faster
    # at sf3 with bit-identical results (decimal sums are associative,
    # so the split exact_avg is exact). NULL-safe vs the oracle:
    # n_events=count(*) keeps NULL rows, n_users=count(user_id) skips
    # the NULL-user group, the avg denominator is count(value) not
    # count(*) — matching count(DISTINCT e.user_id)/count(e.value)
    # semantics exactly even if the source grows NULL users/values.
    per_user = joined.groupBy("spike_id", "w_start", "user_id").agg(
        F.count(F.lit(1)).alias("_c"),
        F.count("value").alias("_cv"),
        F.sum(money4(F.col("value"))).alias("_s"),
    )
    return (
        per_user.groupBy("spike_id", "w_start")
        .agg(
            F.sum("_c").alias("n_events"),
            F.count("user_id").alias("n_users"),
            F.round(
                F.sum("_s").cast("double") / F.sum("_cv") + F.lit(1e-9), 6
            ).alias("avg_value"),
        )
        .orderBy("spike_id")
    )


# The hourly slot grid of every series with the last sample of each slot:
# the oracle side of operators.timeseries._slot_grid, which ts_gap_fill
# and ts_interpolate_linear share.
_SLOT_GRID_CTE = """
    WITH b AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS t0,
             date_trunc('hour', max(ts)) AS t1
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(t0, t1, INTERVAL '1 hour')) AS grid_ts
      FROM b
    ),
    slot AS (
      SELECT user_id, date_trunc('hour', ts) AS grid_ts, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC) AS rn
      FROM events
    ),
    s1 AS (SELECT user_id, grid_ts, value AS slot_value FROM slot WHERE rn = 1)"""


@query(
    "ts_gap_fill",
    f"""{_SLOT_GRID_CTE}
    SELECT g.user_id, g.grid_ts,
           last_value(s1.slot_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.grid_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g LEFT JOIN s1 USING (user_id, grid_ts)
    """,
)
def q_ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid per series with forward fill — grid generated
    distributed via sequence()+explode (no driver loop) in one pass over
    each series, fill via last(ignorenulls) window. The oracle's grid
    equi-join (shared with ts_interpolate_linear) drops the observations
    of a null user_id, which the Spark grid keeps; no testdata table has
    a null user_id."""
    (events,) = _prep(spark, sf_dir, "events")
    out = ts_ops.gap_fill(events, ["user_id"], step="1 hour")
    return out.select("user_id", "grid_ts", "filled_value")


# =========================================================================
# XOR analytics, sliding and session windows, trailing range frames
# =========================================================================


@query(
    "ts_xor_bits",
    """
    WITH b AS (
      SELECT event_id, user_id,
             (value::DOUBLE)::BIT AS bits,
             lag((value::DOUBLE)::BIT) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev
      FROM events
    ),
    x AS (
      SELECT event_id, user_id,
             CASE WHEN prev IS NULL THEN bits ELSE xor(bits, prev) END AS xb
      FROM b
    )
    SELECT event_id, user_id,
           xb::BIGINT AS value_xor,
           CAST(CASE WHEN position('1' IN xb::VARCHAR) = 0 THEN 64
                     ELSE position('1' IN xb::VARCHAR) - 1 END AS INTEGER)
             AS xor_leading_zeros
    FROM x
    """,
)
def q_ts_xor_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The double codec's XOR math as a queryable per-series transform
    (double_stream.rs:42): IEEE-754 bits of consecutive values XORed
    (first record per series = the raw bits, exactly what the codec
    stores for it), plus the leading-zero count the window encoding
    keys on. Bit reinterpretation is ts_ops.double_bits (the JVM's
    Double.doubleToRawLongBits); the oracle replays it with DuckDB's
    DOUBLE→BIT cast (bit-string reinterpret), BIT xor, and a
    position()-based exact leading-zero count — converted from
    rows-only to hash-exact in round 8."""
    (events,) = _prep(spark, sf_dir, "events")
    out = ts_ops.with_value_xor(
        events, ["user_id"], tiebreak=["event_id"], first_raw=True
    )
    return out.select("event_id", "user_id", "value_xor", "xor_leading_zeros")


@query(
    "ts_xor_roundtrip_check",
    """
    SELECT event_id, user_id, TRUE AS roundtrip_ok
    FROM events
    """,
)
def q_ts_xor_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XOR codec's decode direction made oracle-checkable per row:
    reconstruct each value from ``xor ⊕ bits(prev)`` through the
    bits→double reinterpret and assert bit-exact equality with the
    original (``double_stream.rs:42`` — XOR with the previous value is
    self-inverse, which is exactly why the codec needs no decoder
    state beyond the prior value). First row per series (no prev) is
    vacuously OK. The oracle pins row identity + literal TRUE, so a
    single corrupted reconstruction anywhere flips the hash. This is
    the invariant twin of the rows-only ts_xor_bits."""
    (events,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = events.withColumn("_bits", ts_ops.double_bits(F.col("value")))
    prev = F.lag("_bits").over(w)
    out = out.withColumn("_xor", F.col("_bits").bitwiseXOR(prev)).withColumn(
        "_prev", prev
    )
    recon = ts_ops.bits_to_double(F.col("_xor").bitwiseXOR(F.col("_prev")))
    return out.select(
        "event_id",
        "user_id",
        F.when(F.col("_xor").isNull(), F.lit(True))
        .otherwise(recon == F.col("value"))
        .alias("roundtrip_ok"),
    )


@query(
    "ts_sliding_window",
    f"""
    WITH starts AS (
      SELECT event_type, value,
             unnest([time_bucket(INTERVAL '1 hour', ts),
                     time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS win_start,
             ts
      FROM events
    )
    SELECT event_type, win_start,
           count(*) AS n_samples,
           {exact_avg_sql("value")} AS avg_value
    FROM starts
    WHERE ts >= win_start AND ts < win_start + INTERVAL '2 hours'
    GROUP BY event_type, win_start
    """,
)
def q_ts_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2h size, 1h slide): each row lands in two
    windows. Spark's window() generates the assignment map-side; the
    oracle replays it by exploding the two candidate starts."""
    (events,) = _prep(spark, sf_dir, "events")
    return (
        events.groupBy(
            "event_type",
            F.window("ts", "2 hours", "1 hour").start.alias("win_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            exact_avg(F.col("value")).alias("avg_value"),
        )
    )


# 30-min-gap sessions as gaps and islands: a gap-flag running sum per
# user. ts_session_windows and streaming_sessions (batch and replayed
# session_window) share this oracle.
_SESSIONS_SQL = """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             -- microsecond precision, >= boundary: Spark's
             -- session_window(ts, '30 minutes') opens a NEW session at a
             -- gap of exactly 30:00 (window [t, t+gap) excludes t+gap)
             -- and merges at 29:59.999999 — a whole-second > 1800 check
             -- diverges on sub-second data (10 sessions at sf1)
             CASE WHEN date_diff('microsecond',
                                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                 ts) >= 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """


@query("ts_session_windows", _SESSIONS_SQL)
def q_ts_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via
    session_window() — Spark merges adjacent sessions in the aggregate;
    the oracle reconstructs sessions with a gap-flag running sum. The
    session *start* and row count identify each session on both sides."""
    (events,) = _prep(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw").start.alias("session_start"),
            "n_events",
        )
    )


@query(
    "ts_trailing_1h_avg",
    """
    SELECT event_id, user_id,
           round(avg(value) OVER (
             PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6) AS trailing_1h_avg,
           count(*) OVER (
             PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS trailing_1h_n
    FROM events
    """,
)
def q_ts_trailing_1h_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-event trailing-1-hour mean per series
    — the TSDB moving aggregate. Ordered on epoch seconds so the range
    offset is a plain numeric bound on both engines."""
    (events,) = _prep(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("trailing_1h_avg"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_n"),
    )


# ---------------------------------------------------------------------------
# FIR-EWMA smoothing, hypertable rollup, M4 downsampling, linear
# interpolation and the z-score anomaly scan
# ---------------------------------------------------------------------------


_EWMA_TAPS = 8
_EWMA_DECAY = 0.75  # weight_j = decay^j over the last 8 points


def _ewma_sql() -> str:
    """Oracle twin of q_ts_ewma_fir — generated from the same tap
    constants so the two sides cannot drift."""
    num = " + ".join(
        f"({_EWMA_DECAY ** j!r} * coalesce(lag(value, {j}) OVER w, 0))"
        for j in range(_EWMA_TAPS)
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {j}) OVER w IS NULL THEN 0 ELSE {_EWMA_DECAY ** j!r} END)"
        for j in range(_EWMA_TAPS)
    )
    return f"""
    SELECT user_id, event_id, value,
           round(({num}) / ({den}), 6) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@query("ts_ewma_fir", _ewma_sql())
def q_ts_ewma_fir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average as an 8-tap FIR filter
    (weights decay^j over the trailing window, renormalized near series
    start). A true infinite-horizon EWMA is a sequential recursion —
    hostile to a shuffle engine — but the tail weight beyond 8 taps is
    decay^8 ≈ 10%, and a fixed tap count keeps the whole computation in
    per-series window lag() expressions: one shuffle, all codegen,
    bit-identical to the SQL oracle (same expression tree both sides)."""
    (events,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for j in range(_EWMA_TAPS):
        tap = F.lag("value", j).over(w) if j else F.col("value")
        wj = F.lit(_EWMA_DECAY**j)
        t_num = wj * F.coalesce(tap, F.lit(0.0))
        t_den = F.when(tap.isNull(), F.lit(0.0)).otherwise(wj)
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return events.select(
        "user_id", "event_id", "value", F.round(num / den, 6).alias("ewma")
    )


@query(
    "ts_rollup_hypertable",
    f"""
    SELECT date_trunc('day', ts) AS day,
           time_bucket(INTERVAL '2 hours', ts) AS bucket_2h,
           count(*) AS n_samples,
           {exact_avg_sql("value")} AS avg_value,
           max(value) AS max_value
    FROM events
    GROUP BY ROLLUP (day, bucket_2h)
    ORDER BY day, bucket_2h
    """,
)
def q_ts_rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: 2-hour chunks rolled up
    into days and a grand total in ONE pass (GROUP BY ROLLUP). Spark's
    Expand + partial aggregation computes all three levels map-side
    before the single shuffle — the day level reuses the chunk partials
    rather than re-scanning, which is the continuous-aggregate trick at
    100 TB."""
    (events,) = _prep(spark, sf_dir, "events")
    return (
        events.select(
            F.date_trunc("day", "ts").alias("day"),
            F.window("ts", "2 hours").start.alias("bucket_2h"),
            "value",
        )
        .rollup("day", "bucket_2h")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            exact_avg(F.col("value")).alias("avg_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("day", "bucket_2h")
    )


@query(
    "ts_downsample_m4",
    """
    WITH b AS (
      SELECT user_id, time_bucket(INTERVAL '6 hours', ts) AS bucket,
             ts, value, event_id,
             row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY ts, event_id) AS rn_first,
             row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_last,
             row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY value, event_id) AS rn_min,
             row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY value DESC, event_id) AS rn_max
      FROM events
    )
    SELECT user_id, bucket, role, ts, value, event_id
    FROM b, LATERAL (
      SELECT unnest(list_filter(
        [CASE WHEN rn_first = 1 THEN 'first' END,
         CASE WHEN rn_last  = 1 THEN 'last'  END,
         CASE WHEN rn_min   = 1 THEN 'min'   END,
         CASE WHEN rn_max   = 1 THEN 'max'   END],
        x -> x IS NOT NULL)) AS role
    )
    ORDER BY user_id, bucket, role, event_id
    """,
)
def q_ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (the standard error-free line-chart reduction:
    first/last/min/max point per pixel bucket). One shuffle on
    (series, bucket); the four orderings are sorts within the same
    exchange. Ties broken by event_id so the selected points are
    deterministic — which is what makes this oracle-exact where a bare
    min_by/arg_min would flake."""
    (events,) = _prep(spark, sf_dir, "events")
    b = events.select(
        "user_id",
        F.window("ts", "6 hours").start.alias("bucket"),
        "ts", "value", "event_id",
    )
    part = Window.partitionBy("user_id", "bucket")
    roles = b.withColumns(
        {
            "rn_first": F.row_number().over(part.orderBy("ts", "event_id")),
            "rn_last": F.row_number().over(
                part.orderBy(F.desc("ts"), F.desc("event_id"))
            ),
            "rn_min": F.row_number().over(part.orderBy("value", "event_id")),
            "rn_max": F.row_number().over(
                part.orderBy(F.desc("value"), F.asc("event_id"))
            ),
        }
    )
    tagged = roles.withColumn(
        "role",
        F.explode(
            F.filter(
                F.array(
                    F.when(F.col("rn_first") == 1, "first"),
                    F.when(F.col("rn_last") == 1, "last"),
                    F.when(F.col("rn_min") == 1, "min"),
                    F.when(F.col("rn_max") == 1, "max"),
                ),
                lambda x: x.isNotNull(),
            )
        ),
    )
    return tagged.select(
        "user_id", "bucket", "role", "ts", "value", "event_id"
    ).orderBy("user_id", "bucket", "role", "event_id")


@query(
    "ts_interpolate_linear",
    f"""{_SLOT_GRID_CTE},
    j AS (
      SELECT g.user_id, g.grid_ts, s1.slot_value
      FROM grid g LEFT JOIN s1 USING (user_id, grid_ts)
    ),
    w AS (
      SELECT user_id, grid_ts, slot_value,
             last_value(slot_value IGNORE NULLS) OVER back AS vp,
             last_value(CASE WHEN slot_value IS NOT NULL THEN grid_ts END
                        IGNORE NULLS) OVER back AS tp,
             first_value(slot_value IGNORE NULLS) OVER fwd AS vn,
             first_value(CASE WHEN slot_value IS NOT NULL THEN grid_ts END
                         IGNORE NULLS) OVER fwd AS tn
      FROM j
      WINDOW back AS (PARTITION BY user_id ORDER BY grid_ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             fwd AS (PARTITION BY user_id ORDER BY grid_ts
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, grid_ts,
           round(CASE
             WHEN slot_value IS NOT NULL THEN slot_value
             WHEN vp IS NULL THEN vn
             WHEN vn IS NULL THEN vp
             ELSE vp + (vn - vp)
                  * (CAST(date_diff('second', tp, grid_ts) AS DOUBLE)
                     / CAST(date_diff('second', tp, tn) AS DOUBLE))
           END + 1e-9, 6) AS interp_value
    FROM w
    """,
)
def q_ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid per series with LINEAR interpolation of empty slots
    (operators.timeseries.interpolate_linear) — gap_fill's sibling for
    gauge-type signals. One shuffle on the series key; the interpolation
    itself is pure scalar double math, so the oracle replays it exactly
    (ratios of integral second deltas are identical doubles on both
    engines)."""
    (events,) = _prep(spark, sf_dir, "events")
    out = ts_ops.interpolate_linear(events, ["user_id"], step="1 hour")
    return out.select(
        "user_id",
        "grid_ts",
        F.round(F.col("interp_value") + F.lit(1e-9), 6).alias("interp_value"),
    )


@query(
    "ts_anomaly_zscore",
    f"""
    WITH r AS (
      SELECT event_id, user_id,
             {money4_sql("value")} AS r4
      FROM events
    ),
    a AS (
      SELECT user_id, count(*) AS n, sum(r4) AS s, sum(r4 * r4) AS ss
      FROM r GROUP BY user_id
    ),
    z AS (
      SELECT r.user_id, r.event_id, CAST(r.r4 AS DOUBLE) AS v,
             round((CAST(r.r4 AS DOUBLE) - CAST(a.s AS DOUBLE) / a.n)
                   / sqrt((CAST(a.ss AS DOUBLE)
                           - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / a.n)
                          / (a.n - 1))
                   + 1e-9, 4) AS zscore
      FROM r JOIN a ON r.user_id = a.user_id
    )
    SELECT user_id, event_id, v, zscore FROM z WHERE abs(zscore) > 3
    """,
)
def q_ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series z-score anomaly scan, fully oracle-exact: mean and
    std come from EXACT decimal sums (sum, sum-of-squares of 4-dp
    rounded values), so unlike stddev_samp the result does not depend
    on float accumulation order — the scale discipline that makes
    anomaly flags reproducible across partitionings. One aggregate +
    one join back, both shuffles on the series key."""
    (ev,) = _prep(spark, sf_dir, "events")
    r4 = money4(F.col("value"))
    r = ev.select("event_id", "user_id", r4.alias("r4"))
    a = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r4").alias("s"),
        F.sum(F.col("r4") * F.col("r4")).alias("ss"),
    )
    s_d = F.col("s").cast("double")
    ss_d = F.col("ss").cast("double")
    v = F.col("r4").cast("double")
    zscore = F.round(
        (v - s_d / F.col("n"))
        / F.sqrt((ss_d - s_d * s_d / F.col("n")) / (F.col("n") - 1))
        + 1e-9,
        4,
    )
    return (
        r.join(a, "user_id")
        .select("user_id", "event_id", v.alias("v"), zscore.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3)
    )


# =========================================================================
# Monitoring-TSDB analytics: counter rate, OHLC bars, rolling median,
# uptime SLO, as-of variants, threshold crossings, seasonality
# =========================================================================


@query(
    "ts_counter_rate",
    f"""
    WITH d AS (
      SELECT user_id, ts, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    inc AS (
      SELECT user_id, ts,
             CASE WHEN prev IS NULL THEN NULL
                  WHEN value >= prev THEN value - prev
                  ELSE value END AS increase
      FROM d
    )
    SELECT user_id,
           {money_sum_sql("increase", dp=4)} AS total_increase,
           count(increase) AS n_increments,
           round({money_sum_sql("increase", dp=4)}
                 / nullif(date_diff('second', min(ts), max(ts)), 0)
                 + 1e-9, 6)
             AS rate_per_sec
    FROM inc GROUP BY user_id
    """,
)
def q_ts_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style counter ``rate()``: per-series increase with
    counter-reset handling (a drop means the counter restarted, so the
    post-reset value is the whole increase — the monitoring semantics
    Gorilla's production workload serves, per the VLDB'15 paper cited
    at ``/root/reference/README.md:1-3``). One window pass + one
    aggregation, both on the series key — a single shuffle; increases
    are summed as exact decimals so the hash is association-order-free
    at any parallelism."""
    (events,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    inc = events.select(
        "user_id",
        "ts",
        F.when(F.lag("value").over(w).isNull(), F.lit(None))
        .when(
            F.col("value") >= F.lag("value").over(w),
            F.col("value") - F.lag("value").over(w),
        )
        .otherwise(F.col("value"))
        .alias("increase"),
    )
    total = F.round(
        F.sum(money4(F.col("increase"))),
        4,
    ).cast("double")
    span = F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
    return inc.groupBy("user_id").agg(
        total.alias("total_increase"),
        F.count("increase").alias("n_increments"),
        F.round(
            total / F.nullif(span.cast("long"), F.lit(0)) + F.lit(1e-9), 6
        ).alias(
            "rate_per_sec"
        ),
    )


@query(
    "ts_ohlc_1h",
    """
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_start, ts, event_id, value
      FROM events
    ),
    rn AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, bucket_start
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, bucket_start
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT user_id, bucket_start,
           round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           count(*) AS n_samples
    FROM rn GROUP BY user_id, bucket_start
    """,
)
def q_ts_ohlc_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per series x hour — the financial/metrics
    downsample (open/close = first/last by time with a unique
    event_id tiebreak, so the result is deterministic even with equal
    timestamps, which the reference explicitly allows —
    ``time_and_value_stream.rs:86``). Both row_number specs share the
    (user_id, bucket_start) partitioning, so the window pass and the
    final aggregation ride one shuffle."""
    (events,) = _prep(spark, sf_dir, "events")
    b = events.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("user_id", "bucket_start").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bucket_start").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    rn = b.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return rn.groupBy("user_id", "bucket_start").agg(
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 6).alias("close"),
        F.count(F.lit(1)).alias("n_samples"),
    )


@query(
    "ts_rolling_median",
    """
    SELECT event_id, user_id,
           round(quantile_cont(value, 0.5)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
             AS rolling_median5
    FROM events
    """,
)
def q_ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median over a trailing 5-row frame — the robust
    smoother (median filters reject spikes that EWMA smears). Spark
    ``percentile`` and DuckDB ``quantile_cont`` both linearly
    interpolate, so the values hash-match exactly. At 100 TB the frame
    is evaluated per-partition after one shuffle on the series key;
    for wide frames switch to approx_percentile."""
    (events,) = _prep(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias(
            "rolling_median5"
        ),
    )


@query(
    "ts_uptime_slo",
    """
    WITH g AS (
      SELECT user_id, ts,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) AS gap
      FROM events
    )
    SELECT user_id,
           max(gap) AS max_gap_s,
           CAST(sum(CASE WHEN gap > 120 THEN 1 ELSE 0 END) AS BIGINT) AS n_outages,
           CAST(sum(CASE WHEN gap > 120 THEN gap - 120 ELSE 0 END) AS BIGINT) AS downtime_s,
           round(1.0 - (CAST(sum(CASE WHEN gap > 120 THEN gap - 120 ELSE 0 END)
                             AS DOUBLE)
                        / nullif(date_diff('second', min(ts), max(ts)), 0))
                 + 1e-9, 6)
             AS uptime_ratio
    FROM g GROUP BY user_id
    """,
)
def q_ts_uptime_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat SLO scan: per-series max gap, outage count, downtime
    seconds, and uptime ratio under a 120 s liveness threshold — the
    monitoring read-side companion to gap_fill (which repairs gaps,
    while this one *reports* them). Integer gap arithmetic everywhere,
    one double division at the end — association-order-free, so the
    hash is stable at any parallelism. One window pass + one
    aggregation on the series key: a single shuffle."""
    (events,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "user_id",
        "ts",
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.lag(F.col("ts")).over(w).cast("timestamp"))
        ).alias("gap"),
    )
    downtime = F.sum(
        F.when(F.col("gap") > 120, F.col("gap") - 120).otherwise(F.lit(0))
    )
    span = (
        F.unix_timestamp(F.max("ts").cast("timestamp"))
        - F.unix_timestamp(F.min("ts").cast("timestamp"))
    )
    return g.groupBy("user_id").agg(
        F.max("gap").alias("max_gap_s"),
        F.sum(F.when(F.col("gap") > 120, 1).otherwise(0)).alias("n_outages"),
        downtime.alias("downtime_s"),
        F.round(
            F.lit(1.0)
            - (downtime.cast("double") / F.nullif(span.cast("long"), F.lit(0)))
            + F.lit(1e-9),
            6,
        ).alias("uptime_ratio"),
    )


@query(
    "ts_asof_join_forward",
    """
    SELECT l.event_id, l.user_id, l.ts,
           r.value AS next_purchase_value,
           r.ts AS next_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
)
def q_ts_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each click, the EARLIEST purchase
    at-or-after it by the same user (the lookahead direction —
    label-attribution / time-to-conversion shape). Same union-and-fill
    plan as the backward join with the window order reversed: still
    exactly one shuffle on the key."""
    (events,) = _prep(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = ts_ops.asof_join(
        clicks,
        purchases,
        ["user_id"],
        right_value_cols=["purchase_value"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("purchase_value_right").alias("next_purchase_value"),
        F.col("ts_right").alias("next_purchase_ts"),
    )


@query(
    "ts_asof_join_nearest",
    """
    WITH l AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         b AS (SELECT l.event_id, r.ts AS b_ts, r.value AS b_value
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.user_id AND l.ts >= r.ts),
         f AS (SELECT l.event_id, r.ts AS f_ts, r.value AS f_value
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.user_id AND l.ts <= r.ts)
    SELECT l.event_id, l.user_id, l.ts,
           CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND
                     date_diff('microsecond', b_ts, l.ts)
                       <= date_diff('microsecond', l.ts, f_ts))
                THEN b_value ELSE f_value END AS near_purchase_value,
           CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND
                     date_diff('microsecond', b_ts, l.ts)
                       <= date_diff('microsecond', l.ts, f_ts))
                THEN b_ts ELSE f_ts END AS near_purchase_ts
    FROM l JOIN b USING (event_id) JOIN f USING (event_id)
    """,
)
def q_ts_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: the closer of the latest-before and
    earliest-after purchase (tie → backward) — sensor-fusion
    alignment semantics. Both direction fills ride ONE hash
    partitioning (two in-partition sorts, one shuffle), then a per-row
    pick by time distance; the oracle needs two ASOF joins plus a
    re-join to express the same thing."""
    (events,) = _prep(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = ts_ops.asof_join(
        clicks,
        purchases,
        ["user_id"],
        right_value_cols=["purchase_value"],
        direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("purchase_value_right").alias("near_purchase_value"),
        F.col("ts_right").alias("near_purchase_ts"),
    )


@query(
    "ts_threshold_crossings",
    """
    WITH d AS (
      SELECT user_id, ts, event_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events
    )
    SELECT user_id,
           CAST(sum(CASE WHEN prev <= 150 AND value > 150 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_up_crossings,
           CAST(sum(CASE WHEN prev > 150 AND value <= 150 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_down_crossings,
           min(CASE WHEN prev <= 150 AND value > 150 THEN ts END)
             AS first_breach_ts
    FROM d GROUP BY user_id
    """,
)
def q_ts_threshold_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-rule edge detection: upward/downward crossings of a
    threshold per series plus the first breach time — the debounced
    alerting primitive (an alert fires on the EDGE, not while the
    level holds, which is exactly lag-based state like the reference's
    Following codec state). One window pass + one aggregation on the
    series key: a single shuffle."""
    (events,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = events.select(
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev"),
    )
    up = (F.col("prev") <= 150) & (F.col("value") > 150)
    down = (F.col("prev") > 150) & (F.col("value") <= 150)
    return d.groupBy("user_id").agg(
        F.sum(F.when(up, 1).otherwise(0)).alias("n_up_crossings"),
        F.sum(F.when(down, 1).otherwise(0)).alias("n_down_crossings"),
        F.min(F.when(up, F.col("ts"))).alias("first_breach_ts"),
    )


@query(
    "ts_seasonality_profile",
    f"""
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hour_of_day,
           count(*) AS n_samples,
           {exact_avg_sql("value")} AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_ts_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality fingerprint: mean level per (day-of-week,
    hour-of-day) cell — the weekly-rhythm profile that monitoring
    baselines (and anomaly thresholds) are built from. Pure map-side
    bucketing + one aggregation; 168 output cells regardless of input
    size, so the shuffle is trivially small at any scale. Day-of-week
    conventions differ (Spark 1=Sunday, DuckDB 0=Sunday); the oracle
    adds 1 to match Spark's numbering."""
    (events,) = _prep(spark, sf_dir, "events")
    return events.groupBy(
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).alias("n_samples"),
        exact_avg(F.col("value")).alias("avg_value"),
    )


# =========================================================================
# Changepoint detection: per-series CUSUM alarms
# =========================================================================


@query(
    "ts_cusum_changepoints",
    f"""
    WITH r AS (
      SELECT event_id, user_id, ts,
             {money4_sql("value")} AS r4
      FROM events
    ),
    st AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(r4) AS DOUBLE) AS s,
             CAST(sum(CAST(round(CAST(r4 AS DOUBLE) * CAST(r4 AS DOUBLE)
                                 + 1e-9, 8) AS DECIMAL(30,8))) AS DOUBLE) AS ss
      FROM r GROUP BY user_id
    ),
    dev AS (
      SELECT r.event_id, r.user_id, r.ts,
             CAST(r.r4 AS DOUBLE) - st.s / CAST(st.n AS DOUBLE) AS d,
             sqrt(greatest(st.ss / CAST(st.n AS DOUBLE)
                           - (st.s / CAST(st.n AS DOUBLE))
                             * (st.s / CAST(st.n AS DOUBLE)), 0.0)) AS sigma
      FROM r JOIN st ON r.user_id = st.user_id
    ),
    cu AS (
      SELECT event_id, user_id, ts, sigma,
             sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cusum
      FROM dev
    )
    SELECT user_id, event_id, ts,
           round(cusum + 1e-9, 6) AS cusum,
           round(cusum / sigma + 1e-9, 6) AS cusum_sigmas
    FROM cu
    WHERE abs(cusum) > 3 * sigma AND sigma > 0
    """,
)
def q_ts_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series: cumulative sum of
    deviations from the series mean, alarming where |CUSUM| exceeds
    3 sigma — the classic Page (1954) drift detector, the streaming-
    monitoring sibling of ts_anomaly_zscore (pointwise) and
    ts_threshold_crossings (level-based). Per-series moments come from
    exact decimal sums (one keyed aggregate, broadcast back); the
    running sum is a per-series ordered window whose sequential
    accumulation order is identical on both engines, so the doubles
    match bit-for-bit. Plan: one aggregate + one keyed window shuffle —
    both on user_id, reusable partitioning, no whole-frame operator."""
    (events,) = _prep(spark, sf_dir, "events")
    r4 = money4(F.col("value"))
    r = events.select("event_id", "user_id", "ts", r4.alias("r4"))
    rd = F.col("r4").cast("double")
    sq = F.round(rd * rd + F.lit(1e-9), 8).cast("decimal(30,8)")
    st = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r4").cast("double").alias("s"),
        F.sum(sq).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n").cast("double")
    sigma = F.sqrt(
        F.greatest(
            F.col("ss") / F.col("n").cast("double") - mean * mean, F.lit(0.0)
        )
    )
    dev = r.join(st, "user_id").select(
        "event_id",
        "user_id",
        "ts",
        (F.col("r4").cast("double") - mean).alias("d"),
        sigma.alias("sigma"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cu = dev.select(
        "event_id", "user_id", "ts", "sigma", F.sum("d").over(w).alias("cusum")
    )
    return cu.filter(
        (F.abs(F.col("cusum")) > 3 * F.col("sigma")) & (F.col("sigma") > 0)
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("cusum") + F.lit(1e-9), 6).alias("cusum"),
        F.round(F.col("cusum") / F.col("sigma") + F.lit(1e-9), 6).alias(
            "cusum_sigmas"
        ),
    )


# =========================================================================
# Time-weighted average (irregular-sample TSDB aggregate)
# =========================================================================


@query(
    "ts_time_weighted_avg",
    f"""
    WITH w AS (
      SELECT user_id, ts, value,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    seg AS (
      SELECT user_id,
             CAST(date_diff('second', ts, nxt) AS BIGINT) AS dt,
             {money4_sql("value")} AS v4
      FROM w WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_segments,
           CAST(sum(dt) AS BIGINT) AS covered_s,
           round(CAST(sum(v4 * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE)
                 + 1e-9, 6) AS twa
    FROM seg
    WHERE dt > 0
    GROUP BY user_id
    """,
)
def q_ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average per series (TimescaleDB's flagship
    irregular-sample aggregate): each observation holds until the next
    one (LOCF weighting), so the mean is sum(v_i * dt_i) / sum(dt_i) —
    the correct answer when a sensor reports on change, where a plain
    avg() over-weights chatty periods. dt is integer seconds and v is
    4-dp decimal, so the weighted sum is EXACT decimal x integer under
    any aggregation order. One keyed window (lead) + one keyed
    aggregate, both on the series key — at 100 TB they share one
    partitioning."""
    (events,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        events.select(
            "user_id",
            "ts",
            F.lead("ts").over(w).alias("nxt"),
            money4(F.col("value")).alias("v4"),
        )
        .filter(F.col("nxt").isNotNull())
        .select(
            "user_id",
            "v4",
            (F.unix_timestamp("nxt") - F.unix_timestamp("ts")).alias("dt"),
        )
        .filter(F.col("dt") > 0)
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("dt").alias("covered_s"),
        F.round(
            F.sum(F.col("v4") * F.col("dt")).cast("double")
            / F.sum("dt").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("twa"),
    )


# =========================================================================
# SAX symbolization (symbolic aggregate approximation)
# =========================================================================


@query(
    "ts_sax_words",
    f"""
    WITH r AS (
      SELECT event_id, user_id, ts,
             {money4_sql("value")} AS r4
      FROM events
    ),
    st AS (
      SELECT user_id, count(*) AS n, CAST(sum(r4) AS DOUBLE) AS s,
             CAST(sum(CAST(round(CAST(r4 AS DOUBLE) * CAST(r4 AS DOUBLE)
                                 + 1e-9, 8) AS DECIMAL(30,8))) AS DOUBLE) AS ss
      FROM r GROUP BY user_id
    ),
    z AS (
      SELECT r.user_id,
             ntile(8) OVER (PARTITION BY r.user_id
                            ORDER BY r.ts, r.event_id) AS segment,
             CAST(round(
               (CAST(r.r4 AS DOUBLE) - st.s / CAST(st.n AS DOUBLE))
               / sqrt(greatest(st.ss / CAST(st.n AS DOUBLE)
                               - (st.s / CAST(st.n AS DOUBLE))
                                 * (st.s / CAST(st.n AS DOUBLE)), 1e-12))
               + 1e-9, 6) AS DECIMAL(20,6)) AS z6
      FROM r JOIN st ON r.user_id = st.user_id
    ),
    seg AS (
      SELECT user_id, segment,
             CAST(sum(z6) AS DOUBLE) / count(*) AS seg_mean
      FROM z GROUP BY user_id, segment
    ),
    sym AS (
      SELECT user_id, segment,
             CASE WHEN seg_mean < -0.6745 THEN 'a'
                  WHEN seg_mean < 0.0     THEN 'b'
                  WHEN seg_mean < 0.6745  THEN 'c'
                  ELSE 'd' END AS symbol
      FROM seg
    )
    SELECT user_id, string_agg(symbol, '' ORDER BY segment) AS sax_word
    FROM sym GROUP BY user_id
    """,
)
def q_ts_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin et al. 2003): z-normalize each series
    from exact decimal moments, PAA into 8 equal-count segments
    (ntile over the ordered series), map each segment mean onto the
    4-letter Gaussian-breakpoint alphabet, and emit the per-series SAX
    word — the discretization behind motif discovery and symbolic
    indexing of time series. Per-row z-scores are 6-dp-quantized
    decimals so segment means are association-order-free; breakpoint
    comparison and letter assignment are then deterministic on both
    engines. Two keyed shuffles (stats, window+segment agg) — both on
    the series key."""
    (events,) = _prep(spark, sf_dir, "events")
    r4 = money4(F.col("value"))
    r = events.select("event_id", "user_id", "ts", r4.alias("r4"))
    rd = F.col("r4").cast("double")
    sq = F.round(rd * rd + F.lit(1e-9), 8).cast("decimal(30,8)")
    st = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r4").cast("double").alias("s"),
        F.sum(sq).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n").cast("double")
    var = F.greatest(
        F.col("ss") / F.col("n").cast("double") - mean * mean, F.lit(1e-12)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    z = r.join(st, "user_id").select(
        "user_id",
        F.ntile(8).over(w).alias("segment"),
        F.round(
            (F.col("r4").cast("double") - mean) / F.sqrt(var) + F.lit(1e-9), 6
        )
        .cast("decimal(20,6)")
        .alias("z6"),
    )
    seg = z.groupBy("user_id", "segment").agg(
        (F.sum("z6").cast("double") / F.count(F.lit(1))).alias("seg_mean")
    )
    symbol = (
        F.when(F.col("seg_mean") < -0.6745, "a")
        .when(F.col("seg_mean") < 0.0, "b")
        .when(F.col("seg_mean") < 0.6745, "c")
        .otherwise("d")
    )
    return (
        seg.select("user_id", "segment", symbol.alias("symbol"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("segment", "symbol"))
                    ),
                    lambda x: x.getField("symbol"),
                ),
                "",
            ).alias("sax_word")
        )
    )


# =========================================================================
# Per-series linear trend fit + forecast (PromQL predict_linear analog)
# =========================================================================


_FC_HORIZON_S = 86400  # forecast 24h past the last observation


@query(
    "ts_forecast_linear",
    f"""
    WITH e AS (
      SELECT event_type AS series,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS yi
      FROM events
    ),
    c AS (
      SELECT series, s - min(s) OVER (PARTITION BY series) AS x, yi
      FROM e
    ),
    m AS (
      SELECT series,
             count(*) AS n,
             CAST(max(x) AS BIGINT) AS x_max,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(yi AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(x * yi AS DECIMAL(38,0))) AS sxy
      FROM c GROUP BY series
    ),
    fit AS (
      SELECT series, n, x_max,
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 10000.0
                   + 1e-9, 10) AS slope,
             CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
      FROM m
      WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
    ),
    ic AS (
      SELECT series, n, x_max, slope,
             round((syd / 10000.0 - slope * sxd) / CAST(n AS DOUBLE)
                   + 1e-9, 6) AS intercept
      FROM fit
    )
    SELECT series, CAST(n AS BIGINT) AS n_samples, slope, intercept,
           round(intercept + slope * (x_max + {_FC_HORIZON_S}) + 1e-9, 4)
             AS forecast_24h
    FROM ic
    """,
)
def q_ts_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series ordinary-least-squares trend fit and 24h-ahead
    forecast — the PromQL ``predict_linear`` / ``deriv`` analog on the
    reference's data model (series keyed by event_type). Slope and
    intercept come from the closed-form normal equations on exact
    integer moments: timestamps are centered per series (x = s - min s,
    so x is small relative to DECIMAL(38) headroom even on years of
    100 TB data), values are scaled to 1e-4 integers, and n, Σx, Σy,
    Σxy, Σx² are summed as DECIMAL(38,0) — order-free and bit-exact at
    any parallelism. The derived slope/intercept/forecast are computed
    in IEEE double from those agreed sums and QUANTIZED (round+nudge)
    before each reuse, so both engines produce identical bits.

    Scale posture: the centering window and the moment aggregate share
    one hash partitioning on the series key (a single exchange —
    Catalyst reuses it), map-side partial aggregation applies, and the
    constant-width result is one row per series. Degenerate series (all
    samples at one timestamp) are excluded by the positive-variance
    guard."""
    (events,) = _prep(spark, sf_dir, "events")
    yi = F.floor(F.col("value") * 10000 + 0.5).cast("bigint")
    e = events.select(
        F.col("event_type").alias("series"),
        F.unix_timestamp("ts").alias("s"),
        yi.alias("yi"),
    )
    w = Window.partitionBy("series")
    c = e.select(
        "series",
        (F.col("s") - F.min("s").over(w)).alias("x"),
        "yi",
    )
    d38 = "decimal(38,0)"
    m = c.groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("x").cast("bigint").alias("x_max"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("yi").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("x") * F.col("yi")).cast(d38)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    den = nd * F.col("sxx").cast("double") - sxd * sxd
    slope = F.round(
        (nd * F.col("sxy").cast("double") - sxd * syd) / den / 10000.0
        + F.lit(1e-9),
        10,
    )
    fit = m.filter(den > 0).select(
        "series", "n", "x_max", slope.alias("slope"),
        syd.alias("syd"), sxd.alias("sxd"),
    )
    intercept = F.round(
        (F.col("syd") / 10000.0 - F.col("slope") * F.col("sxd"))
        / F.col("n").cast("double")
        + F.lit(1e-9),
        6,
    )
    ic = fit.select("series", "n", "x_max", "slope", intercept.alias("intercept"))
    return ic.select(
        "series",
        F.col("n").cast("bigint").alias("n_samples"),
        "slope",
        "intercept",
        F.round(
            F.col("intercept")
            + F.col("slope") * (F.col("x_max") + _FC_HORIZON_S)
            + F.lit(1e-9),
            4,
        ).alias("forecast_24h"),
    )


# =========================================================================
# Per-series lag autocorrelation (signal self-similarity profile)
# =========================================================================


@query(
    "ts_autocorr_lag",
    """
    WITH e AS (
      SELECT event_type AS series, ts, event_id,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS yi
      FROM events
    ),
    lagged AS (
      SELECT series,
             lag(yi, 1) OVER (PARTITION BY series ORDER BY ts, event_id) AS y1,
             yi AS y2
      FROM e
    ),
    p AS (SELECT series, y1, y2 FROM lagged WHERE y1 IS NOT NULL),
    m AS (
      SELECT series, count(*) AS n,
             sum(CAST(y1 AS DECIMAL(38,0))) AS s1,
             sum(CAST(y2 AS DECIMAL(38,0))) AS s2,
             sum(CAST(y1 * y1 AS DECIMAL(38,0))) AS s11,
             sum(CAST(y2 * y2 AS DECIMAL(38,0))) AS s22,
             sum(CAST(y1 * y2 AS DECIMAL(38,0))) AS s12
      FROM p GROUP BY series
    )
    SELECT series, CAST(n AS BIGINT) AS n_pairs,
           round((CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
                 / sqrt(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / sqrt(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
                        - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                 + 1e-9, 6) AS r_lag1
    FROM m
    WHERE CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0
      AND CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) > 0
    """,
)
def q_ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series lag-1 autocorrelation — the self-similarity signal
    behind seasonality detection and anomaly baselining (is this metric
    momentum-driven or white noise?). Consecutive samples pair up via a
    keyed lag window (series-partitioned, (ts, event_id)-ordered for a
    deterministic tie order), then Pearson r comes from exact
    DECIMAL(38,0) integer moments of the 1e-4-scaled values — the same
    order-free discipline as ts_forecast_linear. The only non-rational
    step is IEEE-754 sqrt, which is correctly rounded on identical
    inputs in every conforming engine, so the 6-dp presentation is
    bit-stable.

    Scale posture: the lag window and the moment aggregate share one
    hash partitioning on the series key — a single exchange end-to-end —
    and the result is one constant-width row per series. Degenerate
    (zero-variance) sides are excluded by the guards."""
    (events,) = _prep(spark, sf_dir, "events")
    yi = F.floor(F.col("value") * 10000 + 0.5).cast("bigint")
    e = events.select(
        F.col("event_type").alias("series"), "ts", "event_id", yi.alias("yi")
    )
    w = Window.partitionBy("series").orderBy("ts", "event_id")
    lagged = e.select(
        "series",
        F.lag("yi", 1).over(w).alias("y1"),
        F.col("yi").alias("y2"),
    ).filter(F.col("y1").isNotNull())
    d38 = "decimal(38,0)"
    m = lagged.groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y1").cast(d38)).alias("s1"),
        F.sum(F.col("y2").cast(d38)).alias("s2"),
        F.sum((F.col("y1") * F.col("y1")).cast(d38)).alias("s11"),
        F.sum((F.col("y2") * F.col("y2")).cast(d38)).alias("s22"),
        F.sum((F.col("y1") * F.col("y2")).cast(d38)).alias("s12"),
    )
    nd = F.col("n").cast("double")
    v1 = nd * F.col("s11").cast("double") - F.col("s1").cast("double") * F.col(
        "s1"
    ).cast("double")
    v2 = nd * F.col("s22").cast("double") - F.col("s2").cast("double") * F.col(
        "s2"
    ).cast("double")
    cov = nd * F.col("s12").cast("double") - F.col("s1").cast("double") * F.col(
        "s2"
    ).cast("double")
    return (
        m.filter((v1 > 0) & (v2 > 0))
        .select(
            "series",
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round(cov / F.sqrt(v1) / F.sqrt(v2) + F.lit(1e-9), 6).alias(
                "r_lag1"
            ),
        )
    )


# =========================================================================
# Bollinger bands: rolling mean +/- 2 sigma per series (monitoring)
# =========================================================================


_BB_WINDOW = 24  # trailing samples per band computation


@query(
    "ts_bollinger_bands",
    f"""
    WITH e AS (
      SELECT event_type AS series, ts, event_id,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS yi
      FROM events
    ),
    r AS (
      SELECT series, ts, event_id, yi,
             count(*) OVER w AS n,
             sum(CAST(yi AS DECIMAL(38,0))) OVER w AS s1,
             sum(CAST(yi * yi AS DECIMAL(38,0))) OVER w AS s2,
             row_number() OVER (PARTITION BY series ORDER BY ts, event_id)
               AS rn
      FROM e
      WINDOW w AS (PARTITION BY series ORDER BY ts, event_id
                   ROWS BETWEEN {_BB_WINDOW - 1} PRECEDING AND CURRENT ROW)
    ),
    b AS (
      SELECT series, ts, event_id, yi, n,
             round(CAST(s1 AS DOUBLE) / n / 10000.0 + 1e-9, 6) AS mid,
             round(sqrt(greatest(
                     (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0))
                   / 10000.0 + 1e-9, 6) AS sigma
      FROM r WHERE rn >= {_BB_WINDOW}
    )
    SELECT series, ts, mid,
           round(mid + 2 * sigma + 1e-9, 6) AS upper_band,
           round(mid - 2 * sigma + 1e-9, 6) AS lower_band,
           CASE WHEN yi / 10000.0 > mid + 2 * sigma
                  OR yi / 10000.0 < mid - 2 * sigma
                THEN 1 ELSE 0 END AS breakout
    FROM b
    """,
)
def q_ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands per series: trailing-24-sample mean +/- 2 sigma
    with breakout flags — the rolling-volatility envelope behind
    alert-banding dashboards (complements the global-moment
    ts_anomaly_zscore with a LOCAL volatility baseline). The rolling
    variance comes from rolling integer moment sums (n*S2 - S1^2 over
    the 1e-4-scaled values, DECIMAL(38,0) — exact regardless of frame
    content), so mid/sigma are bit-stable; sqrt is correctly rounded;
    warm-up rows (frame not yet full) are excluded.

    Scale posture: one hash partitioning on the series key carries the
    moment frames and row numbering (in-partition sort, no extra
    exchange); per-row work is O(1) via Spark's sliding-frame
    aggregation. The quantized-band comparison for the breakout flag
    uses the same rounded values both engines computed."""
    (events,) = _prep(spark, sf_dir, "events")
    e = events.select(
        F.col("event_type").alias("series"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 10000 + 0.5).cast("bigint").alias("yi"),
    )
    w = (
        Window.partitionBy("series")
        .orderBy("ts", "event_id")
        .rowsBetween(-( _BB_WINDOW - 1), 0)
    )
    wn = Window.partitionBy("series").orderBy("ts", "event_id")
    d38 = "decimal(38,0)"
    r = e.select(
        "series",
        "ts",
        "event_id",
        "yi",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("yi").cast(d38)).over(w).alias("s1"),
        F.sum((F.col("yi") * F.col("yi")).cast(d38)).over(w).alias("s2"),
        F.row_number().over(wn).alias("rn"),
    ).filter(F.col("rn") >= _BB_WINDOW)
    nd = F.col("n").cast("double")
    mid = F.round(
        F.col("s1").cast("double") / F.col("n") / 10000.0 + F.lit(1e-9), 6
    )
    sigma = F.round(
        F.sqrt(
            F.greatest(
                (nd * F.col("s2").cast("double")
                 - F.col("s1").cast("double") * F.col("s1").cast("double"))
                / (nd * nd),
                F.lit(0.0),
            )
        )
        / 10000.0
        + F.lit(1e-9),
        6,
    )
    b = r.select(
        "series", "ts", "yi", mid.alias("mid"), sigma.alias("sigma")
    )
    return b.select(
        "series",
        "ts",
        "mid",
        F.round(F.col("mid") + 2 * F.col("sigma") + F.lit(1e-9), 6).alias(
            "upper_band"
        ),
        F.round(F.col("mid") - 2 * F.col("sigma") + F.lit(1e-9), 6).alias(
            "lower_band"
        ),
        F.when(
            (F.col("yi") / 10000.0 > F.col("mid") + 2 * F.col("sigma"))
            | (F.col("yi") / 10000.0 < F.col("mid") - 2 * F.col("sigma")),
            1,
        )
        .otherwise(0)
        .alias("breakout"),
    )


# =========================================================================
# Hampel despiking filter (rolling median + rolling MAD)
# =========================================================================


_HAMPEL_K = 3.0


@query(
    "ts_hampel_filter",
    f"""
    WITH m AS (
      SELECT event_id, user_id, ts, value,
             round(quantile_cont(value, 0.5)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   + 1e-9, 4) AS roll_med
      FROM events
    ),
    d AS (
      SELECT *, round(abs(value - roll_med) + 1e-9, 4) AS dev FROM m
    ),
    s AS (
      SELECT event_id, user_id, roll_med, dev,
             round(quantile_cont(dev, 0.5)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   + 1e-9, 4) AS roll_mad
      FROM d
    )
    SELECT event_id, user_id, roll_med, roll_mad,
           (dev > {_HAMPEL_K} * roll_mad) AS is_spike
    FROM s
    """,
)
def q_ts_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel despiking filter: per series, a centered 7-row rolling
    median and a rolling MAD of the deviations from it; a point is a
    spike when its deviation exceeds 3x the local MAD. The robust
    twin of ts_anomaly_zscore — a single outlier inflates a rolling
    stddev and masks itself, but cannot move a rolling median.

    Parity discipline: the rolling median and MAD are quantized
    (round + 1e-9, 4 dp) before reuse, so the deviation column and the
    3*MAD threshold compare bit-identically in both engines.

    Scale posture: both window passes share one partitioning
    (user_id) and one sort (ts, event_id) — Spark plans a single
    Exchange + Sort feeding two Window operators back to back. Frames
    are bounded (7 rows), state is O(frame). At 100 TB this is one
    shuffle of the events table, the same cost envelope as any
    per-series smoother."""
    (events,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 3)
    m = events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(F.expr("percentile(value, 0.5)").over(w) + F.lit(1e-9), 4).alias(
            "roll_med"
        ),
    ).withColumn("dev", F.round(F.abs(F.col("value") - F.col("roll_med")) + F.lit(1e-9), 4))
    s = m.withColumn(
        "roll_mad",
        F.round(F.expr("percentile(dev, 0.5)").over(w) + F.lit(1e-9), 4),
    )
    return s.select(
        "event_id",
        "user_id",
        "roll_med",
        "roll_mad",
        (F.col("dev") > F.lit(_HAMPEL_K) * F.col("roll_mad")).alias("is_spike"),
    )
