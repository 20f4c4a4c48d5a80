"""Streaming queries (``streaming_*``): each replays its input as an
``availableNow`` stream (aggregations, sessions, dedup, stateful
summaries, stream-stream and stream-static joins, sketches, top-k), and
its oracle is the batch answer, so replay parity is value-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gibbon_spark.functions.exact import money_sum, money_sum_sql
from gibbon_spark.registry import _prep, query
from gibbon_spark.registry.timeseries import _SESSIONS_SQL
from gibbon_spark.sources.tables import load_table
from gibbon_spark.streaming.joins import stream_interval_join
from gibbon_spark.streaming.replay import events_stream, replay
from gibbon_spark.worker import drop_spark_archives


# =========================================================================
# Streaming replay (batch-stream parity, oracle-exact)
# =========================================================================


@query(
    "streaming_hourly_rollup",
    f"""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n, {money_sum_sql("value")} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming replay of the hourly rollup, checked against
    the BATCH oracle — the strongest batch↔stream parity statement the
    gate can make: the streaming tumbling-window aggregate over the
    whole events table hash-matches DuckDB's GROUP BY. availableNow +
    complete mode emits the final state of every window (append mode
    would hold back windows newer than the watermark); at 100 TB the
    production variant is append + watermark writing to the bucketed
    store (streaming/ingest.py), where windows emit incrementally and
    state stays bounded. The order-free decimal money_sum makes the
    result identical no matter how the stream is micro-batched."""
    s = events_stream(spark, sf_dir)
    rolled = s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("value")).alias("sum_value"),
    )
    out = replay(rolled, sf_dir, mode="complete")
    return out.select(
        F.col("w.start").alias("hour_start"), "event_type", "n", "sum_value"
    )


@query(
    "streaming_late_data_audit",
    """
    WITH batched AS (
      SELECT event_id, event_type, ts,
             CAST(floor(event_id / 1000) AS BIGINT) AS trig
      FROM events
    ),
    trig_max AS (
      SELECT trig, max(ts) AS trig_max_ts FROM batched GROUP BY trig
    ),
    wm AS (
      SELECT trig,
             max(trig_max_ts) OVER (ORDER BY trig
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - INTERVAL 10 MINUTE AS watermark
      FROM trig_max
    )
    SELECT b.event_type,
           count(*) AS n_events,
           count(CASE WHEN w.watermark IS NOT NULL AND b.ts < w.watermark
                      THEN 1 END) AS n_dropped,
           count(CASE WHEN w.watermark IS NULL OR b.ts >= w.watermark
                      THEN 1 END) AS n_kept
    FROM batched b JOIN wm w ON b.trig = w.trig
    GROUP BY b.event_type
    """,
)
def q_streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE real semantic divergence from the reference, quantified
    (SURVEY.md §2.2): gibbon happily encodes out-of-order points as
    negative dod (``time_and_value_stream.rs:86``), while a Structured
    Streaming pipeline with a watermark DROPS events older than
    ``max(event time seen in prior triggers) − delay``. This audit
    replays that rule in batch — triggers modeled as 1000-row
    arrival-order micro-batches (event_id = arrival order), watermark
    for trigger k = running max of prior triggers' max event time
    minus 10 min — and counts, per event type, exactly which rows a
    10-minute watermark would discard vs the batch/gibbon semantics.
    The oracle recomputes the same model in SQL, so the divergence
    inventory is value-checked, not hand-waved.

    Scale shape: one keyed aggregate to a trigger-count-sized frame, a
    running max over that TINY frame (one row per trigger), and a
    broadcast join back — no whole-data window, no per-row state."""
    (events,) = _prep(spark, sf_dir, "events")
    batched = events.select(
        "event_id",
        "event_type",
        "ts",
        F.floor(F.col("event_id") / 1000).cast("long").alias("trig"),
    )
    trig_max = batched.groupBy("trig").agg(F.max("ts").alias("trig_max_ts"))
    w_prior = Window.orderBy("trig").rowsBetween(Window.unboundedPreceding, -1)
    wm = trig_max.select(
        "trig",
        (
            F.max("trig_max_ts").over(w_prior)
            - F.expr("INTERVAL 10 MINUTES")
        ).alias("watermark"),
    )
    joined = batched.join(F.broadcast(wm), "trig")
    dropped = F.col("watermark").isNotNull() & (F.col("ts") < F.col("watermark"))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(dropped, F.lit(1))).alias("n_dropped"),
        F.count(F.when(~dropped, F.lit(1))).alias("n_kept"),
    )


@query("streaming_sessions", _SESSIONS_SQL)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming replay of 30-min-gap sessionization
    (session_window over a parquet stream, availableNow + complete
    mode), hash-checked against the BATCH gaps-and-islands oracle —
    batch↔stream parity for a *merging* stateful operator, where
    micro-batch boundaries actively split sessions that the state
    store must then merge back. Production shape: append mode + a real
    watermark so closed sessions emit incrementally and state stays
    bounded (complete mode here only because the gate wants every
    session, including the ones a finite stream never closes)."""
    s = events_stream(spark, sf_dir)
    sess = s.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
    out = replay(sess, sf_dir, mode="complete")
    return out.select("user_id", "session_start", "n_events")


@query(
    "streaming_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming at-ingest exact dedup replay, hash-checked
    against the batch DISTINCT oracle: the stream projects to the dedup
    key and drops duplicates statefully, so the emitted set equals the
    batch answer no matter how the replay is micro-batched. Projecting
    BEFORE dropDuplicates keeps only key columns in the state store.
    This gate variant keeps exact unbounded state; the production
    at-ingest gate is streaming/ingest.py::dedup_stream
    (dropDuplicatesWithinWatermark), which bounds state by the
    watermark at 100 TB/day."""
    s = events_stream(spark, sf_dir)
    deduped = s.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return replay(deduped, sf_dir, mode="append")


@query(
    "streaming_stateful_summary",
    f"""
    WITH o AS (
      SELECT user_id, value, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, count(*) AS n_events,
           min(value) AS min_value, max(value) AS max_value,
           {money_sum_sql("value", 4)} AS sum_4dp,
           max(CASE WHEN rn = 1 THEN value END) AS last_value
    FROM o GROUP BY user_id
    """,
)
def q_streaming_stateful_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState),
    hash-checked against a batch SQL oracle — the codec-style
    per-series state machine (timestamp_stream.rs:8-16 Initial →
    Following) as a first-class streaming query. The state fold is
    deliberately ORDER-FREE: count/min/max are commutative, the sum
    accumulates integer ten-thousandths (exact, any order), and
    last-value tracks the (ts, event_id) argmax instead of trusting
    arrival order — so the emitted state is identical under any
    micro-batching, chunking, or shuffle order, and the final
    per-series emission (max n_events) equals the batch answer
    bit-for-bit. State is O(1) per series, keyed by the shuffle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    s = events_stream(spark, sf_dir).select("user_id", "ts", "event_id", "value")

    out_schema = (
        "user_id long, n_events long, min_value double, max_value double, "
        "sum_4dp double, last_value double"
    )
    state_schema = (
        "n long, cents long, mn double, mx double, bts long, beid long, "
        "lastv double"
    )

    def track(key, pdf_iter, state):
        drop_spark_archives()
        import pandas as pd

        (user_id,) = key
        if state.exists:
            n, cents, mn, mx, bts, beid, lastv = state.get
        else:
            n, cents, mn, mx, bts, beid, lastv = 0, 0, None, None, None, None, None
        for pdf in pdf_iter:
            ts_us = pdf["ts"].astype("int64")
            for v, t, e in zip(pdf["value"], ts_us, pdf["event_id"]):
                v, t, e = float(v), int(t), int(e)
                n += 1
                cents += int(round((v + 1e-9) * 10000))
                mn = v if mn is None else min(mn, v)
                mx = v if mx is None else max(mx, v)
                if bts is None or (t, e) > (bts, beid):
                    bts, beid, lastv = t, e, v
        state.update((n, cents, mn, mx, bts, beid, lastv))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "min_value": [mn],
                "max_value": [mx],
                "sum_4dp": [round(cents / 10000.0 + 1e-9, 4)],
                "last_value": [lastv],
            }
        )

    tracked = s.groupBy("user_id").applyInPandasWithState(
        track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    out = replay(tracked, sf_dir, mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# =========================================================================
# Stream-stream interval join (availableNow replay vs batch oracle)
# =========================================================================


@query(
    "streaming_interval_join",
    """
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p
    JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join replayed with availableNow and
    checked against the batch oracle: purchases matched to same-user
    clicks within the preceding 10 minutes. Both streams carry a
    10-minute watermark and the join condition bounds event time on
    both sides (streaming/joins.py), so state per key is O(rows within
    the horizon) — the only shape under which a stream-stream join can
    run indefinitely. Inner-join matches are emitted as they occur
    (watermarks gate state EVICTION, not inner-join output), so the
    replay's final table equals the batch join exactly, whatever the
    micro-batching. The reference has no streaming join (synchronous
    single writer, examples/csv_to_packed.rs:23-27); SURVEY §2.2
    streaming category."""
    s1 = events_stream(spark, sf_dir)
    s2 = events_stream(spark, sf_dir)
    # withWatermark requires TIMESTAMP (LTZ); the parquet stores NTZ.
    # events_stream pins the session tz to UTC, so the cast is value-preserving.
    purchases = s1.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    clicks = s2.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    joined = stream_interval_join(
        purchases, clicks, on=["user_id"], within="10 minutes"
    ).select(
        "user_id", "purchase_id", F.col("click_id_right").alias("click_id")
    )
    return replay(joined, sf_dir, mode="append")


# =========================================================================
# Stream-static enrichment join (availableNow replay vs batch oracle)
# =========================================================================


@query(
    "streaming_static_enrich",
    f"""
    SELECT c.c_mktsegment, count(*) AS n_events,
           {money_sum_sql("e.value")} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static ENRICHMENT join: the event stream joins a static
    dimension (customer) micro-batch by micro-batch — the standard
    pattern for decorating a firehose with slowly-changing reference
    data. The dim side is a bounded batch DataFrame, so Spark
    broadcasts it into every micro-batch (no stream state at all,
    unlike stream-stream joins); the rollup then aggregates in complete
    mode and the availableNow replay's final table hash-matches the
    batch join oracle. At 100 TB/day the same plan holds: the stream
    shuffles only for the final aggregate, the dim re-broadcasts per
    trigger (refreshable without restart)."""
    from gibbon_spark.sources.tables import load_table

    s = events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = s.join(
        F.broadcast(cust), s.user_id == cust.c_custkey, "inner"
    )
    rolled = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum(F.col("value")).alias("sum_value"),
    )
    return replay(rolled, sf_dir, mode="complete")


# =========================================================================
# Streaming sketch maintenance: HLL registers as streaming state
# =========================================================================


@query(
    "streaming_sketch_hll",
    """
    WITH ud AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, user_id
      FROM events
    ),
    h AS (
      SELECT d,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
               AS bucket,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 13))::BIGINT
               AS v
      FROM ud
    )
    SELECT d AS day_num, bucket,
           max(CASE WHEN v = 0 THEN 53
                    ELSE bit_count((v & -v) - 1) + 1 END) AS register
    FROM h GROUP BY d, bucket
    """,
)
def q_streaming_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sketch maintenance: the per-day HyperLogLog register
    table of sketch_hll_sliding_wau kept as Structured Streaming state
    — each micro-batch folds new events into (day, bucket) -> max(rank)
    — then availableNow-replayed and value-checked against the batch
    register computation. max() state is the textbook mergeable-sketch
    update: commutative, idempotent, O(1) per key, so the final
    registers are IDENTICAL no matter how the stream is micro-batched;
    that register equality (not just an estimate comparison) is what
    this gate asserts. Downstream, any 7-day window merge/estimate
    (see sketch_hll_sliding_wau) reads this continuously-maintained
    table instead of re-scanning events.

    Scale posture: streaming state is bounded at days x 256 registers
    regardless of event volume — the reason sketches, not exact
    distinct sets, are what production streams maintain. The replay
    pins a bounded state-store width (streaming.replay)."""
    s = events_stream(spark, sf_dir)
    hexid = F.md5(F.col("user_id").cast("string"))
    v = F.conv(F.substring(hexid, 3, 13), 16, 10).cast("bigint")
    rho = F.when(v == 0, F.lit(53)).otherwise(
        F.bit_count((v.bitwiseAND(-v)) - 1) + 1
    )
    regs = (
        s.select(
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias(
                "day_num"
            ),
            F.conv(F.substring(hexid, 1, 2), 16, 10)
            .cast("bigint")
            .alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("day_num", "bucket")
        .agg(F.max("rho").alias("register"))
    )
    out = replay(regs, sf_dir, mode="complete")
    return out.select("day_num", "bucket", "register")


# =========================================================================
# Streaming top-k trending (availableNow replay + post-replay rank)
# =========================================================================


_TREND_TOP_K = 3


@query(
    "streaming_topk_trending",
    f"""
    WITH b AS (
      SELECT time_bucket(INTERVAL '2 hours', ts) AS bucket_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY bucket_start
                                   ORDER BY n DESC, event_type) AS rnk
      FROM b
    )
    SELECT bucket_start, event_type, n, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= {_TREND_TOP_K}
    """,
)
def q_streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending dashboard as a stream: the top-3 event types per 2-hour
    window, with the windowed counts maintained by Structured Streaming
    (availableNow replay of the whole events table, complete mode) and
    the rank applied to the replayed state — the standard split between
    what streaming state maintains (mergeable counts) and what the
    serving query computes (order-dependent rank). Hash-matches the
    batch DuckDB oracle, so the result is independent of how the stream
    was micro-batched.

    Scale posture: streaming state is |windows| x |event types| rows —
    bounded, merge-only; the production variant is append mode +
    watermark with rank in the sink query. The post-replay rank
    partitions by window over the tiny state table, pruned by
    WindowGroupLimit to k rows per window."""
    s = events_stream(spark, sf_dir)
    counts = s.groupBy(
        F.window(F.col("ts").cast("timestamp"), "2 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = replay(counts, sf_dir, mode="complete")
    state = out.select(
        F.col("w.start").alias("bucket_start"), "event_type", "n"
    )
    w = Window.partitionBy("bucket_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        state.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TREND_TOP_K)
        .select("bucket_start", "event_type", "n", F.col("rnk").cast("int").alias("rnk"))
    )
