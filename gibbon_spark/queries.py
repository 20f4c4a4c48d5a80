"""Query registry — the driver contract (SURVEY.md §2 inventory).

Each entry pairs a Spark DataFrame plan with an ANSI-SQL oracle that
DuckDB runs on the same parquet tables. Conventions that keep the
value-hash comparison exact:

- every computed column is aliased identically on both sides;
- float aggregates are ``round()``-ed identically on both sides (sums
  to 2 dp, averages/ratios to 6 dp) so parallel-vs-serial association
  order cannot flip the hash;
- window orderings always carry a unique tiebreak column;
- session timezone is pinned to UTC inside each query so timestamp
  semantics match DuckDB's naive timestamps regardless of the caller's
  session defaults.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gibbon_spark.functions.exact import (
    exact_avg,
    exact_avg_sql,
    money4,
    money4_sql,
    money_sum,
    money_sum_sql,
)
from gibbon_spark.operators import layout
from gibbon_spark.operators import merge as merge_ops
from gibbon_spark.operators import skew as skew_ops
from gibbon_spark.operators import timeseries as ts_ops
from gibbon_spark.sources.tables import load_table
from gibbon_spark.materialize import materialize
from gibbon_spark.streaming.replay import events_stream, replay

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query function and (optionally) its DuckDB oracle SQL."""

    def deco(fn: SparkQuery) -> SparkQuery:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate samples the FIRST 50 dict entries of
# queries(). Rounds 1-10 rotated this window for COVERAGE — by
# CORRECTNESS_r10 every one of the 229 oracle-backed queries holds a
# driver-green hash at least once (the r10 endgame window carried the
# final 28 never-sampled names). Post-endgame the window's job is
# REGRESSION DETECTION, encoded as a deterministic policy rather than a
# hand-picked list (round-10 verdict ask #5):
#
#   * 10 pinned cross-family SENTINELS — one per major operator family
#     (codec/ts, distributed codec, TPC-H agg + join, outer joins,
#     multi-level aggs, window functions, streaming replay, LLM dedup,
#     ANN) — sampled EVERY round, so a break in any family's shared
#     machinery surfaces in at most one round;
#   * 40 ROUND-ROBIN slots walking the remaining oracle-backed registry
#     in sorted-name order, advancing 40 names per round — the full
#     registry re-earns a fresh driver hash every ceil(219/40) = 6
#     rounds.
#
# Bump ROTATION_ROUND by 1 each round (and only that). The window is
# computed, not listed, so it can never silently drift from the policy;
# tests/test_registry_invariants.py pins both the policy math and the
# driver-contract invariants (50 names, oracle-backed, first in dict
# order).
SENTINELS: tuple[str, ...] = (
    "ts_summary",               # codec/time-series scan+agg facade
    "gorilla_roundtrip_summary",  # distributed Gorilla codec round-trip
    "q1_pricing_summary",       # TPC-H wide aggregate
    "q3_top_orders",            # TPC-H 3-way join + top-k
    "outer_join_order_counts",  # outer-join family
    "rollup_lineitem",          # multi-level aggregation family
    "window_rank_orders",       # window-function family
    "streaming_hourly_rollup",  # streaming replay-parity family
    "dedup_minhash_lsh",        # LLM dedup (MinHash banding machinery)
    "sim_topk_bruteforce",      # ANN / embedding kernels
)
ROTATION_ROUND = 12  # bump each round
_DRIVER_SAMPLE = 50
ROTATION_SLOTS = _DRIVER_SAMPLE - len(SENTINELS)


def priority_window() -> tuple[str, ...]:
    """The 50 names the driver samples this round (policy above).

    Computed lazily because the round-robin pool is "every oracle-backed
    registered query" — only known after all query modules import.
    """
    pool = sorted(n for n in _QUERIES if n in _ORACLES and n not in SENTINELS)
    start = ((ROTATION_ROUND - 11) * ROTATION_SLOTS) % len(pool)
    rotating = tuple(pool[(start + i) % len(pool)] for i in range(ROTATION_SLOTS))
    return SENTINELS + rotating


def queries() -> dict[str, SparkQuery]:
    """All registered queries: priority_window() first, then the
    remaining oracle-backed entries, then rows-only entries LAST.

    The driver samples the first N dict entries for its correctness
    gate; a rows-only (no-oracle) query in that window burns a slot on
    an ``err: no_oracle`` row even though it is rows-only by design.
    The computed window guarantees the sampled set spans the operator
    families (sentinels) and round-robins the rest of the registry
    (policy comment above priority_window)."""
    prioritized = {
        k: _QUERIES[k] for k in priority_window() if k in _QUERIES and k in _ORACLES
    }
    backed = {
        k: v
        for k, v in _QUERIES.items()
        if k in _ORACLES and k not in prioritized
    }
    rows_only = {k: v for k, v in _QUERIES.items() if k not in _ORACLES}
    return {**prioritized, **backed, **rows_only}


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _prep(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Pin UTC (driver may hand us a session with another tz) and load tables."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return [load_table(spark, sf_dir, n) for n in names]


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
# Relational surface (SURVEY.md §2.2 matrix — joins/agg/window/sort/setops)
# =========================================================================


@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag,
           l_linestatus,
           {money_sum_sql("l_quantity")} AS sum_qty,
           {money_sum_sql("l_extendedprice")} AS sum_base_price,
           {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {money_sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
           {exact_avg_sql("l_quantity")} AS avg_qty,
           {exact_avg_sql("l_extendedprice")} AS avg_price,
           {exact_avg_sql("l_discount")} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filtered scan + 8-way aggregate.
    Entirely whole-stage-codegen'd; the shuffle carries one row per
    (returnflag, linestatus) group per task."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity")).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            exact_avg(F.col("l_quantity")).alias("avg_qty"),
            exact_avg(F.col("l_extendedprice")).alias("avg_price"),
            exact_avg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_top_orders",
    f"""
    SELECT l.l_orderkey AS o_orderkey,
           {money_sum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter → joins → agg → top-k.
    No broadcast hints: customer/orders sizes grow with SF, so the
    planner decides — static stats + AQE broadcast them while they fit
    the 10 MB budget and fall back to sort-merge on the shuffled key at
    100 TB, where a forced broadcast would OOM the executors."""
    customer, orders, li = _prep(spark, sf_dir, "customer", "orders", "lineitem")
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ords = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "inner"
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    joined = li.join(ords, li.l_orderkey == ords.o_orderkey, "inner")
    agg = joined.groupBy(
        F.col("l_orderkey").alias("o_orderkey"), "o_orderdate", "o_orderpriority"
    ).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return ts_ops.topk(
        agg.select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority"),
        [F.col("revenue").desc(), F.col("o_orderkey")],
        10,
    )


@query(
    "q5_region_revenue",
    f"""
    SELECT r.r_name,
           n.n_name,
           {money_sum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: the dims pre-join into one relation
    keyed by orderkey, so the fact table is scanned once. Join strategy
    is planner-chosen (broadcast at test SF where the chain fits 10 MB,
    sort-merge at 100 TB) — hints are reserved for provably bounded
    sides."""
    li, orders, customer, nation, region = _prep(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    dims = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    ords = orders.join(dims, orders.o_custkey == dims.c_custkey).select(
        "o_orderkey", "n_name", "r_name"
    )
    joined = li.join(ords, li.l_orderkey == ords.o_orderkey)
    return joined.groupBy("r_name", "n_name").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "orders_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def q_orders_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort+limit → TakeOrderedAndProject (no full sort)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return ts_ops.topk(
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        25,
    )


@query(
    "window_rank_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
)
def q_window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-n via row_number window — one shuffle on the
    partition key; Spark's WindowGroupLimit pushes the rn<=3 limit into
    the sort at scale."""
    (orders,) = _prep(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
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


@query(
    "ts_gap_fill",
    """
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
    s1 AS (SELECT user_id, grid_ts, value AS slot_value FROM slot WHERE rn = 1)
    SELECT g.user_id, g.grid_ts,
           last_value(s1.slot_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.grid_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g LEFT JOIN s1 USING (user_id, grid_ts)
    """,
)
def q_ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid per series with forward fill — grid generated
    distributed via sequence()+explode (no driver loop), fill via
    last(ignorenulls) window."""
    (events,) = _prep(spark, sf_dir, "events")
    out = ts_ops.gap_fill(events, ["user_id"], step="1 hour")
    return out.select("user_id", "grid_ts", "filled_value")


# =========================================================================
# Relational completeness (SURVEY.md §2.2: set ops, join kinds, grouping
# sets, distinct aggs, scalar function surface)
# =========================================================================


@query(
    "set_ops_customers",
    """
    SELECT 'union' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'intersect' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'except' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    """,
)
def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except in one result, tagged by op."""
    (customer,) = _prep(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return (
        a.union(b).distinct().select(F.lit("union").alias("op"), "c_custkey")
        .unionByName(
            a.intersect(b).select(F.lit("intersect").alias("op"), "c_custkey")
        )
        .unionByName(
            a.exceptAll(b).distinct().select(F.lit("except").alias("op"), "c_custkey")
        )
    )


@query(
    "semi_anti_join",
    """
    SELECT 'with_orders' AS op, c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS op, c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) and left_anti (NOT EXISTS) joins."""
    customer, orders = _prep(spark, sf_dir, "customer", "orders")
    cond = customer.c_custkey == orders.o_custkey
    semi = customer.join(orders, cond, "left_semi").select(
        F.lit("with_orders").alias("op"), "c_custkey"
    )
    anti = customer.join(orders, cond, "left_anti").select(
        F.lit("without_orders").alias("op"), "c_custkey"
    )
    return semi.unionByName(anti)


@query(
    "outer_join_order_counts",
    f"""
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
           CAST(round(coalesce(sum({money4_sql("o.o_totalprice")}), 0), 2) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q_outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    customer, orders = _prep(spark, sf_dir, "customer", "orders")
    joined = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left"
    )
    return joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.round(
            F.coalesce(
                F.sum(money4(F.col("o_totalprice"))),
                F.lit(0).cast("decimal(24,4)"),
            ),
            2,
        ).cast("double").alias("total_spend"),
    )


@query(
    "agg_distinct",
    f"""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_custs,
           count(*) AS n_orders,
           CAST(round(sum(DISTINCT {money4_sql("o_totalprice")}), 2) AS DOUBLE) AS sum_distinct_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregates (expand-based two-phase agg in Spark)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum_distinct(money4(F.col("o_totalprice"))),
            2,
        ).cast("double").alias("sum_distinct_price"),
    )


@query("agg_approx_distinct")
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the scale path for
    count-distinct at 100 TB (fixed-size sketch, no expand). No SQL
    oracle: HLL estimates are implementation-specific; tests assert <5%
    error vs exact instead (tests/test_relational.py)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey").alias("approx_custs")
    )


@query(
    "agg_approx_distinct_check",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS exact_custs,
           TRUE AS within_tol
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL estimate made oracle-checkable: Spark computes BOTH the
    exact distinct count and the HLL++ sketch (rsd=0.02 — 2.5 sigma
    inside the 5%% tolerance, and 4x smaller registers than rsd=0.01,
    which dominated this query's wall time for no extra assurance) and
    emits the
    invariant ``|approx - exact| / exact <= 0.05`` as a boolean; the
    oracle emits the exact counts plus literal TRUE. Hash equality then
    proves the sketch landed within 5x its configured error — the
    correctness contract an approx aggregate actually offers. (The raw
    estimate itself stays rows-only in agg_approx_distinct: HLL values
    are implementation-specific.)"""
    (orders,) = _prep(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_custs"),
        F.approx_count_distinct("o_custkey", 0.02).alias("_approx"),
    )
    return agg.select(
        "o_orderpriority",
        "exact_custs",
        (
            F.abs(F.col("_approx") - F.col("exact_custs"))
            / F.col("exact_custs")
            <= F.lit(0.05)
        ).alias("within_tol"),
    )


@query(
    "rollup_lineitem",
    f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {money_sum_sql("l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "cube_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           {money_sum_sql("o_totalprice")} AS sum_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all combinations)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("o_totalprice")).alias("sum_price"),
    )


@query(
    "pivot_events",
    """
    SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'login' THEN 1 END) AS login,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type counts to columns (explicit value list so the
    plan needs no extra distinct-values pass)."""
    (events,) = _prep(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "login", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "scalar_string_math",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substr(p_name, 1, 5) AS name_prefix,
           length(p_name) AS name_len,
           replace(p_type, ' ', '_') AS type_snake,
           concat(p_brand, ':', p_type) AS brand_type,
           round(p_retailprice * 1.1, 2) AS price_up,
           abs(p_size - 25) AS size_dev,
           CASE WHEN p_size > 25 THEN 'big'
                WHEN p_size > 10 THEN 'mid'
                ELSE 'small' END AS size_class,
           coalesce(nullif(p_brand, 'Brand#13'), 'OTHER') AS brand_masked,
           round(sqrt(p_retailprice), 6) AS price_sqrt,
           round(ln(p_retailprice), 6) AS price_ln,
           p_size % 7 AS size_mod
    FROM part
    """,
)
def q_scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface: string, math, conditional — all JVM-side
    whole-stage-codegen expressions."""
    (part,) = _prep(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_up"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.when(F.col("p_size") > 25, "big")
        .when(F.col("p_size") > 10, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#13")), F.lit("OTHER")).alias(
            "brand_masked"
        ),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        (F.col("p_size") % 7).alias("size_mod"),
    )


@query(
    "scalar_datetime",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           date_trunc('month', o_orderdate) AS month_start,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_95,
           last_day(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders
    """,
)
def q_scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime function surface."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).cast("long").alias("days_since_95"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
    )


@query(
    "json_extract_events",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def q_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props column (semi-structured
    surface; at scale prefer from_json with an explicit schema so the
    parse runs once per row, as done here)."""
    (events,) = _prep(spark, sf_dir, "events")
    parsed = events.withColumn(
        "_p", F.from_json("props", "k BIGINT")
    )
    return parsed.select(
        "event_id",
        F.col("_p.k").cast("string").alias("k_str"),
        F.col("_p.k").alias("k_val"),
    )


@query(
    "array_ops_documents",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           string_split(text, ' ')[1] AS first_token,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           list_sort(string_split(text, ' '))[1] AS min_token,
           list_contains(string_split(text, ' '), 'the') AS has_the
    FROM documents
    """,
)
def q_array_ops_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over tokenized text (split/size/element_at/
    array_distinct/array_sort/array_contains — all codegen'd)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.element_at(F.array_sort(toks), 1).alias("min_token"),
        F.array_contains(toks, "the").alias("has_the"),
    )


# =========================================================================
# Subqueries, percentiles, q6, string aggregation, xor analytics
# =========================================================================

_SUBQUERY_SQL = """
    SELECT o.o_orderpriority,
           count(*) AS n_big_building_orders
    FROM orders o
    WHERE o.o_totalprice > (SELECT avg(o_totalprice) FROM orders)
      AND o.o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'BUILDING')
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
    GROUP BY o.o_orderpriority
"""


@query("subqueries_gallery", _SUBQUERY_SQL)
def q_subqueries_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + uncorrelated IN + correlated EXISTS in one
    plan — the identical SQL text runs on both engines (Catalyst
    rewrites IN/EXISTS to semi joins, the scalar subquery to a
    broadcast)."""
    for name, df in zip(
        ["orders", "customer", "lineitem"],
        _prep(spark, sf_dir, "orders", "customer", "lineitem"),
    ):
        df.createOrReplaceTempView(name)
    return spark.sql(_SUBQUERY_SQL)


@query(
    "q6_forecast_revenue",
    f"""
    SELECT {money_sum_sql("l_extendedprice * l_discount")} AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure filtered scan-aggregate; every predicate
    pushes to the parquet reader."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "percentiles_prices",
    """
    SELECT o_orderpriority,
           round(median(o_totalprice), 6) AS median_price,
           round(quantile_cont(o_totalprice, 0.90), 6) AS p90_price,
           round(quantile_cont(o_totalprice, 0.99), 6) AS p99_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_percentiles_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). At 100 TB switch to approx_percentile (t-digest
    sketch, fixed memory) — exposed as the rows-only twin below."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.90)"), 6).alias("p90_price"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99_price"),
    )


@query("percentiles_approx")
def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the sketch-based scale path (no SQL oracle:
    estimates are implementation-specific; pytest bounds the error)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        )
    )


@query(
    "percentiles_approx_check",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(quantile_cont(o_totalprice, 0.5) + 1e-9, 4) AS exact_median,
           TRUE AS within_tol
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_percentiles_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile made oracle-checkable via a RANK bracket, not a
    value tolerance: the sketch (accuracy 10000 → rank error <=
    n/10000 rows) must return a value between the exact p40 and p60 —
    a bound it beats by orders of magnitude, yet one that never flakes
    on gappy value distributions (approx returns an actual data value
    while exact interpolates, so a value-relative tolerance trips on
    sparse regions). Oracle emits the exact median + literal TRUE.
    Complements percentiles_approx (rows-only raw estimates)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.expr("percentile(o_totalprice, 0.5)") + F.lit(1e-9), 4
        ).alias("exact_median"),
        F.expr("percentile(o_totalprice, 0.4)").alias("_p40"),
        F.expr("percentile(o_totalprice, 0.6)").alias("_p60"),
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "_approx"
        ),
    )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        "exact_median",
        (
            (F.col("_approx") >= F.col("_p40"))
            & (F.col("_approx") <= F.col("_p60"))
        ).alias("within_tol"),
    )


@query(
    "string_agg_statuses",
    """
    SELECT o_orderpriority,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
             AS statuses,
           count(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_string_agg_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-and-join aggregation (collect_set → sort → concat);
    deterministic because the set is sorted before joining."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


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


# =========================================================================
# Window frames, sliding windows, session windows
# =========================================================================


@query(
    "window_frames_gallery",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_sum,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
             AS moving_avg_3,
           lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS next_value,
           first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS first_value,
           ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id)
             AS value_quartile,
           round(percent_rank() OVER (PARTITION BY user_id ORDER BY value, event_id), 6)
             AS value_pct_rank
    FROM events
    """,
)
def q_window_frames_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface: running/moving frames, lead,
    first_value, ntile, percent_rank — one shuffle on the partition
    key, frames evaluated in a single pass per partition."""
    (events,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy("value", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_sum"),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 6).alias("moving_avg_3"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.first("value").over(w).alias("first_value"),
        F.ntile(4).over(wv).alias("value_quartile"),
        F.round(F.percent_rank().over(wv), 6).alias("value_pct_rank"),
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


@query(
    "ts_session_windows",
    """
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
    """,
)
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
    "unpivot_lineitem_measures",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    """,
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) via stack() — wide measures to long rows, the
    inverse of pivot_events; a pure projection (no shuffle)."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, "
            "'extendedprice', l_extendedprice, "
            "'discount', l_discount) AS (measure, val)"
        ),
    )


@query(
    "full_outer_users_customers",
    """
    SELECT coalesce(u.user_id, c.c_custkey) AS key_id,
           u.n_events,
           round(c.c_acctbal, 2) AS acctbal
    FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) u
    FULL OUTER JOIN customer c ON u.user_id = c.c_custkey
    """,
)
def q_full_outer_users_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: event users vs customer keys — rows survive
    from both unmatched sides (null columns on the other)."""
    events, customer = _prep(spark, sf_dir, "events", "customer")
    u = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    joined = u.join(customer, u.user_id == customer.c_custkey, "full_outer")
    return joined.select(
        F.coalesce(u.user_id, customer.c_custkey).alias("key_id"),
        "n_events",
        F.round("c_acctbal", 2).alias("acctbal"),
    )


# =========================================================================
# Deeper analytical shapes (TPC-H q4/q14/q17/q18/q19 analogs, range frames)
# =========================================================================


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: correlated EXISTS → left-semi join on the fact
    table, then a small aggregate."""
    orders, li = _prep(spark, sf_dir, "orders", "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cond = (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate)
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q14_promo_ratio",
    f"""
    SELECT round(100.0 * CAST(sum({money4_sql("CASE WHEN p.p_type LIKE 'PROMO%' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}) AS DOUBLE)
                 / CAST(sum({money4_sql("l.l_extendedprice * (1 - l.l_discount)")}) AS DOUBLE) + 1e-9, 6) AS promo_pct,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
    """,
)
def q_q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: conditional aggregation ratio over a dim join
    (planner broadcasts part at test SF; lineitem never shuffles
    pre-aggregation)."""
    li, part = _prep(spark, sf_dir, "lineitem", "part")
    j = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-06-01").cast("timestamp"))
    ).join(part, li.l_partkey == part.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))

    def exact(c):
        return F.sum(money4(c)).cast("double")

    return j.agg(
        F.round(
            100.0 * exact(promo) / exact(rev) + F.lit(1e-9), 6
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q17_small_quantity",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_items
    FROM lineitem l
    WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: correlated scalar subquery — Catalyst rewrites
    it to an aggregate + join on the correlation key (one shuffle on
    l_partkey), not a per-row subplan."""
    for name, df in zip(["lineitem"], _prep(spark, sf_dir, "lineitem")):
        df.createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS n_items
        FROM lineitem l
        WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                              FROM lineitem l2
                              WHERE l2.l_partkey = l.l_partkey)
        """
    )


@query(
    "q18_large_orders",
    f"""
    SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice,
           round(t.sum_qty, 2) AS sum_qty
    FROM (SELECT l_orderkey, CAST(sum({money4_sql("l_quantity")}) AS DOUBLE) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING CAST(sum({money4_sql("l_quantity")}) AS DOUBLE) > 150) t
    JOIN orders o ON t.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: aggregate + HAVING, joined back to dims. The
    HAVING output is tiny; AQE sees the runtime size and broadcasts it
    (a static hint would guess — the aggregate's size is unknowable at
    plan time)."""
    li, orders, customer = _prep(spark, sf_dir, "lineitem", "orders", "customer")
    t = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(money4(F.col("l_quantity")))
            .cast("double")
            .alias("sum_qty")
        )
        .filter(F.col("sum_qty") > 150)
    )
    j = (
        t
        .join(orders, t.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
    )
    return j.select(
        "c_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.round("sum_qty", 2).alias("sum_qty"),
    )


@query(
    "q19_disjunctive",
    f"""
    SELECT {money_sum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
       OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
       OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)
    """,
)
def q_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: disjunction of conjunctive predicates across
    both join sides — Catalyst extracts the common l_partkey join key
    and pushes the per-side conjuncts below the join."""
    li, part = _prep(spark, sf_dir, "lineitem", "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    pred = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return j.filter(pred).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
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


@query(
    "argmin_cheapest_order",
    """
    SELECT o_custkey, o_orderkey AS cheapest_orderkey,
           round(o_totalprice, 2) AS cheapest_price
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice, o_orderkey) AS rn
      FROM orders)
    WHERE rn = 1
    """,
)
def q_argmin_cheapest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin via min-over-struct (lexicographic (price, key) ordering —
    deterministic under price ties, unlike min_by). The oracle states
    the same argmin as a window rank (row_number over (price, key),
    rn = 1): DuckDB 1.0's min-over-STRUCT aggregate state blows past
    its own memory limit at 4.5M rows / 450k groups (126 GB RSS,
    OOM-killed at the sf3 sweep), while the window form streams."""
    (orders,) = _prep(spark, sf_dir, "orders")
    s = F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    return orders.groupBy("o_custkey").agg(
        F.min(s).getField("k").alias("cheapest_orderkey"),
        F.round(F.min("o_totalprice"), 2).alias("cheapest_price"),
    )


@query(
    "stats_aggregates",
    """
    SELECT event_type,
           round(stddev_samp(value), 6) AS sd,
           round(var_samp(value), 6) AS var,
           round(corr(value, CAST(floor(epoch(ts)) AS BIGINT)), 6) AS corr_vt,
           round(covar_samp(value, user_id), 6) AS covar_vu,
           round(regr_slope(value, user_id), 6) AS slope_vu,
           round(regr_intercept(value, user_id), 6) AS intercept_vu,
           bit_and(event_id) AS band,
           bit_or(event_id) AS bor,
           bit_xor(event_id) AS bxor
    FROM events
    GROUP BY event_type
    """,
)
def q_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: sample stddev/variance,
    correlation, covariance, linear regression, bitwise aggregates —
    all single-pass partial+final combinable (Welford-style merges)."""
    (events,) = _prep(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd"),
        F.round(F.var_samp("value"), 6).alias("var"),
        F.round(F.corr("value", F.unix_timestamp("ts").cast("long")), 6).alias(
            "corr_vt"
        ),
        F.round(F.covar_samp("value", "user_id"), 6).alias("covar_vu"),
        F.round(F.regr_slope("value", "user_id"), 6).alias("slope_vu"),
        F.round(F.regr_intercept("value", "user_id"), 6).alias("intercept_vu"),
        F.bit_and("event_id").alias("band"),
        F.bit_or("event_id").alias("bor"),
        F.bit_xor("event_id").alias("bxor"),
    )


@query(
    "q7_nation_volume",
    f"""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           {money_sum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
    WHERE ns.n_name <> nc.n_name
    GROUP BY ns.n_name, nc.n_name
    """,
)
def q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: revenue between supplier-nation / customer-nation
    pairs — two independent dimension chains hang off the fact table;
    lineitem is scanned once, shuffled once (final agg). Dim-chain join
    strategy is left to the planner (broadcast while small, shuffle at
    scale)."""
    li, supplier, nation, orders, customer = _prep(
        spark, sf_dir, "lineitem", "supplier", "nation", "orders", "customer"
    )
    supp_n = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust_n = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    ords = orders.join(cust_n, orders.o_custkey == cust_n.c_custkey).select(
        "o_orderkey", "cust_nation"
    )
    j = (
        li.join(supp_n, li.l_suppkey == supp_n.s_suppkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy("supp_nation", "cust_nation").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           {money_sum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: customers ranked by returned-item revenue."""
    customer, orders, li = _prep(spark, sf_dir, "customer", "orders", "lineitem")
    j = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_name"), F.col("o_custkey") == F.col("c_custkey"))
    )
    agg = j.groupBy("c_custkey", "c_name").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return ts_ops.topk(agg, [F.col("revenue").desc(), F.col("c_custkey")], 20)


@query(
    "q13_order_count_distribution",
    """
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def q_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: double aggregation — per-customer order counts,
    then the distribution of those counts (two chained shuffles, the
    second one tiny)."""
    customer, orders = _prep(spark, sf_dir, "customer", "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "q22_idle_rich_customers",
    f"""
    SELECT substr(c.c_name, 10, 2) AS name_tag,
           count(*) AS n_custs,
           {money_sum_sql("c.c_acctbal")} AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    GROUP BY substr(c.c_name, 10, 2)
    """,
)
def q_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: above-average balance (scalar subquery) with no
    recent orders (anti join on a filtered build side; every customer in
    the synthetic data has SOME order, so 'idle' means none since 1998),
    grouped by a name fragment."""
    for name, df in zip(
        ["customer", "orders"], _prep(spark, sf_dir, "customer", "orders")
    ):
        df.createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT substr(c.c_name, 10, 2) AS name_tag,
               count(*) AS n_custs,
               {money_sum_sql("c.c_acctbal")} AS total_bal
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        GROUP BY substr(c.c_name, 10, 2)
        """
    )


@query(
    "q8_market_share",
    f"""
    SELECT o_year,
           round(CAST(sum({money4_sql("CASE WHEN supp_nation = 'NATION_0' THEN volume ELSE 0 END")}) AS DOUBLE)
                 / CAST(sum({money4_sql("volume")}) AS DOUBLE) + 1e-9, 6) AS mkt_share,
           count(*) AS n_items
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      JOIN region r   ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'AMERICA'
    )
    GROUP BY o_year
    """,
)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one nation's share of a region's market per
    year. Fact table scanned once; both dimension chains (customer →
    nation → region, supplier → nation) pre-collapse to slim relations
    the planner joins by size (broadcast at test SF)."""
    li, orders, customer, nation, region, supplier = _prep(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region", "supplier"
    )
    cust_in_region = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "AMERICA")
        .select("c_custkey")
    )
    ords = (
        orders.join(cust_in_region, orders.o_custkey == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    )
    supp_n = supplier.join(nation, supplier.s_nationkey == nation.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    j = li.join(ords, li.l_orderkey == ords.o_orderkey).join(
        supp_n, li.l_suppkey == supp_n.s_suppkey
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    def exact(c):
        return F.sum(money4(c)).cast("double")

    return j.groupBy("o_year").agg(
        F.round(
            exact(F.when(F.col("supp_nation") == "NATION_0", volume).otherwise(F.lit(0.0)))
            / exact(volume)
            + F.lit(1e-9),
            6,
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q9_product_profit",
    f"""
    SELECT ns.n_name AS nation,
           year(o.o_orderdate) AS o_year,
           {money_sum_sql("l.l_extendedprice * (1 - l.l_discount) - 0.5 * p.p_retailprice * l.l_quantity")} AS sum_profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE 'red%'
    GROUP BY ns.n_name, year(o.o_orderdate)
    """,
)
def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: profit by supplier nation x order year for a
    part family; retail price stands in for supply cost (no partsupp
    table in this dataset). The part filter prunes fact rows in the
    first join; strategies are planner-chosen by side size."""
    li, part, supplier, nation, orders = _prep(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "orders"
    )
    red_parts = part.filter(F.col("p_name").like("red%")).select(
        "p_partkey", "p_retailprice"
    )
    supp_n = supplier.join(nation, supplier.s_nationkey == nation.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    j = (
        li.join(red_parts, li.l_partkey == red_parts.p_partkey)
        .join(supp_n, li.l_suppkey == supp_n.s_suppkey)
        .join(
            orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            li.l_orderkey == F.col("o_orderkey"),
        )
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return j.groupBy("nation", "o_year").agg(money_sum(profit).alias("sum_profit"))


@query(
    "q12_priority_by_status",
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
)
def q_q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: urgent-vs-other order counts per lineitem
    status for one ship year (linestatus stands in for shipmode, which
    this dataset lacks). Conditional-aggregation join shape."""
    orders, li = _prep(spark, sf_dir, "orders", "lineitem")
    j = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).join(orders.select("o_orderkey", "o_orderpriority"),
           F.col("l_orderkey") == F.col("o_orderkey"))
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
    )


@query(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: supplier(s) with the quarter's max revenue.
    The max is a one-row broadcast scalar joined back against the
    aggregate — no second scan of the fact table. Revenue is the
    order-free decimal money sum, so the equality predicate is exact."""
    li, supplier = _prep(spark, sf_dir, "lineitem", "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    top = rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx")).select(
        "supplier_no", "total_revenue"
    )
    return (
        supplier.join(F.broadcast(top), supplier.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_part_variety",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'MEDIUM'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct-supplier variety per part attribute
    combo (lineitem is the part-supplier link; no partsupp table).
    count(DISTINCT) expands to a two-stage partial dedup + count."""
    li, part = _prep(spark, sf_dir, "lineitem", "part")
    parts = part.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    j = li.join(parts, li.l_partkey == parts.p_partkey)
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS min_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), ranked AS (
      SELECT l_partkey, l_suppkey, min_price,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY min_price, l_suppkey) AS rn
      FROM costs
    )
    SELECT p.p_partkey, p.p_name, s.s_name, r.min_price
    FROM ranked r
    JOIN part p     ON r.l_partkey = p.p_partkey
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rn = 1 AND p.p_size <= 10
    """,
)
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: the cheapest supplier per small part (observed
    min sale price stands in for ps_supplycost). The correlated-min
    subquery becomes a window argmin with a unique suppkey tiebreak;
    min() copies an input value, so cross-engine equality is exact."""
    li, part, supplier = _prep(spark, sf_dir, "lineitem", "part", "supplier")
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )
    w = Window.partitionBy("l_partkey").orderBy("min_price", "l_suppkey")
    best = costs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    small = part.filter(F.col("p_size") <= 10).select("p_partkey", "p_name")
    return (
        best.join(small, best.l_partkey == small.p_partkey)
        .join(supplier, best.l_suppkey == supplier.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "min_price")
    )


@query(
    "q20_volume_suppliers",
    f"""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM (
        SELECT l.l_suppkey,
               {money_sum_sql("l.l_quantity")} AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'red%'
        GROUP BY l.l_suppkey
      ) pq
      WHERE pq.l_suppkey = s.s_suppkey AND pq.qty > 2200
    )
    """,
)
def q_q20_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: suppliers who moved serious volume of a part
    family (shipped quantity stands in for partsupp availability). The
    EXISTS collapses to a left-semi join against a pre-aggregated,
    pre-filtered build side."""
    li, part, supplier = _prep(spark, sf_dir, "lineitem", "part", "supplier")
    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    pq = (
        li.join(red, li.l_partkey == red.p_partkey)
        .groupBy("l_suppkey")
        .agg(money_sum(F.col("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 2200)
    )
    return supplier.join(
        pq, supplier.s_suppkey == pq.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "q21_sole_late_supplier",
    """
    WITH li_o AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 1000 DAY
                  THEN 1 ELSE 0 END AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late_supp
      FROM li_o GROUP BY l_orderkey
    ), waiting AS (
      SELECT DISTINCT li_o.l_orderkey, li_o.l_suppkey
      FROM li_o JOIN per_order p ON li_o.l_orderkey = p.l_orderkey
      WHERE li_o.is_late = 1 AND p.n_supp > 1 AND p.n_late_supp = 1
    )
    SELECT s.s_name, count(*) AS numwait
    FROM waiting w JOIN supplier s ON w.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
)
def q_q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: suppliers who were the ONLY late shipper on
    multi-supplier orders (ship lag vs order date stands in for
    commit/receipt dates). The EXISTS / NOT-EXISTS pair becomes one
    per-order aggregate joined back — a single extra shuffle instead of
    two correlated scans of the fact table."""
    li, orders, supplier = _prep(spark, sf_dir, "lineitem", "orders", "supplier")
    li_o = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 1000 DAYS")
        ).cast("int").alias("is_late"),
    )
    # one pass over the fact join: when exactly one supplier is late,
    # max(case when late then suppkey) IS that supplier — no second
    # lineitem scan for the candidate rows. The two count(DISTINCT)s
    # would expand every row 3x; pre-reducing to one row per (order,
    # supplier) makes the per-order aggregate expand-free, and the
    # second shuffle is a prefix of the first key so AQE keeps it local.
    per_supp = li_o.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("late").alias("n_late_supp"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("l_suppkey"),
    )
    waiting = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    ).select("l_orderkey", "l_suppkey")
    return (
        waiting.join(supplier, waiting.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# FIR-EWMA smoothing + map-function gallery
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
    "map_ops_events",
    """
    SELECT event_id,
           event_type AS type_val,
           2 AS n_keys,
           'k,type' AS keys_sorted,
           (CASE WHEN event_type LIKE 'c%' THEN 1 ELSE 0 END) AS n_c_vals
    FROM events
    """,
)
def q_map_ops_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed scalar functions (SURVEY.md §2.2 scalar-function row):
    build a map from event fields, then element_at / map_keys /
    map_filter / size over it. The oracle computes the expected values
    directly from the source columns — it checks that Spark's map
    semantics reduce to the right scalars, since DuckDB's MAP type
    cannot round-trip through the hash compare."""
    (events,) = _prep(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("k"), F.get_json_object("props", "$.k"),
    )
    return events.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.size(F.map_filter(m, lambda k, v: v.like("c%"))).alias("n_c_vals"),
    )


@query(
    "q11_important_stock",
    f"""
    WITH pv AS (
      SELECT l_partkey,
             {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS part_value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, part_value
    FROM pv
    WHERE part_value > (SELECT sum(part_value) * 0.0007 FROM pv)
    """,
)
def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: parts whose traded value exceeds a fraction of
    the corpus total (lineitem value stands in for partsupp stock
    value). The global-total scalar subquery is a one-row broadcast over
    the already-aggregated per-part values — the fact table is scanned
    once. Completes the full 22-shape TPC-H sweep."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "part_value"
        )
    )
    thr = pv.agg((F.sum("part_value") * 0.0007).alias("thr"))
    return pv.join(F.broadcast(thr), pv.part_value > F.col("thr")).select(
        "l_partkey", "part_value"
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


# =========================================================================
# Grouping sets & multi-dimensional layout (SURVEY.md §2.2 aggregations;
# scale: z-order data skipping, the multi-column generalization of the
# reference's 2-h header-time block addressing)
# =========================================================================


@query(
    "grouping_sets_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n,
           {money_sum_sql("o_totalprice")} AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-hierarchical GROUPING SETS — ((status), (priority), ()) is
    expressible by neither ROLLUP nor CUBE (no (status, priority) cell).
    Spark expands the sets into one Expand + single hash aggregate: one
    shuffle regardless of how many sets, which is why grouping sets beat
    N separate groupBy+union jobs at 100 TB. gid = grouping-flag bitmask
    distinguishes the all-NULL total row from NULL-valued keys."""
    (orders,) = _prep(spark, sf_dir, "orders")
    gid = (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")).cast(
        "long"
    )
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        gid.alias("gid"),
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("o_totalprice")).alias("sum_price"),
    )


_ZORDER_DIMS_SQL = ["l_partkey % 256", "l_suppkey % 256"]


@query(
    "zorder_cluster_stats",
    f"""
    WITH z AS (
      SELECT {layout.zorder_key_sql(_ZORDER_DIMS_SQL, bits=8)} AS zkey,
             l_partkey % 256 AS px, l_suppkey % 256 AS sx
      FROM lineitem
    )
    SELECT zkey >> 10 AS zbucket, count(*) AS n,
           min(px) AS px_min, max(px) AS px_max,
           min(sx) AS sx_min, max(sx) AS sx_max
    FROM z GROUP BY zbucket ORDER BY zbucket
    """,
)
def q_zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering quality: interleave 8 bits each of
    two join keys, cut the key space into 64 buckets, and show that each
    bucket spans ≤ 1/8 of BOTH key domains — the locality that lets
    parquet min/max stats prune multi-column predicates after
    :func:`operators.layout.cluster_by_zorder` writes the table in zkey
    order. The key is pure codegen bit math (no UDF); the oracle runs
    the identical arithmetic generated from the same helper."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    px = (F.col("l_partkey") % 256).alias("px")
    sx = (F.col("l_suppkey") % 256).alias("sx")
    z = li.select(
        layout.zorder_key([F.col("l_partkey") % 256, F.col("l_suppkey") % 256],
                          bits=8).alias("zkey"),
        px,
        sx,
    )
    return (
        z.groupBy(F.shiftright("zkey", 10).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("px").alias("px_min"),
            F.max("px").alias("px_max"),
            F.min("sx").alias("sx_min"),
            F.max("sx").alias("sx_max"),
        )
        .orderBy("zbucket")
    )


# =========================================================================
# Event analytics (funnel / cohort — the product-analytics shapes a
# training-data/event pipeline runs over the `events` stream)
# =========================================================================


@query(
    "funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS view_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS click_ts
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.view_ts
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
           1 + (CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END)
             + (CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END) AS stage
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    ORDER BY v.user_id
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: each stage is the
    earliest qualifying event strictly after the previous stage's
    timestamp. ONE scan of events and ONE shuffle on user_id: the three
    stage timestamps are chained conditional mins over the same
    whole-partition window (each refers to the previous stage's column,
    so they stack as Window nodes on a single exchange), and the final
    per-user reduction reuses that partitioning. The join formulation
    of the same funnel read events four times and shuffled eleven."""
    (ev,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    d = (
        ev.select("user_id", "ts", "event_type")
        .withColumn(
            "view_ts",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "click_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("view_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "purchase_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("click_ts")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    stage = (
        F.lit(1)
        + F.when(F.col("click_ts").isNotNull(), 1).otherwise(0)
        + F.when(F.col("purchase_ts").isNotNull(), 1).otherwise(0)
    )
    return (
        d.filter(F.col("view_ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.first("view_ts").alias("view_ts"),
            F.first("click_ts").alias("click_ts"),
            F.first("purchase_ts").alias("purchase_ts"),
        )
        .select("user_id", "view_ts", "click_ts", "purchase_ts", stage.alias("stage"))
        .orderBy("user_id")
    )


@query(
    "cohort_retention",
    """
    WITH f AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS event_week FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.event_week) / 7 AS BIGINT)
             AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: cohort = week of a user's first
    event; count distinct users active in each subsequent week. The
    (user, week) distinct pass pre-shrinks the join input so the
    count-distinct aggregates rows ≈ users × active-weeks, not raw
    events — the difference between feasible and not at 100 TB."""
    (ev,) = _prep(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    a = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("event_week")
    ).distinct()
    j = a.join(f, "user_id").select(
        "cohort_week",
        (F.datediff("event_week", "cohort_week") / 7).cast("long").alias(
            "week_offset"
        ),
        "user_id",
    )
    return (
        j.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_oracle_sql() -> str:
    aggs = ", ".join(
        f"count({c}) AS nn_{c}, count(DISTINCT {c}) AS nd_{c}" for c in _PROFILE_COLS
    )
    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, n_rows, n_rows - nn_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct FROM s"
        for c in _PROFILE_COLS
    )
    return f"""
    WITH s AS (SELECT count(*) AS n_rows, {aggs} FROM orders)
    SELECT * FROM ({arms}) ORDER BY col_name
    """


@query("profile_orders", _profile_oracle_sql())
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data profiler: row count, null count, and exact
    distinct count for every column of a table, unpivoted to one row
    per column (stack). One job — Spark expands the multi-column
    count-distinct into one Expand + aggregate rather than N scans.
    At 100 TB swap count_distinct for approx_count_distinct (see
    agg_approx_distinct) to drop the Expand multiplier; the Spark and
    oracle sides are generated from the same column list."""
    (orders,) = _prep(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"nd_{c}"))
    row = orders.agg(*aggs)
    stack = "stack({n}, {args}) as (col_name, n_non_null, n_distinct)".format(
        n=len(_PROFILE_COLS),
        args=", ".join(f"'{c}', nn_{c}, nd_{c}" for c in _PROFILE_COLS),
    )
    return (
        row.select("n_rows", F.expr(stack))
        .select(
            "col_name",
            "n_rows",
            (F.col("n_rows") - F.col("n_non_null")).alias("n_nulls"),
            "n_distinct",
        )
        .orderBy("col_name")
    )


@query(
    "histogram_prices",
    """
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def q_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width numeric histogram by floor-division bucketing — a
    map-side expression + one aggregate shuffle; the shape scales to any
    row count because cardinality is bounded by the bucket count."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 25000).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("bucket")
    )


@query(
    "ts_interpolate_linear",
    """
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
    s1 AS (SELECT user_id, grid_ts, value AS slot_value FROM slot WHERE rn = 1),
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
    gauge-type signals. Grid join + one window shuffle; the interpolation
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


# =========================================================================
# Streaming replay (batch-stream parity, oracle-exact) & anomaly scan
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


@query(
    "skew_salted_agg",
    f"""
    WITH r AS (
      SELECT event_type,
             {money4_sql("value")} AS r4
      FROM events
    )
    SELECT event_type,
           round(CAST(min(r4) AS DOUBLE) + 1e-9, 4) AS min_value,
           round(CAST(max(r4) AS DOUBLE) + 1e-9, 4) AS max_value,
           count(*) AS n_samples,
           CAST(round(sum(r4), 2) AS DOUBLE) AS sum_value,
           round(CAST(sum(r4) AS DOUBLE) / count(*) + 1e-9, 6) AS avg_value
    FROM r GROUP BY event_type
    """,
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators.skew.salted_summary) on
    a low-cardinality hot key: shard each key into 16 salt buckets,
    partially aggregate per (key, salt), then combine — the explicit
    fix when one key's post-combine state still overwhelms a single
    reducer at 100 TB. Values are 4-dp decimal so the two-phase sum is
    EXACTLY the direct groupBy sum (order-free), which is what lets a
    plain single-phase oracle verify the salted plan."""
    from gibbon_spark.operators import skew

    (ev,) = _prep(spark, sf_dir, "events")
    r4 = money4(F.col("value"))
    s = skew.salted_summary(
        ev.select("event_type", r4.alias("r4")),
        ["event_type"],
        value="r4",
        salt_buckets=16,
    )
    return s.select(
        "event_type",
        F.round(F.col("min_value").cast("double") + F.lit(1e-9), 4).alias(
            "min_value"
        ),
        F.round(F.col("max_value").cast("double") + F.lit(1e-9), 4).alias(
            "max_value"
        ),
        "n_samples",
        F.round(F.col("sum_value"), 2).cast("double").alias("sum_value"),
        F.round(
            F.col("sum_value").cast("double") / F.col("n_samples") + F.lit(1e-9),
            6,
        ).alias("avg_value"),
    )


@query(
    "event_transitions",
    """
    WITH t AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
      FROM t WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           round(n_transitions / sum(n_transitions) OVER (PARTITION BY prev_type), 6)
             AS p_transition
    FROM c
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() on the (user, time) ordering, then a global
    (prev, next) count and a per-prev normalizing window. Two shuffles
    total — one on user_id for the sequence, one on the transition
    pair — both on keys whose cardinality is bounded by the event-type
    vocabulary, so the plan is skew-safe at any row count."""
    (ev,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    t = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", prev)
        .filter(F.col("prev_type").isNotNull())
    )
    c = t.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wp = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wp), 6
        ).alias("p_transition"),
    )


@query(
    "streaming_sessions",
    """
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
    """,
)
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


# =========================================================================
# Keyed maintenance (MERGE / SCD2) and iterative graph analytics
# =========================================================================


@query(
    "merge_scd2_customers",
    """
    WITH base AS (
      SELECT c_custkey,
             c_mktsegment AS segment,
             round(c_acctbal + 1e-9, 2) AS acctbal
      FROM customer
    )
    SELECT c_custkey, segment, acctbal, 1 AS version,
           (c_custkey % 4 <> 0) AS is_current
    FROM base
    UNION ALL
    SELECT c_custkey,
           CASE WHEN c_custkey % 8 = 0 THEN 'MACHINERY' ELSE segment END,
           round(acctbal + 100.0, 2), 2, TRUE
    FROM base WHERE c_custkey % 4 = 0
    UNION ALL
    SELECT c_custkey + 10000000, 'AUTOMOBILE', 0.0, 1, TRUE
    FROM base WHERE c_custkey % 10 = 7
    """,
)
def q_merge_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 MERGE over the customer dimension via
    ``operators.merge.scd2_apply``: a deterministic change batch
    (acctbal drift on keys %4==0, a no-op slice %4==1 that must vanish,
    brand-new keys %10==7) against the standing dim. The operator's
    changed/closed/no-op/insert branches are all equi-joins on the key
    — one shuffle partitioning of each side, sort-merge at 100 TB —
    and the oracle reconstructs the exact post-merge state
    declaratively, so every branch is value-hash checked."""
    (customer,) = _prep(spark, sf_dir, "customer")
    base = customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") + F.lit(1e-9), 2).alias("acctbal"),
    )
    dim = base.select(
        "c_custkey", "segment", "acctbal",
        F.lit(1).alias("version"), F.lit(True).alias("is_current"),
    )
    changed = base.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 8 == 0, F.lit("MACHINERY"))
        .otherwise(F.col("segment"))
        .alias("segment"),
        F.round(F.col("acctbal") + F.lit(100.0), 2).alias("acctbal"),
    )
    noop = base.filter(F.col("c_custkey") % 4 == 1).select(
        "c_custkey", "segment", "acctbal"
    )
    inserts = base.filter(F.col("c_custkey") % 10 == 7).select(
        (F.col("c_custkey") + F.lit(10000000)).alias("c_custkey"),
        F.lit("AUTOMOBILE").alias("segment"),
        F.lit(0.0).alias("acctbal"),
    )
    updates = changed.unionByName(noop).unionByName(inserts)
    return merge_ops.scd2_apply(
        dim, updates, "c_custkey", ["segment", "acctbal"]
    )


def _pagerank_oracle_sql(iters: int) -> str:
    """Unrolled fixed-point PageRank CTE chain — generated by the same
    loop count the Spark plan uses, so the two sides cannot drift."""
    sql = """
    WITH edges AS (
      SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
    en AS (SELECT e.src, e.dst, (e.w * 1000000) // o.out_w AS wn
           FROM edges e JOIN outw o ON e.src = o.src),
    meta AS (SELECT n_nationkey AS node,
                    (SELECT count(*) FROM nation) AS n_nodes
             FROM nation),
    pr0 AS (SELECT node, 1000000000000 // n_nodes AS pr, n_nodes FROM meta)"""
    for i in range(1, iters + 1):
        sql += f""",
    inc{i} AS (SELECT en.dst AS node,
                      CAST(sum((p.pr * en.wn) // 1000000) AS BIGINT) AS s
               FROM en JOIN pr{i - 1} p ON en.src = p.node GROUP BY en.dst),
    pr{i} AS (SELECT m.node,
                     (15000000000000 // (100 * m.n_nodes))
                       + ((85 * coalesce(i.s, 0)) // 100) AS pr,
                     m.n_nodes
              FROM meta m LEFT JOIN inc{i} i ON m.node = i.node)"""
    sql += f"""
    SELECT n_name AS nation, pr AS pr_scaled
    FROM pr{iters} JOIN nation ON node = n_nationkey"""
    return sql


_PAGERANK_ITERS = 5


@query("pagerank_nations", _pagerank_oracle_sql(_PAGERANK_ITERS))
def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (damping 0.85, 5 synchronous iterations) over
    the nation trade graph — edge (supplier_nation -> customer_nation)
    weighted by lineitem count. All arithmetic is fixed-point BIGINT
    (rank scaled by 1e12, edge weights pre-normalized to 1e6 so no
    product exceeds 1e18 at ANY data scale): integer `div` + order-free
    integer sums mean the result is bit-exact at any parallelism — no
    float accumulation to reorder. The one scale-heavy step is the
    4-way join building the 625-row edge list (one pass over lineitem,
    sort-merge at 100 TB); the iterations then run on the persisted
    edge list with the 25-row rank vector broadcast per step (bounded
    side: nation count), so iteration cost is independent of SF."""
    nation, customer, supplier, orders, lineitem = _prep(
        spark, sf_dir, "nation", "customer", "supplier", "orders", "lineitem"
    )
    edges = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy("s_nationkey", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
            "w",
        )
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    # r12 (guide §1.2 "the distributed algorithm" + the embedding_top_pc
    # precedent): the ONLY scale-heavy stage is the 4-way join that
    # reduces lineitem to the nation-graph edge list — ≤ 625 rows at ANY
    # data scale (nation × nation is schema-bounded, like the 64×64 Gram
    # in embedding_top_pc). The 5 synchronous iterations previously ran
    # as 5 broadcast-join + aggregate jobs plus per-round eager
    # checkpoints over that 625-row table — ~11 scheduler round-trips of
    # pure fixed cost, SF-independent but never free. The iterations are
    # exact fixed-point BIGINT arithmetic (order-free integer sums,
    # floor `div`), so running them driver-side on the collected edge
    # list is bit-identical to the distributed plan — same class of
    # bounded-driver-state fold as embedding_top_pc's power iteration
    # (~15 KB here). Interleaved same-session A/B at sf0.1 and
    # row-exactness vs the old plan: see OPTIMIZATION_r12.md.
    en_rows = (
        edges.join(outw, "src")
        .select("src", "dst", F.expr("(w * 1000000) div out_w").alias("wn"))
        .collect()
    )
    node_rows = nation.select("n_nationkey", "n_name").collect()
    n_nodes = len(node_rows)
    nodes = [int(r["n_nationkey"]) for r in node_rows]
    # referential integrity guard: an edge endpoint outside nation would
    # have been dropped by the old plan's inner/left joins on node
    node_set = set(nodes)
    en_list = [
        (int(r["src"]), int(r["dst"]), int(r["wn"]))
        for r in en_rows
        if int(r["src"]) in node_set and int(r["dst"]) in node_set
    ]
    pr = {nd: 1_000_000_000_000 // n_nodes for nd in nodes}
    base = 15_000_000_000_000 // (100 * n_nodes)
    for _ in range(_PAGERANK_ITERS):
        s = dict.fromkeys(nodes, 0)
        for src, dst, wn in en_list:
            # per-edge floor division BEFORE the sum — mirrors the
            # distributed `(pr * wn) div 1000000` then SUM exactly
            s[dst] += (pr[src] * wn) // 1_000_000
        pr = {nd: base + (85 * s[nd]) // 100 for nd in nodes}
    return spark.createDataFrame(
        [(str(r["n_name"]), pr[int(r["n_nationkey"])]) for r in node_rows],
        "nation string, pr_scaled long",
    )


# =========================================================================
# Monitoring-TSDB analytics: counter rate, OHLC bars, rolling median, mode
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
    "agg_mode_per_key",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type AS modal_type, n AS n_occurrences FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY n DESC, event_type) AS rnk
      FROM c
    ) WHERE rnk = 1
    """,
)
def q_agg_mode_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key mode (most frequent event_type, ties
    broken lexicographically — Spark's built-in ``mode()`` leaves ties
    undefined, so this is the portable form). Count-then-rank: the
    count pre-aggregation shrinks the window input to one row per
    (key, value) pair, so the rank pass is tiny regardless of row
    count; WindowGroupLimit prunes to the top row per key before the
    final filter."""
    (events,) = _prep(spark, sf_dir, "events")
    c = events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("n").alias("n_occurrences"),
        )
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
    "window_rolling_distinct",
    """
    SELECT event_id, user_id,
           count(DISTINCT event_type)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
             AS distinct_types_10
    FROM events
    """,
)
def q_window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count over a trailing 10-row frame per series —
    behavioral-diversity signal (how many event kinds in the user's
    last 10 actions). Spark has no DISTINCT window aggregate, so this
    composes collect_list → array_distinct → size inside one window
    pass; O(frame) per row, fine for small frames. For wide frames at
    100 TB switch to approx_count_distinct over a time-bucketed
    rollup. One shuffle on the series key."""
    (events,) = _prep(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w))).alias(
            "distinct_types_10"
        ),
    )


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


@query(
    "null_semantics_gallery",
    f"""
    WITH o AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS p,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderpriority END AS pr
      FROM orders
    )
    SELECT count(*) AS n_rows,
           count(p) AS n_nonnull_p,
           CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_p,
           CAST(sum(CASE WHEN pr IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_null_safe_eq,
           count(DISTINCT pr) AS n_distinct_pr,
           {exact_avg_sql("p")} AS avg_skipnull,
           {money_sum_sql("coalesce(p, 0)")}
             AS sum_coalesced
    FROM o
    """,
)
def q_null_semantics_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling semantics pinned against the oracle: COUNT(col)
    vs COUNT(*), null-skipping AVG, null-safe equality (<=>), DISTINCT
    over a nullable key, COALESCE into an exact sum. Nulls are
    injected deterministically (pure function of o_orderkey) since the
    test tables ship fully dense. Single aggregation, no shuffle
    beyond the one-row reduce."""
    (orders,) = _prep(spark, sf_dir, "orders")
    o = orders.select(
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("p"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("pr"),
    )
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("p").alias("n_nonnull_p"),
        F.sum(F.when(F.col("p").isNull(), 1).otherwise(0)).alias("n_null_p"),
        F.sum(
            F.when(F.col("pr").eqNullSafe(F.lit(None)), 1).otherwise(0)
        ).alias("n_null_safe_eq"),
        F.count_distinct(F.col("pr")).alias("n_distinct_pr"),
        exact_avg(F.col("p")).alias("avg_skipnull"),
        money_sum(F.coalesce(F.col("p"), F.lit(0))).alias("sum_coalesced"),
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
    "skew_salted_join",
    f"""
    SELECT p.p_brand,
           count(*) AS n_items,
           {money_sum_sql("l.l_extendedprice")} AS sum_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-proof fact-dim join via explicit salting
    (operators.skew.salted_join): the fact side shards each key over 16
    salt buckets and the dim side replicates once per bucket, so a
    pathologically hot part key spreads over 16 reducers instead of
    melting one. Result is row-identical to the plain equi-join — the
    oracle IS the plain join — and the per-brand rollup re-aggregates
    order-free decimal sums. Use when AQE skew-splitting can't apply
    (first-shuffle skew, stateful sinks); elsewhere let AQE do it."""
    li, part = _prep(spark, sf_dir, "lineitem", "part")
    dim = part.select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    joined = skew_ops.salted_join(
        li.select("l_partkey", "l_extendedprice"), dim, "l_partkey"
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        money_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


@query(
    "events_dau_wau",
    """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    span AS (
      SELECT du.day + (7 - 1 - k.k) * INTERVAL 1 DAY AS wday, du.user_id
      FROM du CROSS JOIN (SELECT unnest(range(7)) AS k) k
    ),
    wau AS (
      SELECT CAST(wday AS DATE) AS day, count(DISTINCT user_id) AS wau
      FROM span GROUP BY 1
    )
    SELECT dau.day, dau.dau, wau.wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau + 1e-9, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth analytics: daily active users and trailing-7-day active
    users (WAU ending each day) + the DAU/WAU stickiness ratio. The
    (day, user) set is deduped ONCE (the only big shuffle), then each
    active day fans out to the 7 window-end days it contributes to —
    explode-by-7 on the already-tiny distinct set, never on raw
    events. Exact distincts; at 100 TB swap the WAU distinct for HLL
    sketch union per day. Only days with a DAU row are reported (the
    join drops window-end days with no activity of their own)."""
    (events,) = _prep(spark, sf_dir, "events")
    du = events.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    span = du.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda k: F.date_add(F.col("day"), 6 - k),
            )
        ).alias("wday"),
        "user_id",
    )
    wau = span.groupBy(F.col("wday").alias("day")).agg(
        F.count_distinct("user_id").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(
            F.col("dau").cast("double") / F.col("wau") + F.lit(1e-9), 6
        ).alias("stickiness"),
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


@query(
    "percentiles_by_group",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(quantile_cont(o_totalprice, 0.25) + 1e-9, 6) AS p25,
           round(quantile_cont(o_totalprice, 0.5) + 1e-9, 6) AS median,
           round(quantile_cont(o_totalprice, 0.95) + 1e-9, 6) AS p95
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_percentiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles PER GROUP (the global variant is
    percentiles_prices). Spark's percentile() is a holistic aggregate:
    each group's values collect on one reducer — fine for bounded
    group counts like order priorities; for high-cardinality or
    skewed keys at 100 TB switch to approx_percentile (t-digest,
    mergeable partials)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.expr("percentile(o_totalprice, 0.25)") + F.lit(1e-9), 6).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.5)") + F.lit(1e-9), 6).alias("median"),
        F.round(F.expr("percentile(o_totalprice, 0.95)") + F.lit(1e-9), 6).alias("p95"),
    )


@query(
    "percentiles_by_group_approx",
    """
    SELECT o_custkey,
           count(*) AS n_orders,
           quantile_disc(o_totalprice, 0.5) AS median_price,
           quantile_disc(o_totalprice, 0.95) AS p95_price
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_percentiles_by_group_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT grouped-percentile path for unbounded key
    cardinality: approx_percentile's Greenwald-Khanna sketch is a
    mergeable partial aggregate (map-side combine, one shuffle of
    O(sketch) state per key — no per-group holistic value collection),
    so a high-cardinality key like o_custkey is safe where
    percentiles_by_group's exact percentile() would put every group's
    full value list on one reducer. Oracle-EXACT, not invariant-based:
    GK with accuracy 10000 is provably exact below 10000 values per
    group, and both engines take the lower-rank element (verified
    convention match vs DuckDB quantile_disc), so per-customer order
    prices hash bit-for-bit. percentiles_by_group stays as the
    bounded-key exact-interpolation twin."""
    (orders,) = _prep(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("median_price"),
        F.percentile_approx("o_totalprice", 0.95, 10000).alias("p95_price"),
    )


@query(
    "revenue_concentration",
    f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum({money4_sql("o_totalprice")}) AS DOUBLE) AS s
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT s,
             row_number() OVER (ORDER BY s DESC, o_custkey) AS rn,
             count(*) OVER () AS n,
             CAST(sum(CAST(s AS DECIMAL(24,4))) OVER () AS DOUBLE)
               AS total
      FROM spend
    )
    SELECT CASE WHEN rn * 10 <= n THEN 'top_10pct'
                WHEN rn * 2 <= n THEN 'next_40pct'
                ELSE 'bottom_50pct' END AS cohort,
           count(*) AS n_customers,
           round(CAST(sum(CAST(s AS DECIMAL(24,4))) AS DOUBLE) / max(total)
                 + 1e-9, 6) AS revenue_share
    FROM ranked
    GROUP BY 1
    """,
)
def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: what share of revenue comes from the
    top-10% / next-40% / bottom-50% of customers, with the SAME exact
    rank semantics as the oracle's global row_number but NO
    single-partition window anywhere in the plan (r01 VERDICT #5):

    - global rank = TWO-LEVEL rank: ``repartitionByRange`` on
      (s desc, custkey) splits the per-customer frame into ordered
      range partitions; ``row_number`` runs per range partition
      (bounded n/P rows each), and each partition's global offset
      comes from a P-row count table joined back by broadcast —
      ``rank = offset + local_rank`` reproduces the global
      ``row_number`` exactly because range partitions are totally
      ordered between themselves.
    - the global count/total that the old plan computed with
      ``count/sum OVER ()`` (also a whole-frame window) now come from
      a 1-row scalar aggregate broadcast-joined on a constant key — a
      broadcast hash join, not a nested loop.

    Per-customer spend stays one keyed aggregation with exact decimal
    sums; the cohort division happens once per cohort with identical
    operand doubles on both engines."""
    (orders,) = _prep(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(money4(F.col("o_totalprice")))
        .cast("double")
        .alias("s")
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # local ranks and partition offsets both read this frame; checkpoint
    # it once so the orders scan + spend aggregate + range shuffle don't
    # replay per consumer (ReuseExchange does NOT fire here — the two
    # consumers project differently; verified reused:0 in the executed
    # plan), and both sides see one pinned partition layout.
    by_range = (
        spend.repartitionByRange(n_parts, F.desc("s"), F.asc("o_custkey"))
        .withColumn("_pid", F.spark_partition_id())
        .transform(materialize, eager=False)
    )
    w_local = Window.partitionBy("_pid").orderBy(F.desc("s"), F.asc("o_custkey"))
    local = by_range.withColumn("_lrn", F.row_number().over(w_local))
    # P rows: per-range-partition count + exact-decimal revenue. The
    # cumulative offset AND the global n/total all ride windows over
    # these P rows (tiny by construction), so the per-customer frame
    # needs exactly ONE broadcast hash join on _pid — no constant-key
    # join (which Catalyst folds to a nested loop) and no whole-frame
    # window over the data.
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all_p = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        by_range.groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.sum(F.col("s").cast("decimal(24,4)")).alias("_ssum"),
        )
        .withColumn("_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)))
        .withColumn("n", F.sum("_cnt").over(w_all_p))
        .withColumn("total", F.sum("_ssum").over(w_all_p).cast("double"))
        .select("_pid", "_off", "n", "total")
    )
    ranked = local.join(F.broadcast(offsets), "_pid").withColumn(
        "rn", F.col("_off") + F.col("_lrn")
    )
    cohort = (
        F.when(F.col("rn") * 10 <= F.col("n"), "top_10pct")
        .when(F.col("rn") * 2 <= F.col("n"), "next_40pct")
        .otherwise("bottom_50pct")
    )
    return ranked.groupBy(cohort.alias("cohort")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum(F.col("s").cast("decimal(24,4)")).cast("double")
            / F.max("total")
            + F.lit(1e-9),
            6,
        ).alias("revenue_share"),
    )
