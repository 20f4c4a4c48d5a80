"""Relational queries: the TPC-H-shaped suite, join kinds, set operations,
grouping sets, window functions, the scalar / array / map / JSON /
variant function galleries, keyed maintenance (MERGE / SCD2,
incremental views), skew handling, entity and spatial joins, and
recursive CTEs.
"""

from __future__ import annotations

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
from gibbon_spark.registry import _prep, query
from gibbon_spark.worker import drop_spark_archives


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
# Subqueries, q6, string aggregation, window frames, unpivot, full
# outer join
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
# Deeper analytical shapes (TPC-H q2-q22 analogs) and the map-function
# gallery
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


_Q17_SQL = """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_items
    FROM lineitem l
    WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """


@query("q17_small_quantity", _Q17_SQL)
def q_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: correlated scalar subquery — Catalyst rewrites
    it to an aggregate + join on the correlation key (one shuffle on
    l_partkey), not a per-row subplan. The identical SQL text runs on
    both engines."""
    for name, df in zip(["lineitem"], _prep(spark, sf_dir, "lineitem")):
        df.createOrReplaceTempView(name)
    return spark.sql(_Q17_SQL)


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
# Salted skew handling, keyed maintenance (MERGE / SCD2), rolling
# distinct counts, null semantics
# =========================================================================


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


# =========================================================================
# Incremental materialized-view maintenance (partial-aggregate merge)
# =========================================================================


_MV_CUTOFF = "2001-01-01 00:00:00"


@query(
    "mv_incremental_refresh",
    f"""
    SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
           count(*) AS n_orders,
           {money_sum_sql("o_totalprice")} AS revenue
    FROM orders
    GROUP BY 1
    """,
)
def q_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the daily-revenue MV is
    maintained as MERGEABLE partial aggregates (count + exact decimal
    sum), so refreshing after new data lands costs one pass over the
    DELTA plus a merge keyed on the (tiny) day frame — never a full
    recompute. Here the base (< cutoff) and the delta (>= cutoff) are
    pre-aggregated independently and merged; the oracle IS the full
    recompute, proving merge(base_partial, delta_partial) == full. At
    100 TB this is the difference between an O(delta) nightly refresh
    and an O(corpus) one; correctness rests on count/decimal-sum being
    associative-commutative monoids, which the decimal (not double) sum
    guarantees (money_sum discipline)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(money4(F.col("o_totalprice"))).alias("ps"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("pn").alias("n_orders"),
            F.round(F.sum("ps"), 2).cast("double").alias("revenue"),
        )
    )


# =========================================================================
# Window distribution functions (ntile / percent_rank / cume_dist / lead)
# =========================================================================


@query(
    "window_distribution_gallery",
    """
    SELECT o_orderkey, o_orderpriority,
           ntile(4) OVER w AS price_quartile,
           round(percent_rank() OVER w + 1e-9, 8) AS pct_rank,
           round(cume_dist() OVER w + 1e-9, 8) AS cume,
           round(lead(o_totalprice, 1, -1.0) OVER w + 1e-9, 2) AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_distribution_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-family window functions in one spec: ntile quartile,
    percent_rank, cume_dist, and lead-with-default, partitioned by order
    priority. The ORDER BY carries the unique o_orderkey tiebreak, so
    rank-derived ratios are deterministic (percent_rank/cume_dist are
    exact integer ratios — identical IEEE doubles on both engines). One
    window shuffle on a bounded-cardinality key; all four functions ride
    the same sort."""
    (orders,) = _prep(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w) + F.lit(1e-9), 8).alias("pct_rank"),
        F.round(F.cume_dist().over(w) + F.lit(1e-9), 8).alias("cume"),
        F.round(F.lead("o_totalprice", 1, -1.0).over(w) + F.lit(1e-9), 2).alias(
            "next_price"
        ),
    )


# =========================================================================
# Global running total without a whole-frame window
# =========================================================================


@query(
    "running_total_orders",
    f"""
    SELECT o_orderkey, o_orderdate,
           CAST(round(sum({money4_sql("o_totalprice")}) OVER (ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_revenue
    FROM orders
    """,
)
def q_running_total_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global cumulative revenue in (orderdate, orderkey) order — the
    oracle's single ``sum() OVER (ORDER BY ...)`` window, reproduced
    with NO whole-frame window via operators.ranking.global_running_sum
    (repartitionByRange → per-partition running sums → P-row broadcast
    offsets). The decimal value column makes the two-level association
    order irrelevant, so the result is bit-identical to the serial
    scan at any partition count — the pattern that keeps ordered
    analytics alive at 10^10 rows where a global window dies on one
    task."""
    from gibbon_spark.operators.ranking import global_running_sum

    (orders,) = _prep(spark, sf_dir, "orders")
    val = money4(F.col("o_totalprice"))
    out = global_running_sum(
        orders.select("o_orderkey", "o_orderdate", "o_totalprice"),
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        val,
        out_col="_run",
    )
    return out.select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("_run"), 2).cast("double").alias("running_revenue"),
    )


# =========================================================================
# Higher-order array functions gallery
# =========================================================================


@query(
    "array_hof_gallery",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           round(list_reduce(v, (a, b) -> a + b) + 1e-9, 6) AS sum_fold,
           round(list_reduce(list_transform(v, x -> abs(x)), (a, b) -> a + b)
                 + 1e-9, 6) AS l1_norm,
           len(list_filter(v, x -> x > 0)) AS n_pos,
           round(list_max(v) + 1e-9, 6) AS max_v,
           round(list_reduce(list_transform(range(1, len(v) + 1),
                                            i -> v[i] * v[len(v) - i + 1]),
                             (a, b) -> a + b) + 1e-9, 6) AS rev_dot
    FROM e
    """,
)
def q_array_hof_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions in one pass over the embedding
    column: aggregate (left fold — same association order as DuckDB's
    list_reduce, so the doubles are bit-identical), transform+fold (L1
    norm), filter+size, array_max, and zip_with against the reversed
    vector (a self-convolution term). All pure codegen expressions —
    the vector math stays JVM-side with zero shuffles; the scan is the
    whole plan."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    zero = F.lit(0.0)
    sum_fold = F.aggregate(v, zero, lambda acc, x: acc + x)
    l1 = F.aggregate(F.transform(v, lambda x: F.abs(x)), zero, lambda a, x: a + x)
    rev_dot = F.aggregate(
        F.zip_with(v, F.reverse(v), lambda x, y: x * y), zero, lambda a, x: a + x
    )
    return embs.select(
        "vec_id",
        F.round(sum_fold + F.lit(1e-9), 6).alias("sum_fold"),
        F.round(l1 + F.lit(1e-9), 6).alias("l1_norm"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max(v) + F.lit(1e-9), 6).alias("max_v"),
        F.round(rev_dot + F.lit(1e-9), 6).alias("rev_dot"),
    )


# =========================================================================
# spark.sql surface: the same engine through ANSI SQL over temp views
# =========================================================================


@query(
    "sql_api_nation_revenue",
    f"""
    SELECT n.n_name,
           count(DISTINCT o.o_custkey) AS n_buyers,
           {money_sum_sql("o.o_totalprice")}
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def q_sql_api_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL facade: this query is executed as a literal
    ``spark.sql`` string over registered temp views — not a DataFrame
    chain — demonstrating that every operator in the engine is equally
    reachable through ANSI SQL (same Catalyst plan either way; the
    oracle is nearly the identical text, modulo DuckDB's cast syntax).
    Users porting warehouse SQL onto this engine use exactly this
    entry point."""
    names = ("orders", "customer", "nation")
    for name, df in zip(names, _prep(spark, sf_dir, *names)):
        df.createOrReplaceTempView(f"gs_{name}")
    return spark.sql(
        f"""
        SELECT n.n_name,
               count(DISTINCT o.o_custkey) AS n_buyers,
               {money_sum_sql("o.o_totalprice")}
                 AS revenue
        FROM gs_orders o
        JOIN gs_customer c ON o.o_custkey = c.c_custkey
        JOIN gs_nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name
        """
    )


# =========================================================================
# Key-skew diagnostics (the pre-flight check before a big keyed join)
# =========================================================================


_SKEW_TOPN = 10


@query(
    "skew_key_stats",
    f"""
    WITH per_key AS (
      SELECT l_suppkey AS suppkey, count(*) AS cnt
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (
      SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total_rows,
             max(cnt) AS max_cnt
      FROM per_key
    )
    SELECT suppkey, cnt,
           round(CAST(cnt AS DOUBLE) / total_rows + 1e-9, 6) AS share,
           n_keys, total_rows,
           round(CAST(cnt AS DOUBLE) * n_keys / total_rows + 1e-9, 4)
             AS skew_ratio
    FROM per_key, tot
    ORDER BY cnt DESC, suppkey
    LIMIT {_SKEW_TOPN}
    """,
)
def q_skew_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics for a join/aggregation key (l_suppkey): the
    hottest keys with their row share and skew ratio (share x n_keys —
    1.0 means perfectly uniform, >>1 means a salting candidate). This is
    the pre-flight profile that decides between a plain shuffle join,
    AQE skew handling, or explicit salting (operators/skew.py) before
    launching a 100 TB join.

    Scale posture: one map-side-combined count per key, a 1-row global
    aggregate broadcast onto the bounded top-N (allow-listed O(n)
    nested loop), and a TakeOrdered top-10 — no global sort, no
    holistic percentile over unbounded key cardinality. All ratios are
    single-division doubles on integer-exact counts with the repo's
    +1e-9 half-boundary nudge."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
    ).drop("max_cnt")
    return (
        per_key.join(F.broadcast(tot))
        .select(
            "suppkey",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("total_rows") + F.lit(1e-9), 6
            ).alias("share"),
            "n_keys",
            "total_rows",
            F.round(
                F.col("cnt").cast("double") * F.col("n_keys") / F.col("total_rows")
                + F.lit(1e-9),
                4,
            ).alias("skew_ratio"),
        )
        .orderBy(F.col("cnt").desc(), "suppkey")
        .limit(_SKEW_TOPN)
    )


# =========================================================================
# VariantType semi-structured path (Spark 4 parse_json / variant_get)
# =========================================================================


@query(
    "variant_props_stats",
    """
    WITH v AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           count(k) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS k_sum,
           CAST(min(k) AS BIGINT) AS k_min,
           CAST(max(k) AS BIGINT) AS k_max
    FROM v GROUP BY event_type
    """,
)
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation through Spark 4's VARIANT type:
    ``parse_json`` shreds the props JSON once into the binary variant
    encoding, ``try_variant_get`` extracts the typed path — the modern
    replacement for per-expression get_json_object re-parsing (each
    get_json_object call re-parses the string; variant parses ONCE and
    every path access is a binary probe). Aggregates the extracted
    field per event type; DuckDB replays via its native JSON extract,
    so the engines' independent JSON parsers are cross-checked.

    Scale posture: parse + extract are narrow per-row expressions
    feeding one map-side-combined aggregate — scan speed at 100 TB,
    and the variant binary never shuffles (only the extracted BIGINT
    does)."""
    (events,) = _prep(spark, sf_dir, "events")
    v = events.select(
        "event_type",
        F.try_variant_get(
            F.parse_json(F.col("props")), "$.k", "bigint"
        ).alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("k_sum"),
        F.min("k").cast("bigint").alias("k_min"),
        F.max("k").cast("bigint").alias("k_max"),
    )


# =========================================================================
# Cogrouped applyInPandas: two-table per-key reconciliation
# =========================================================================


@query(
    "cogroup_order_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey AS okey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS charge_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    o AS (
      SELECT o_orderkey AS okey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
      FROM orders
    )
    SELECT o.o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN li.okey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_without_lineitems,
           CAST(sum(CASE WHEN li.okey IS NOT NULL
                          AND abs(li.charge_cents - o.total_cents) > 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           CAST(max(CASE WHEN li.okey IS NULL THEN 0
                         ELSE abs(li.charge_cents - o.total_cents) END)
                AS BIGINT) AS max_abs_diff_cents
    FROM o LEFT JOIN li ON li.okey = o.okey
    GROUP BY o.o_orderpriority
    """,
)
def q_cogroup_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table reconciliation through COGROUPED applyInPandas (the
    remaining Arrow-Python API surface: ``groupby(...).cogroup``): both
    sides of a key — orders and their lineitems — arrive in one pandas
    callback, which recomputes each order's charge from its lineitems
    (extendedprice x (1-disc) x (1+tax), floored to integer cents per
    row so the sum is order-independent and engine-exact) and compares
    it with o_totalprice. Per-priority rollup of order counts, orders
    with no lineitems, mismatches beyond 2 cents, and the worst
    discrepancy — the billing-vs-ledger consistency audit that needs
    both groups at once.

    Scale posture — cogroup KEY GRANULARITY is the lever: cogrouping on
    the raw order key would mean one Python callback per order (150k
    callbacks at sf0.1 measured ~60 s; millions at scale). Instead the
    cogroup key is a 64-way hash BUCKET of the order key: 64 callbacks,
    each receiving two Arrow batches it reconciles with one vectorized
    pandas merge, emitting per-(bucket, priority) PARTIAL aggregates
    that a 5-row JVM rollup merges. Entity-level semantics, bucket-level
    invocation cost. The oracle expresses the same result relationally
    (LEFT JOIN + aggregate), so the Arrow path is value-checked against
    the join plan."""
    import pandas as pd

    (orders, li) = _prep(spark, sf_dir, "orders", "lineitem")
    o = orders.select(
        F.col("o_orderkey").alias("okey"),
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("total_cents"),
        F.pmod(F.col("o_orderkey"), F.lit(64)).alias("b"),
    )
    l = li.select(
        F.col("l_orderkey").alias("okey"),
        F.floor(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
            * 100
            + 0.5
        )
        .cast("bigint")
        .alias("line_cents"),
        F.pmod(F.col("l_orderkey"), F.lit(64)).alias("b"),
    )

    def reconcile(odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        drop_spark_archives()
        charges = (
            ldf.groupby("okey")["line_cents"].sum().rename("charge_cents")
            if len(ldf)
            else pd.Series(dtype="int64", name="charge_cents")
        )
        m = odf.merge(charges, left_on="okey", right_index=True, how="left")
        has = m["charge_cents"].notna()
        m["diff"] = (m["charge_cents"].fillna(0) - m["total_cents"]).abs()
        m.loc[~has, "diff"] = 0
        out = (
            m.assign(
                no_li=(~has).astype("int64"),
                mism=((has) & (m["diff"] > 2)).astype("int64"),
            )
            .groupby("o_orderpriority")
            .agg(
                n_orders=("okey", "size"),
                n_without_lineitems=("no_li", "sum"),
                n_mismatched=("mism", "sum"),
                max_abs_diff_cents=("diff", "max"),
            )
            .reset_index()
        )
        out["max_abs_diff_cents"] = out["max_abs_diff_cents"].astype("int64")
        return out

    partials = o.groupby("b").cogroup(l.groupby("b")).applyInPandas(
        reconcile,
        "o_orderpriority string, n_orders bigint, n_without_lineitems bigint, "
        "n_mismatched bigint, max_abs_diff_cents bigint",
    )
    return partials.groupBy("o_orderpriority").agg(
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum("n_without_lineitems").cast("bigint").alias("n_without_lineitems"),
        F.sum("n_mismatched").cast("bigint").alias("n_mismatched"),
        F.max("max_abs_diff_cents").cast("bigint").alias("max_abs_diff_cents"),
    )


# =========================================================================
# 2D skyline (Pareto frontier): maximal (price, recency) orders
# =========================================================================


@query(
    "skyline_orders",
    """
    WITH pts AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
             max(o_orderdate) AS dt
      FROM orders GROUP BY 1
    ),
    sky AS (
      SELECT price_cents, dt FROM pts p WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.price_cents >= p.price_cents AND q.dt >= p.dt
          AND (q.price_cents > p.price_cents OR q.dt > p.dt))
    )
    SELECT s.price_cents, s.dt AS o_orderdate,
           CAST(min(o.o_orderkey) AS BIGINT) AS rep_orderkey,
           count(*) AS n_orders_at_point
    FROM sky s
    JOIN orders o
      ON CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) = s.price_cents
     AND o.o_orderdate = s.dt
    GROUP BY s.price_cents, s.dt
    """,
)
def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D skyline (Pareto frontier): orders not dominated on
    (totalprice, orderdate) — the multi-objective "best trade-offs"
    operator (max price AND max recency). The scalable plan exploits
    the skyline's DISTRIBUTIVITY: (1) collapse to one point per price
    (max date — anything else at that price is dominated), (2) local
    staircase per 64-way price bucket (descending-price window, keep
    rows whose date beats the running max), (3) merge the bounded
    candidate union with one final staircase — candidates are the sum
    of 64 local skylines (expected O(log n) each for non-pathological
    data; 8-13 points here at both gate SFs), so the final
    partition-less window runs on a provably tiny frame, the same
    bounded-merge posture as the Bloom/IVF patterns. The oracle is the
    quadratic NOT EXISTS definition — definition and plan cross-check
    each other.

    A representative order id and multiplicity are joined back per
    skyline point (broadcast of the tiny frontier)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    pts = (
        orders.select(cents.alias("price_cents"), F.col("o_orderdate"))
        .groupBy("price_cents")
        .agg(F.max("o_orderdate").alias("dt"))
    )
    sentinel = F.lit("0001-01-01").cast("date")
    bucket = F.pmod(F.col("price_cents"), F.lit(64))
    w_local = (
        Window.partitionBy("b")
        .orderBy(F.col("price_cents").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        pts.withColumn("b", bucket)
        .withColumn(
            "prev_max", F.coalesce(F.max("dt").over(w_local), sentinel)
        )
        .filter(F.col("dt") > F.col("prev_max"))
        .select("price_cents", "dt")
    )
    w_glob = Window.orderBy(F.col("price_cents").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky = (
        local.withColumn(
            "prev_max", F.coalesce(F.max("dt").over(w_glob), sentinel)
        )
        .filter(F.col("dt") > F.col("prev_max"))
        .select("price_cents", "dt")
    )
    return (
        orders.select(
            cents.alias("price_cents"),
            F.col("o_orderdate").alias("dt"),
            "o_orderkey",
        )
        .join(F.broadcast(sky), ["price_cents", "dt"])
        .groupBy("price_cents", "dt")
        .agg(
            F.min("o_orderkey").cast("bigint").alias("rep_orderkey"),
            F.count(F.lit(1)).alias("n_orders_at_point"),
        )
        .select(
            "price_cents",
            F.col("dt").alias("o_orderdate"),
            "rep_orderkey",
            "n_orders_at_point",
        )
    )


# =========================================================================
# Blocked fuzzy string matching (entity resolution)
# =========================================================================


_FUZZ_MAX_DIST = 4


@query(
    "fuzzy_match_partnames",
    f"""
    WITH n AS (
      SELECT p_name, count(*) AS cnt, str_split(p_name, ' ')[-1] AS noun
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
           a.cnt AS n_parts_a, b.cnt AS n_parts_b
    FROM n a JOIN n b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZ_MAX_DIST}
    """,
)
def q_fuzzy_match_partnames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching over part names (the entity-resolution /
    fuzzy-dedup join): collapse the corpus to its name vocabulary with
    counts, block on the last token (the product noun), and emit
    vocabulary pairs within Levenshtein distance 4.

    Scale posture: the corpus is collapsed to DISTINCT names FIRST
    (one map-side-combined aggregate), so the quadratic comparison runs
    on vocabulary size, not corpus size — the standard blocking
    discipline. The pair join is keyed on the block token (no cross
    product), and the edit-distance filter is codegen'd inside the join.
    At 100 TB the vocabulary side is broadcast-sized; row counts never
    enter the pairwise stage. Integer distances → hash-exact parity.
    """
    (part,) = _prep(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("noun", F.element_at(F.split("p_name", " "), -1))
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(dist <= _FUZZ_MAX_DIST)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("int").alias("edit_dist"),
            F.col("a.cnt").alias("n_parts_a"),
            F.col("b.cnt").alias("n_parts_b"),
        )
    )


# =========================================================================
# Grid-bucketed nearest-neighbor spatial join
# =========================================================================


_GEO_RANGE = 10000  # coordinate space [0, 10000)
# Grid resolution is DENSITY-ADAPTIVE: g = floor(sqrt(|supplier|)) cells
# per axis, i.e. ~1 supplier per cell and ~9 per 3x3 neighborhood at any
# data size, so candidate pairs stay ~9 x |customer| — LINEAR. (A first
# cut pinned cell=1000 → a fixed 10x10 grid; per-cell density then grows
# with the data and the sf1 scale gate measured the candidate join going
# quadratic. The fixed-grid shape is only correct when the grid tracks
# density.) sqrt is IEEE-correctly-rounded in both engines, so the
# derived cell width is bit-identical and parity holds at every sf.


@query(
    "geo_grid_nearest",
    f"""
    WITH g AS (
      SELECT greatest(CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 1)
               AS cells
      FROM supplier
    ),
    cellw AS (SELECT {_GEO_RANGE} // cells AS w FROM g),
    c AS (
      SELECT c_custkey,
             ('0x' || substr(md5('gx:' || c_custkey), 1, 8))::BIGINT
               % {_GEO_RANGE} AS cx,
             ('0x' || substr(md5('gy:' || c_custkey), 1, 8))::BIGINT
               % {_GEO_RANGE} AS cy
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             ('0x' || substr(md5('sx:' || s_suppkey), 1, 8))::BIGINT
               % {_GEO_RANGE} AS sx,
             ('0x' || substr(md5('sy:' || s_suppkey), 1, 8))::BIGINT
               % {_GEO_RANGE} AS sy
      FROM supplier
    ),
    se AS (
      SELECT s_suppkey, sx, sy,
             sx // cellw.w + dx.dx AS cellx,
             sy // cellw.w + dy.dy AS celly
      FROM s,
           cellw,
           (SELECT unnest([-1, 0, 1]) AS dx) dx,
           (SELECT unnest([-1, 0, 1]) AS dy) dy
    ),
    cand AS (
      SELECT c.c_custkey, se.s_suppkey,
             (c.cx - se.sx) * (c.cx - se.sx)
               + (c.cy - se.sy) * (c.cy - se.sy) AS d2
      FROM c CROSS JOIN cellw JOIN se
        ON c.cx // cellw.w = se.cellx AND c.cy // cellw.w = se.celly
    ),
    m AS (
      SELECT c_custkey, min(d2) AS min_d2, count(*) AS n_candidates
      FROM cand GROUP BY c_custkey
    )
    SELECT m.c_custkey,
           min(cand.s_suppkey) AS nearest_suppkey,
           m.min_d2 AS dist_sq,
           m.n_candidates
    FROM cand
    JOIN m ON cand.c_custkey = m.c_custkey AND cand.d2 = m.min_d2
    GROUP BY m.c_custkey, m.min_d2, m.n_candidates
    """,
)
def q_geo_grid_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed nearest-neighbor spatial join: every customer and
    supplier gets a deterministic md5-derived integer coordinate on a
    [0, 10000)^2 plane; suppliers are replicated into their 3x3 cell
    neighborhood (cell width adapts to supplier density); the join is EQUI on the cell key,
    and the nearest supplier per customer is resolved with exact
    integer squared distances (ties broken by min supplier key).

    Scale posture: this is the standard spatial-join shape — a bounded
    constant-factor replication (9x) of the SMALL side buys an
    equi-join in place of an all-pairs distance cross product; the
    planner sees plain hash joins on (cellx, celly). The grid is
    DENSITY-ADAPTIVE (cells per axis = floor(sqrt(|supplier|)), derived
    identically in both engines — see the module comment), so expected
    candidates stay ~9 per customer at any data size; the sf1 scale
    gate caught the earlier fixed 10x10 grid going quadratic.
    Nearest-neighbor resolution is two keyed aggregates (min distance,
    then min key at that distance) — deterministic at any parallelism,
    no window over an unbounded frame. All-integer distance math →
    hash-exact parity. Customers with an empty 3x3 neighborhood are not
    emitted (expected e^-9 ≈ 0.01% of customers; the production pattern
    re-queries those at a coarser grid level).
    """
    import math

    cust, supp = _prep(spark, sf_dir, "customer", "supplier")
    # the same scalar both engines derive: one bounded driver-side count
    n_supp = supp.count()
    cell = _GEO_RANGE // max(int(math.floor(math.sqrt(float(n_supp)))), 1)

    def coord(prefix: str, key: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix), F.col(key).cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % _GEO_RANGE
        )

    c = cust.select(
        "c_custkey",
        coord("gx:", "c_custkey").alias("cx"),
        coord("gy:", "c_custkey").alias("cy"),
    )
    s = supp.select(
        "s_suppkey",
        coord("sx:", "s_suppkey").alias("sx"),
        coord("sy:", "s_suppkey").alias("sy"),
    )
    offsets = F.array(F.lit(-1), F.lit(0), F.lit(1))
    se = (
        s.withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.expr(f"sx DIV {cell}") + F.col("dx")).alias("cellx"),
            (F.expr(f"sy DIV {cell}") + F.col("dy")).alias("celly"),
        )
    )
    cand = (
        c.withColumn("cellx", F.expr(f"cx DIV {cell}"))
        .withColumn("celly", F.expr(f"cy DIV {cell}"))
        .join(se, ["cellx", "celly"])
        .select(
            "c_custkey",
            "s_suppkey",
            (
                (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx"))
                + (F.col("cy") - F.col("sy")) * (F.col("cy") - F.col("sy"))
            ).alias("d2"),
        )
    )
    m = cand.groupBy("c_custkey").agg(
        F.min("d2").alias("min_d2"), F.count(F.lit(1)).alias("n_candidates")
    )
    return (
        cand.join(m, "c_custkey")
        .where(F.col("d2") == F.col("min_d2"))
        .groupBy("c_custkey", "min_d2", "n_candidates")
        .agg(F.min("s_suppkey").alias("nearest_suppkey"))
        .select(
            "c_custkey",
            "nearest_suppkey",
            F.col("min_d2").alias("dist_sq"),
            "n_candidates",
        )
    )


# =========================================================================
# Recursive CTE: transitive closure over a synthetic reporting hierarchy
# =========================================================================


@query(
    "recursive_supplier_chain",
    """
    WITH RECURSIVE chain AS (
      SELECT s_suppkey, s_suppkey AS root_suppkey, 0 AS depth
      FROM supplier WHERE s_suppkey < 8
      UNION ALL
      SELECT s.s_suppkey, c.root_suppkey, c.depth + 1
      FROM supplier s JOIN chain c ON s.s_suppkey // 8 = c.s_suppkey
      WHERE s.s_suppkey >= 8
    )
    SELECT s_suppkey, root_suppkey, CAST(depth AS INTEGER) AS depth
    FROM chain
    """,
)
def q_recursive_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of a reporting hierarchy via a RECURSIVE CTE
    (Spark 4 ``WITH RECURSIVE`` == DuckDB): supplier s reports to
    supplier ``s DIV 8`` (a synthetic but deterministic forest rooted
    at keys 0-7); the recursion labels every supplier with its root and
    depth. This is the org-chart / BOM-explosion query shape, run
    through the engine's native iterative SQL operator rather than a
    hand-rolled driver loop.

    Scale posture: each recursion step is one equi-join of the frontier
    against the (pruned) supplier scan; depth is O(log_8 N) because the
    parent key strictly decreases — ~7 rounds at 100 TB supplier
    cardinality. Contrast with dedup_clusters_cc, which implements the
    same fixed-point pattern as an explicit driver loop with
    localCheckpoint: the CTE form delegates loop control to the engine.
    All-integer output → hash-exact parity.
    """
    (supp,) = _prep(spark, sf_dir, "supplier")
    supp.select("s_suppkey").createOrReplaceTempView("gs_supplier_rc")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT s_suppkey, s_suppkey AS root_suppkey, 0 AS depth
          FROM gs_supplier_rc WHERE s_suppkey < 8
          UNION ALL
          SELECT s.s_suppkey, c.root_suppkey, c.depth + 1
          FROM gs_supplier_rc s JOIN chain c ON s.s_suppkey DIV 8 = c.s_suppkey
          WHERE s.s_suppkey >= 8
        )
        SELECT s_suppkey, root_suppkey, CAST(depth AS INT) AS depth
        FROM chain
        """
    )


# =========================================================================
# Merkle-style bucket-checksum table diff
# =========================================================================


_DIFF_BUCKETS = 64
_CORRUPT_MOD = 200  # ~0.5% of rows perturbed in the simulated replica


@query(
    "table_diff_checksum",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey % {_DIFF_BUCKETS} AS bucket
      FROM orders
    ),
    b AS (  -- simulated replica with deterministic 1-cent corruption
      SELECT o_orderkey, o_orderstatus, bucket,
             cents + CASE WHEN ('0x' || substr(md5('corrupt:' || o_orderkey),
                                               1, 4))::INTEGER
                               % {_CORRUPT_MOD} = 0
                          THEN 1 ELSE 0 END AS cents
      FROM base
    ),
    ca AS (
      SELECT bucket, count(*) AS n_rows,
             sum(CAST(('0x' || substr(md5(concat_ws('|', o_orderkey,
                        o_orderstatus, cents)), 1, 12))::BIGINT
                      AS DECIMAL(38,0))) AS cksum
      FROM base GROUP BY bucket
    ),
    cb AS (
      SELECT bucket, count(*) AS n_rows,
             sum(CAST(('0x' || substr(md5(concat_ws('|', o_orderkey,
                        o_orderstatus, cents)), 1, 12))::BIGINT
                      AS DECIMAL(38,0))) AS cksum
      FROM b GROUP BY bucket
    ),
    mism AS (
      SELECT ca.bucket FROM ca JOIN cb USING (bucket)
      WHERE ca.cksum <> cb.cksum OR ca.n_rows <> cb.n_rows
    ),
    drill AS (
      SELECT base.bucket, count(*) AS n_diff_rows
      FROM base JOIN b USING (o_orderkey)
      WHERE base.bucket IN (SELECT bucket FROM mism)
        AND base.cents <> b.cents
      GROUP BY base.bucket
    )
    SELECT ca.bucket, ca.n_rows,
           (ca.cksum = cb.cksum AND ca.n_rows = cb.n_rows) AS checksums_match,
           CAST(coalesce(drill.n_diff_rows, 0) AS BIGINT) AS n_diff_rows
    FROM ca JOIN cb USING (bucket)
    LEFT JOIN drill ON drill.bucket = ca.bucket
    """,
)
def q_table_diff_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style table reconciliation (the anti-entropy pattern for
    verifying a 100 TB replica without moving the data): hash every row
    to 48 bits, SUM the hashes per key bucket (order-free — a decimal
    sum needs no sort and distributes perfectly), compare per-bucket
    (count, checksum) between the table and a simulated replica with
    ~0.5% deterministic 1-cent corruption, then drill down with a
    row-level compare restricted to the mismatched buckets only.

    Scale posture: phase 1 moves |buckets| rows per side (64 here;
    thousands in production), NOT table rows — each side is one
    map-side-combined aggregate. The row-level drill-down join is
    key-partitioned and pre-filtered to mismatched buckets, so its cost
    is proportional to the corruption footprint, not the table. Float
    prices are integerized to cents (floor(x*100+0.5)) before hashing —
    string-rendering doubles differs across engines; integers do not.
    """
    (orders,) = _prep(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderkey") % _DIFF_BUCKETS).alias("bucket"),
    )
    corrupt = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("corrupt:"), F.col("o_orderkey").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % _CORRUPT_MOD
        == 0
    ).cast("bigint")
    b = base.withColumn("cents", F.col("cents") + corrupt)

    def cksums(df: DataFrame) -> DataFrame:
        row_hash = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "o_orderkey", "o_orderstatus", "cents")), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        return df.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(row_hash.cast("decimal(38,0)")).alias("cksum"),
        )

    ca = cksums(base)
    cb = cksums(b)
    both = ca.alias("ca").join(cb.alias("cb"), "bucket")
    mism = both.where(
        (F.col("ca.cksum") != F.col("cb.cksum"))
        | (F.col("ca.n_rows") != F.col("cb.n_rows"))
    ).select("bucket")
    drill = (
        base.join(F.broadcast(mism), "bucket", "leftsemi")
        .alias("a")
        .join(b.select("o_orderkey", "cents").alias("r"), "o_orderkey")
        .where(F.col("a.cents") != F.col("r.cents"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_diff_rows"))
    )
    return (
        both.join(drill, "bucket", "left")
        .select(
            "bucket",
            F.col("ca.n_rows").alias("n_rows"),
            (
                (F.col("ca.cksum") == F.col("cb.cksum"))
                & (F.col("ca.n_rows") == F.col("cb.n_rows"))
            ).alias("checksums_match"),
            F.coalesce(F.col("n_diff_rows"), F.lit(0)).cast("bigint").alias(
                "n_diff_rows"
            ),
        )
    )


# =========================================================================
# Zipf(1.5) skew-stress join — salted plan vs plain-join oracle
# =========================================================================


# Deterministic heavy-tail key synthesis, bit-identical on both engines:
#   h  = first 8 md5 hex digits of 'zipf:<row id>'  (32-bit int)
#   u  = (h+1) / 2^32                                in (0, 1], exact:
#        the divisor is a power of two, so the division never rounds
#   k  = min(floor(1 / u^2), 10000)
# P(k >= x) = P(u <= x^-1/2) ~ x^-0.5, so the key FREQUENCY follows a
# Zipf tail with exponent 1.5: key 1 alone catches ~29% of all rows
# (P(u > 1/sqrt(2))), key 2 ~12%, ... — a genuinely pathological hot key,
# far beyond TPC-H's mild skew. Only +,*,/ and floor are used (IEEE
# round-to-nearest, identical in Spark and DuckDB — no libm pow()).
_ZIPF_CAP = 10_000
_TWO_32 = 4_294_967_296.0

_ZIPF_FACT_SQL = f"""
    WITH fact AS (
      SELECT l_orderkey * 8 + l_linenumber AS i,
             (l_orderkey + l_linenumber) % 1000 AS m,
             -- least() in DOUBLE *before* the BIGINT cast: when the md5
             -- 8-hex prefix is 00000000 (h+1=1, u=2^-32) the floor is
             -- 2^64, which overflows a direct BIGINT cast in DuckDB,
             -- while Spark's floor saturates at Long.MAX and then caps.
             CAST(least(floor(1.0 / (
               (('0x' || substr(md5('zipf:' || CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)), 1, 8))::BIGINT + 1)
               / {_TWO_32} *
               ((('0x' || substr(md5('zipf:' || CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)), 1, 8))::BIGINT + 1)
               / {_TWO_32})
             )), {_ZIPF_CAP}.0) AS BIGINT) AS zkey
      FROM lineitem
    ),
    dim AS (
      SELECT CAST(k AS BIGINT) AS zkey,
             CAST(k % 20 AS INT) AS dim_grp,
             CAST((k * 2654435761) % 97 AS BIGINT) AS dim_weight
      FROM (SELECT unnest(range(1, {_ZIPF_CAP} + 1)) AS k)
    )
"""


@query(
    "skew_zipf_join",
    _ZIPF_FACT_SQL
    + """
    SELECT d.dim_grp,
           count(*) AS n_rows,
           CAST(sum(f.m * d.dim_weight) AS BIGINT) AS weighted_sum,
           CAST(max(f.zkey) AS BIGINT) AS max_key
    FROM fact f JOIN dim d ON f.zkey = d.zkey
    GROUP BY d.dim_grp
    """,
)
def q_skew_zipf_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf(1.5) hot-key stress join: a synthesized heavy-tail key
    distribution (hottest key ~29% of ALL rows — far beyond TPC-H's
    mild skew) joined to a 10k-row dimension through the explicit
    salted join (operators/skew.py::salted_join), then rolled up per
    dim group with integer-exact sums.

    Without salting, the hot key funnels ~29% of the fact table through
    ONE reducer — the canonical cluster-killer at 100 TB. The salted
    plan shards each fact key over 16 salt buckets and replicates the
    (tiny) dim side per bucket, bounding any reducer at ~1/16 of the
    hot key. Result is row-identical to the plain equi-join — the
    oracle IS the plain join, and the key synthesis (md5-seeded inverse
    power CDF, power-of-two divisor so / never rounds) is replayed
    bit-for-bit by DuckDB. tests/test_skew.py asserts the salt explode
    is actually present in the executed plan — the query fails CI if
    the salting is ever silently dropped.

    Scale posture: fact rows scale with the lineitem table (so the
    sf1/sf3 scale gate stresses 6M/18M-row skew); dim stays 10k rows
    and broadcast-replicates 16x (160k rows — trivial). Two shuffles:
    the salted join and the 20-group rollup."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    i = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("bigint")
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("zipf:"), i.cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        + 1
    )
    u = h.cast("double") / F.lit(_TWO_32)
    zkey = F.least(
        F.floor(F.lit(1.0) / (u * u)).cast("bigint"), F.lit(_ZIPF_CAP)
    )
    fact = li.select(
        zkey.alias("zkey"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 1000).alias("m"),
    )
    dim = spark.range(1, _ZIPF_CAP + 1).select(
        F.col("id").alias("zkey"),
        (F.col("id") % 20).cast("int").alias("dim_grp"),
        ((F.col("id") * 2654435761) % 97).cast("bigint").alias("dim_weight"),
    )
    joined = skew_ops.salted_join(fact, dim, "zkey")
    return joined.groupBy("dim_grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("m") * F.col("dim_weight")).cast("bigint").alias("weighted_sum"),
        F.max("zkey").cast("bigint").alias("max_key"),
    )
