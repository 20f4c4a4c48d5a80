"""Windowless global ordering primitives.

A global ``row_number()``/``sum() OVER (ORDER BY ...)`` — a window with
no PARTITION BY — forces every row through ONE task, the classic
scale-cliff (fine at 10M rows, dead at 10B). These helpers reproduce the
exact same semantics with the TWO-LEVEL decomposition:

1. ``repartitionByRange`` on the total order — Spark's range sampler
   splits the data into P contiguous, mutually ordered partitions;
2. the per-row running value is computed per partition (bounded n/P
   rows per task);
3. a P-row offset table (one aggregate row per partition, cumulated
   over the TINY P-row frame) broadcasts back, and
   ``global = partition_offset + local`` holds exactly because range
   partitions are totally ordered between themselves.

The reference has no ordered analytics at all (it scans one series
sequentially — ``examples/csv_to_packed.rs:36-76``); this module is part
of the engine surface that makes ordered scans survive distribution.
Used by ``running_total_orders`` (registry.relational) and mirrored inline by
``revenue_concentration`` (registry.analytics) for rank.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from gibbon_spark.materialize import materialize


def global_running_sum(
    df: DataFrame,
    order_cols: Sequence[Column],
    value: Column,
    *,
    out_col: str = "running_sum",
    n_parts: int | None = None,
) -> DataFrame:
    """Exact global running sum of ``value`` in ``order_cols`` order
    (ROWS UNBOUNDED PRECEDING .. CURRENT ROW) with no whole-frame
    window.

    ``order_cols`` must be a total order (include a unique tiebreak).
    ``value`` should be a decimal expression when exactness across
    association orders matters (the per-partition sums and the offset
    sums associate differently than a serial scan would).
    """
    spark = df.sparkSession
    n = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # the range-shuffled frame feeds BOTH the per-partition cumsum and
    # the offset table; checkpoint it once so the upstream subtree (and
    # the range shuffle itself) doesn't replay per consumer, and so the
    # partition ids both consumers see are pinned to one materialized
    # layout (dedup.py:150 measured rationale for localCheckpoint over
    # persist).
    by_range = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(materialize, eager=False)
    )
    w_local = Window.partitionBy("_pid").orderBy(*order_cols)
    local = by_range.withColumn("_lsum", F.sum(value).over(w_local))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        by_range.groupBy("_pid")
        .agg(F.sum(value).alias("_psum"))
        .withColumn("_off", F.sum("_psum").over(w_off))
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.coalesce(F.col("_off"), F.lit(0)) + F.col("_lsum"))
        .drop("_pid", "_lsum", "_off")
    )
