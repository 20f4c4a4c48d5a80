"""The registry's core float discipline, enforced: results must be
BIT-IDENTICAL under different parallelism. Every aggregate follows the
exact-decimal + 1e-9-nudge rules precisely so that partial-aggregation
association order cannot move a value; this test re-runs representative
aggregate-heavy queries in a 5-partition session layout vs the default
32 and compares full results exactly (no tolerance)."""

from __future__ import annotations

import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL

# shapes chosen to cover each arithmetic discipline: decimal money
# sums, exact averages, one-pass moments, decimal dot/norm folds,
# two-level global ordering, integer-ratio drift, weighted decimals
QUERIES = [
    "q1_pricing_summary",
    "corr_matrix_lineitem",
    "semdedup_centroid_prune",
    "running_total_orders",
    "revenue_concentration",
    "token_drift_splits",
    "ts_time_weighted_avg",
    "mv_incremental_refresh",
    "embedding_centroids",
    "ts_anomaly_zscore",
    # round-2 batches E-K: two-level KS cumsum, quantized-share splits,
    # quantized quintile cuts, decimal checksum sums, rational RAKE sums
    "abtest_ks_distance",
    "events_attribution_linear",
    "rfm_segments",
    "table_diff_checksum",
    "text_rake_keywords",
    "agg_mad_outliers",
    # one-pass slot grid: last sample per slot, running fills both ways
    "ts_gap_fill",
    "ts_interpolate_linear",
]


def _run(spark, name, parts):
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        pdf = entrymod.queries()[name](spark, SF_SMALL).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


@pytest.mark.parametrize("name", QUERIES)
def test_result_identical_across_parallelism(spark, name):
    wide = _run(spark, name, 32)
    narrow = _run(spark, name, 5)
    pd.testing.assert_frame_equal(wide, narrow, check_exact=True)
