"""Every registered query's physical plan must stay free of scale
anti-patterns (tools/explain_audit.py, enforced)."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tools.explain_audit import count_partitionless_windows

# keep in sync with tools/explain_audit.py:ALLOWED_NESTED_LOOP
ALLOWED_NESTED_LOOP = {
    "sim_topk_lsh",
    "q11_important_stock",
    "tfidf_top_terms",
    "bm25_search",
    "token_drift_splits",
    "equi_depth_bins",
    "basket_part_pairs",
    "heavy_hitters_mg",
    "skew_key_stats",
    "graph_triangle_count",
    "embedding_top_pc",
    "bootstrap_ci_revenue",
    "abtest_value_z",
    "abtest_cuped",
    "orders_seasonal_index",
    "benford_digit_audit",
    "rfm_segments",
    "abtest_ks_distance",
    "text_unigram_fluency",
    # two 1-row aggregate frames cross-joined — O(1)
    "events_attribution_linear",
    "orders_seasonal_anomaly",
    # two 1-row scalar frames (corpus bigram count + head-third
    # threshold) broadcast onto the doc frame — O(1) fan-out, same
    # shape as events_attribution_linear
    "text_perplexity_bigram",
}

# Partition-less ORDERED windows funnel their whole frame through one
# task — allowed only where the frame is bounded by something other than
# data volume (audited per site; value = the bounded-frame argument).
# Keep in sync with tools/explain_audit.py (which imports this dict).
ALLOWED_GLOBAL_WINDOW = {
    # cumulates over the per-trigger micro-batch count frame (one row per
    # availableNow trigger — bounded by trigger count, not data volume)
    "streaming_late_data_audit": "trigger-count frame",
    # two-level decomposition: the only global window rides the P-row
    # per-range-partition offset table (P = shuffle partitions)
    "revenue_concentration": "P-row offset table",
    "running_total_orders": "P-row offset table (operators/ranking.py)",
    "abtest_ks_distance": "P-row offset table (operators/ranking.py)",
    "weighted_median_lineitem": (
        "P-row offset table (operators/ranking.py) + flag-cardinality "
        "(3-row) per-flag offset frame"
    ),
    # final rank over the already-reduced top-k candidate frame
    "bm25_search": "top-10 rank over reduced scored frame",
    # integer-exact quota assignment over the per-source frame (one row
    # per source, bounded by source cardinality ~20)
    "sample_mixture_sources": "per-source quota frame",
    # frontier scan over the post-staircase-prune candidate set (already
    # reduced to the per-price-band minima)
    "skyline_orders": "post-staircase frontier frame",
    # month-over-month growth over the month-grain frame (one row per
    # calendar month in the data — bounded by time span, not rows)
    "orders_growth_mom": "month-grain frame",
    # head-third threshold cumsum over the per-BUCKET histogram (one row
    # per distinct centibit bucket, <= ~6400 possible values)
    "text_perplexity_bigram": "centibit-bucket histogram frame",
}


PYTHON_STAGE = (
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)\b"
)


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_plan_has_no_antipatterns(spark, name):
    df = entrymod.queries()[name](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in ALLOWED_NESTED_LOOP:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested loop join"
    # Arrow-batched python (ArrowEvalPython/MapInPandas/FlatMapGroupsInPandas)
    # is allowed outside the time-series surface (the Gorilla codec's block
    # stages are mapInPandas); row-at-a-time BatchEvalPython never is. The
    # ts_* queries run no Python stage at all.
    assert not re.search(r"\bBatchEvalPython\b", plan), f"{name}: row python UDF"
    if name.startswith("ts_"):
        stages = re.findall(PYTHON_STAGE, plan)
        assert not stages, f"{name}: Python stage in a ts_* plan: {stages}"
    if name not in ALLOWED_GLOBAL_WINDOW:
        assert count_partitionless_windows(plan) == 0, (
            f"{name}: partition-less ordered Window (whole frame through one "
            "task) — either partition it, use the two-level decomposition "
            "(operators/ranking.py), or allowlist with a bounded-frame argument"
        )


@pytest.mark.parametrize("name", ["ts_gap_fill", "ts_interpolate_linear"])
def test_slot_grid_is_one_pass(spark, name):
    """The slot grid (operators/timeseries.py::_slot_grid) reads events
    once and shuffles once on the series key: no grid join."""
    df = entrymod.queries()[name](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange hashpartitioning\b", plan)) == 1, plan
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert "BroadcastExchange" not in plan, plan
    assert len(re.findall(r"FileScan parquet .*/events\.parquet\]", plan)) == 1, plan
