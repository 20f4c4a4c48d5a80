"""Invariant tests for the round-2 batch E, F and G queries (in
gibbon_spark/registry/, filed by domain) — properties the oracle compare
cannot see (cross-checks against independent numpy/pandas
recomputation, structural invariants)."""

from __future__ import annotations

import numpy as np

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL


def _run(spark, name):
    return entrymod.queries()[name](spark, SF_SMALL).toPandas()


def test_fuzzy_pairs_blocked_and_bounded(spark):
    pdf = _run(spark, "fuzzy_match_partnames")
    assert len(pdf) > 0
    for _, r in pdf.iterrows():
        # within-block: identical last token; canonical order; bounded dist
        assert r.name_a.split()[-1] == r.name_b.split()[-1]
        assert r.name_a < r.name_b
        assert 1 <= r.edit_dist <= 4
        assert r.n_parts_a > 0 and r.n_parts_b > 0


def test_geo_nearest_matches_bruteforce_within_neighborhood(spark):
    import hashlib

    pdf = _run(spark, "geo_grid_nearest")
    assert len(pdf) > 0

    def h(prefix, key):
        return int(hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:8], 16) % 10000

    sup = spark.read.parquet(f"{SF_SMALL}/supplier.parquet").toPandas()
    sup["sx"] = [h("sx:", k) for k in sup.s_suppkey]
    sup["sy"] = [h("sy:", k) for k in sup.s_suppkey]
    # density-adaptive cell width, same derivation as the query/oracle
    import math

    cell = 10000 // max(int(math.floor(math.sqrt(float(len(sup))))), 1)
    checked = 0
    for _, r in pdf.head(40).iterrows():
        cx, cy = h("gx:", r.c_custkey), h("gy:", r.c_custkey)
        cellx, celly = cx // cell, cy // cell
        cand = sup[
            (abs(sup.sx // cell - cellx) <= 1) & (abs(sup.sy // cell - celly) <= 1)
        ].copy()
        assert len(cand) == r.n_candidates
        cand["d2"] = (cand.sx - cx) ** 2 + (cand.sy - cy) ** 2
        best = cand.d2.min()
        assert best == r.dist_sq
        assert r.nearest_suppkey == cand[cand.d2 == best].s_suppkey.min()
        checked += 1
    assert checked > 0


def test_mad_outliers_matches_numpy(spark):
    pdf = _run(spark, "agg_mad_outliers").set_index("o_orderpriority")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").toPandas()
    for pri, grp in orders.groupby("o_orderpriority"):
        med = round(float(np.median(grp.o_totalprice)) + 1e-9, 4)
        ad = np.round(np.abs(grp.o_totalprice - med) + 1e-9, 4)
        mad = round(float(np.median(ad)) + 1e-9, 4)
        row = pdf.loc[pri]
        assert row.median_price == med
        assert row.mad == mad
        assert row.n_outliers == int((ad > 3 * mad).sum())
        assert row.n_orders == len(grp)


def test_benford_shares_and_counts(spark):
    pdf = _run(spark, "benford_digit_audit")
    assert set(pdf.digit) == {str(d) for d in range(1, 10)}
    total = spark.read.parquet(f"{SF_SMALL}/orders.parquet").count()
    assert pdf.n_orders.sum() == total
    assert abs(pdf.share.sum() - 1.0) < 1e-4
    assert abs(pdf.expected_share.sum() - 1.0) < 1e-4
    assert (pdf.chi_term >= 0).all()


def test_rfm_scores_partition_customers(spark):
    pdf = _run(spark, "rfm_segments")
    for c in ("r_score", "f_score", "m_score"):
        assert pdf[c].between(1, 5).all()
    n_cust = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert pdf.n_customers.sum() == n_cust
    # quintile cuts: no single score bucket may hold everything
    assert pdf.groupby("r_score").n_customers.sum().max() < n_cust


def test_recursive_chain_depth_and_root(spark):
    pdf = _run(spark, "recursive_supplier_chain").set_index("s_suppkey")
    sup = spark.read.parquet(f"{SF_SMALL}/supplier.parquet").toPandas()
    assert len(pdf) == len(sup)
    for s in sup.s_suppkey:
        k, depth = int(s), 0
        while k >= 8:
            k //= 8
            depth += 1
        assert pdf.loc[s].depth == depth
        assert pdf.loc[s].root_suppkey == k


# ---- batch F ----


def test_table_diff_finds_exactly_the_corrupted_rows(spark):
    import hashlib

    pdf = _run(spark, "table_diff_checksum")
    assert len(pdf) == 64
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").toPandas()

    def corrupted(k):
        return int(hashlib.md5(f"corrupt:{k}".encode()).hexdigest()[:4], 16) % 200 == 0

    bad = {int(k) for k in orders.o_orderkey if corrupted(k)}
    bad_buckets = {k % 64 for k in bad}
    got_bad = set(pdf[~pdf.checksums_match].bucket)
    assert got_bad == bad_buckets
    assert pdf.n_diff_rows.sum() == len(bad)
    assert (pdf[pdf.checksums_match].n_diff_rows == 0).all()


def test_attribution_channels_partition_purchases(spark):
    pdf = _run(spark, "events_attribution_last_touch")
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").toPandas()
    n_purch = (ev.event_type == "purchase").sum()
    assert pdf.n_purchases.sum() == n_purch
    assert set(pdf.channel) <= {"click", "view", "none"}


def test_hampel_spikes_subset_and_median_robust(spark):
    pdf = _run(spark, "ts_hampel_filter")
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert len(pdf) == ev
    assert (pdf.roll_mad >= 0).all()
    # a constant series can never flag spikes; overall rate must be modest
    assert 0 <= pdf.is_spike.mean() < 0.5


def test_conversion_lag_buckets_cover_signups(spark):
    pdf = _run(spark, "conversion_lag_histogram").set_index("lag_bucket")
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").toPandas()
    n_signup_users = ev[ev.event_type == "signup"].user_id.nunique()
    assert pdf.n_users.sum() == n_signup_users
    for b in pdf.index:
        assert b in {
            "no_purchase_after_signup",
            "same_day",
            "within_week",
            "within_month",
            "over_month",
        }


# ---- batch G ----


def test_ks_distance_matches_scipy_style_recompute(spark):
    import hashlib

    pdf = _run(spark, "abtest_ks_distance")
    assert len(pdf) == 1
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").toPandas()
    arm_a = ev.user_id.map(
        lambda u: int(hashlib.md5(str(u).encode()).hexdigest()[:4], 16) % 2 == 0
    )
    yi = np.floor(ev.value * 10000 + 0.5).astype("int64")
    a = np.sort(yi[arm_a].values)
    b = np.sort(yi[~arm_a].values)
    na, nb = len(a), len(b)
    assert pdf.n_a[0] == na and pdf.n_b[0] == nb
    grid = np.unique(yi.values)
    cdfa = np.searchsorted(a, grid, side="right") / na
    cdfb = np.searchsorted(b, grid, side="right") / nb
    d = np.abs(cdfa - cdfb).max()
    assert abs(pdf.ks_d[0] - d) < 1e-5


def test_weighted_median_matches_bruteforce(spark):
    pdf = _run(spark, "weighted_median_lineitem").set_index("l_returnflag")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").toPandas()
    li["v"] = np.round(li.l_extendedprice + 1e-9, 2)
    li["w"] = li.l_quantity.astype("int64")
    for flag, grp in li.groupby("l_returnflag"):
        g = grp.sort_values("v")
        cum = g.w.cumsum()
        total = int(g.w.sum())
        med = float(g.v[(2 * cum) >= total].iloc[0])
        row = pdf.loc[flag]
        assert row.total_weight == total
        assert row.weighted_median_price == med


def test_event_paths_valid_and_ranked(spark):
    pdf = _run(spark, "event_path_trigrams")
    assert 0 < len(pdf) <= 20
    assert (pdf.n_paths.values == pdf.sort_values(
        ["n_paths"], ascending=False).n_paths.values).all()
    types = {"view", "click", "purchase", "signup", "error"}
    for p in pdf.path:
        assert all(step in types for step in p.split(">"))


def test_unigram_fluency_bounds_and_extremes(spark):
    pdf = _run(spark, "text_unigram_fluency")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert len(pdf) == docs
    assert (pdf.fluency > 0).all()
    # mean corpus frequency of a token can never exceed the most common
    # token's share, which is < 1
    assert (pdf.fluency < 1).all()
    # sum_freq >= n_tokens (every token occurs at least once)
    assert (pdf.sum_freq >= pdf.n_tokens).all()


def test_containment_matches_bruteforce_sets(spark):
    pdf = _run(spark, "dedup_containment")
    assert len(pdf) > 0
    assert pdf.containment.between(0.5, 1.0).all()
    assert (pdf.n_inter <= pdf.n_contained).all()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").toPandas()

    def sh3(text):
        t = text.split()
        if len(t) <= 3:
            return {" ".join(t)}
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    sets = {r.doc_id: sh3(r.text) for r in docs.itertuples()}
    expected = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b and round(len(sa & sb) / len(sa), 6) >= 0.5:
                expected.add((a, b))
    got = set(zip(pdf.id_contained, pdf.id_container))
    assert got == expected


def test_linear_attribution_conserves_revenue(spark):
    pdf = _run(spark, "events_attribution_linear")
    assert len(pdf) == 1
    r = pdf.iloc[0]
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").toPandas()
    purchases = ev[ev.event_type == "purchase"]
    n_p = len(purchases)
    assert r.n_purchases_attributed + r.n_purchases_none == n_p
    total_cents = np.floor(purchases.value * 100 + 0.5).sum()
    got = r.revenue_click + r.revenue_view + r.revenue_none
    # equal-split shares are quantized at 4dp per purchase; drift is bounded
    assert abs(got - total_cents / 100.0) < 0.01 * n_p
    assert r.revenue_click >= 0 and r.revenue_view >= 0


def test_mom_growth_frame_and_ratios(spark):
    pdf = _run(spark, "orders_growth_mom").sort_values("month").reset_index(drop=True)
    assert pdf.month.is_unique
    assert np.isnan(pdf.mom_growth[0])
    expect = (pdf.revenue - pdf.revenue.shift()) / pdf.revenue.shift()
    ok = np.isclose(pdf.mom_growth[1:], np.round(expect[1:] + 1e-9, 6))
    assert ok.all()


def test_streaming_trend_topk_per_window(spark):
    pdf = _run(spark, "streaming_topk_trending")
    assert len(pdf) > 0
    per_w = pdf.groupby("bucket_start")
    assert (per_w.rnk.max() <= 3).all()
    # within each window ranks are 1..k with counts non-increasing
    for _, grp in per_w:
        g = grp.sort_values("rnk")
        assert list(g.rnk) == list(range(1, len(g) + 1))
        assert (g.n.diff().dropna() <= 0).all()


def test_seasonal_anomaly_baseline_consistency(spark):
    pdf = _run(spark, "orders_seasonal_anomaly")
    assert pdf.groupby(["year", "month"]).size().max() == 1
    # same calendar month shares one baseline
    assert (pdf.groupby("month").expected_revenue.nunique() == 1).all()
    flagged = pdf[pdf.is_anomaly]
    ok = (flagged.residual_ratio - 1.0).abs() > 0.25
    assert ok.all()
    unflagged = pdf[~pdf.is_anomaly]
    assert ((unflagged.residual_ratio - 1.0).abs() <= 0.25 + 1e-9).all()


def test_rake_phrases_stopword_free_and_ranked(spark):
    pdf = _run(spark, "text_rake_keywords")
    assert 0 < len(pdf) <= 20
    for p in pdf.phrase:
        assert "a" not in p.split() and "the" not in p.split()
    assert (pdf.rake_score.values == pdf.sort_values(
        "rake_score", ascending=False).rake_score.values).all()
    assert (pdf.n_occurrences >= 1).all()


def test_shipping_delay_covers_all_lineitems(spark):
    pdf = _run(spark, "shipping_delay_histogram").set_index("delay_bucket")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").count()
    assert pdf.n_lineitems.sum() == li
    if "before_order" in pdf.index:
        assert pdf.loc["before_order"].max_days < 0
    for b in pdf.index:
        row = pdf.loc[b]
        assert row.min_days <= row.avg_days <= row.max_days


def test_bounce_rate_consistent_with_sessions(spark):
    pdf = _run(spark, "sessions_bounce_rate")
    assert len(pdf) == 1
    r = pdf.iloc[0]
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").toPandas()
    assert r.n_users == ev.user_id.nunique()
    assert 0 <= r.bounce_rate <= 1
    assert r.n_bounces <= r.n_sessions
    assert r.avg_session_depth >= 1
    import pytest as _p

    assert r.n_sessions * r.avg_session_depth == _p.approx(len(ev), rel=1e-6)


def test_brand_slope_matches_numpy_ols(spark):
    pdf = _run(spark, "brand_price_qty_slope").set_index("p_brand")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").toPandas()
    part = spark.read.parquet(f"{SF_SMALL}/part.parquet").toPandas()
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    j["x"] = np.floor(j.l_extendedprice * 100 + 0.5).astype("int64")
    j["y"] = j.l_quantity.astype("int64")
    for brand, grp in j.groupby("p_brand"):
        slope = np.polyfit(grp.x, grp.y, 1)[0] * 1e8
        row = pdf.loc[brand]
        assert abs(row.slope_qty_per_million_cents - slope) < 1e-3
        assert row.n_lineitems == len(grp)
