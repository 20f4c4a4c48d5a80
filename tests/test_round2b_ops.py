"""Semantic invariants for the round-2 batch-B operators — properties
the oracle compare can't express (coverage, sketch guarantees, union
bounds), checked at sf0.001."""

from __future__ import annotations

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL


def _run(spark, name):
    return entrymod.queries()[name](spark, SF_SMALL).toPandas()


def test_chunking_covers_every_token(spark):
    """Chunk starts advance by the stride until the end of the document,
    so token coverage is exact: the first chunk of each doc starts at 1,
    consecutive starts differ by the stride, and the last chunk reaches
    the final token."""
    from gibbon_spark.registry.text import _CHUNK_STRIDE, _CHUNK_TOKENS

    pdf = _run(spark, "chunk_documents_overlap")
    g = pdf.groupby("doc_id")
    for doc_id, grp in list(g)[:50]:
        grp = grp.sort_values("chunk_id")
        starts = grp["start_token"].tolist()
        assert starts[0] == 1
        assert all(
            b - a == _CHUNK_STRIDE for a, b in zip(starts, starts[1:])
        ), f"doc {doc_id}: non-uniform stride {starts}"
        # every chunk is exactly min(CHUNK, tokens remaining) wide: full
        # until the doc tail, then truncated (several tail chunks may be
        # short because starts run to the very end for full coverage)
        widths = grp["n_tokens"].tolist()
        n_doc = starts[-1] + widths[-1] - 1
        for st, w in zip(starts, widths):
            assert w == min(_CHUNK_TOKENS, n_doc - st + 1)
        # the final start is within one stride of the last token, so no
        # token is uncovered
        assert n_doc - starts[-1] < _CHUNK_STRIDE


def test_heavy_hitters_match_exact_threshold(spark):
    """The MG union guarantee means the registered query's output must
    EQUAL the exact count > N/k set (no false negatives from the
    sketch, no false positives after the recount)."""
    from pyspark.sql import functions as F

    from gibbon_spark.registry.analytics import _MG_K
    from gibbon_spark.registry import _prep

    got = set(_run(spark, "heavy_hitters_mg")["token"])
    (docs,) = _prep(spark, SF_SMALL, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("token"))
    n = tok.count()
    exact = {
        r.token
        for r in tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") * _MG_K > n)
        .collect()
    }
    assert got == exact


def test_interval_union_bounds(spark):
    """Union length per user is bounded by n_events * interval on top
    and by one interval per island on the bottom, and islands can't
    outnumber events."""
    from gibbon_spark.registry.analytics import _IVL_SECONDS

    pdf = _run(spark, "interval_coverage_union")
    assert (pdf["covered_seconds"] <= pdf["n_events"] * _IVL_SECONDS).all()
    assert (pdf["covered_seconds"] >= pdf["n_islands"] * _IVL_SECONDS).all()
    assert (pdf["n_islands"] <= pdf["n_events"]).all()
    assert (pdf["n_islands"] >= 1).all()


def test_hll_registers_bound_exact_count(spark):
    """HLL structural invariants: used registers never exceed m or the
    exact distinct count (each distinct user fills at most one bucket
    per window), and the raw estimate is positive."""
    from gibbon_spark.registry.analytics import _HLL_M

    pdf = _run(spark, "sketch_hll_sliding_wau")
    assert (pdf["n_buckets_used"] <= _HLL_M).all()
    assert (pdf["n_buckets_used"] <= pdf["wau_exact"]).all()
    assert (pdf["wau_hll"] > 0).all()


def test_forecast_matches_numpy_polyfit(spark):
    """The exact-moment OLS slope/intercept must agree with numpy's
    least-squares fit on the same (centered-x, rounded-y) points to
    well within presentation rounding."""
    import numpy as np
    import pandas as pd

    from gibbon_spark.registry import _prep

    fit = _run(spark, "ts_forecast_linear").set_index("series")
    (events,) = _prep(spark, SF_SMALL, "events")
    pdf = events.select("event_type", "ts", "value").toPandas()
    for series, grp in pdf.groupby("event_type"):
        s = grp["ts"].astype("int64") // 10**9
        x = (s - s.min()).to_numpy(dtype=float)
        y = np.floor(grp["value"].to_numpy() * 10000 + 0.5) / 10000.0
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(fit.loc[series, "slope"] - slope) < 1e-6
        # the registry query quantizes the slope at 1e-10 before the
        # intercept derivation (parity discipline); that rounding is
        # amplified by mean(x) ~ 1e7 s, so allow a few millis here
        assert abs(fit.loc[series, "intercept"] - intercept) < 5e-3


def test_autocorr_in_valid_range(spark):
    pdf = _run(spark, "ts_autocorr_lag")
    assert ((pdf["r_lag1"] >= -1.000001) & (pdf["r_lag1"] <= 1.000001)).all()


def test_triangle_count_consistency(spark):
    """Each triangle contributes exactly 3 vertex participations, so
    max_per_vertex <= n_triangles and the vertex count is bounded by
    3 x triangles."""
    pdf = _run(spark, "graph_triangle_count")
    r = pdf.iloc[0]
    if r["n_triangles"] > 0:
        assert r["max_per_vertex"] <= r["n_triangles"]
        assert 3 <= r["n_vertices_in_triangles"] <= 3 * r["n_triangles"]
    else:
        assert r["n_vertices_in_triangles"] == 0


def test_rag_pipeline_dup_rate_bounds(spark):
    pdf = _run(spark, "pipeline_rag_corpus")
    assert ((pdf["dup_rate"] >= 0) & (pdf["dup_rate"] < 1)).all()
    assert (pdf["n_kept"] <= pdf["n_chunks"]).all()
    assert (pdf["n_kept"] >= 1).all()


def test_top_pc_against_numpy_svd(spark):
    """Power iteration's sigma must be sandwiched by the true spectrum:
    <= sigma_1 (it is a Rayleigh-type estimate) and well above sigma_2
    territory after 4 rounds unless the gap is tiny; the returned
    direction components came from a unit vector."""
    import numpy as np

    from gibbon_spark.registry import _prep

    pdf = entrymod.queries()["embedding_top_pc"](spark, SF_SMALL).toPandas()
    sigma = pdf["sigma"].iloc[0]
    (emb,) = _prep(spark, SF_SMALL, "embeddings")
    A = np.array(emb.toPandas()["embedding"].tolist(), dtype=np.float64)
    svals = np.linalg.svd(A, compute_uv=False)
    # quantization adds ~1e-4 absolute noise; sigma can't beat sigma_1
    assert sigma <= svals[0] * 1.001 + 1e-3
    assert sigma >= svals[0] * 0.8  # 4 rounds from a dense start
    # the 8 reported components are part of a unit vector
    assert (pdf["component"].abs() <= 1.000001).all()
    assert pdf["n_vectors"].iloc[0] == len(A)


def test_spearman_matches_pandas(spark):
    """The integer-moment Spearman must agree with pandas' rank
    correlation (tie-aware) per supplier."""
    from gibbon_spark.registry import _prep

    got = _run(spark, "corr_spearman_supplier").set_index("supp")["spearman_rho"]
    (li,) = _prep(spark, SF_SMALL, "lineitem")
    pdf = li.select("l_suppkey", "l_quantity", "l_extendedprice").toPandas()
    import numpy as np

    pdf["p"] = np.floor(pdf["l_extendedprice"] * 100 + 0.5)
    for supp, grp in pdf.groupby("l_suppkey"):
        if supp not in got.index:
            continue
        # Spearman = Pearson on tie-averaged ranks (pandas' spearman
        # mode needs scipy, which this container doesn't ship)
        rq = grp["l_quantity"].rank(method="average")
        rp = grp["p"].rank(method="average")
        rho = rq.corr(rp)
        assert abs(got.loc[supp] - rho) < 1e-5, f"supplier {supp}"


def test_bollinger_bands_sane(spark):
    """Band geometry: lower <= mid <= upper, and a breakout row's value
    really lies outside its own bands (recomputed from the output)."""
    pdf = _run(spark, "ts_bollinger_bands")
    assert (pdf["lower_band"] <= pdf["mid"] + 1e-9).all()
    assert (pdf["mid"] <= pdf["upper_band"] + 1e-9).all()
    assert pdf["breakout"].isin([0, 1]).all()
    # warm-up rows are excluded: every series loses WINDOW-1 rows
    from gibbon_spark.registry import _prep
    from gibbon_spark.registry.timeseries import _BB_WINDOW

    (events,) = _prep(spark, SF_SMALL, "events")
    per_series = events.groupBy("event_type").count().collect()
    expect = {r.event_type: r["count"] - (_BB_WINDOW - 1) for r in per_series}
    got = pdf.groupby("series").size().to_dict()
    assert got == expect


def test_streaming_hll_registers_match_batch(spark):
    """The streamed register table equals the batch registers computed
    directly — mergeable-sketch state is micro-batching-invariant."""
    from pyspark.sql import functions as F

    from gibbon_spark.registry import _prep

    stream_pdf = (
        _run(spark, "streaming_sketch_hll")
        .sort_values(["day_num", "bucket"])
        .reset_index(drop=True)
    )
    (events,) = _prep(spark, SF_SMALL, "events")
    hexid = F.md5(F.col("user_id").cast("string"))
    v = F.conv(F.substring(hexid, 3, 13), 16, 10).cast("bigint")
    rho = F.when(v == 0, F.lit(53)).otherwise(
        F.bit_count((v.bitwiseAND(-v)) - 1) + 1
    )
    batch_pdf = (
        events.select(
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day_num"),
            F.conv(F.substring(hexid, 1, 2), 16, 10).cast("bigint").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("day_num", "bucket")
        .agg(F.max("rho").alias("register"))
        .toPandas()
        .sort_values(["day_num", "bucket"])
        .reset_index(drop=True)
    )
    assert stream_pdf.equals(batch_pdf)


def test_cuped_against_numpy(spark):
    """CUPED theta and both z statistics recomputed in numpy from the
    same quantization pipeline must match the registry output."""
    import hashlib

    import numpy as np

    from gibbon_spark.registry import _prep

    got = _run(spark, "abtest_cuped").iloc[0]
    (events,) = _prep(spark, SF_SMALL, "events")
    pdf = events.select("user_id", "ts", "value").toPandas()
    s = pdf["ts"].astype("int64") // 10**9
    thr = s.min() + int(np.floor((s.max() - s.min()) / 2.0))
    yi = np.floor(pdf["value"].to_numpy() * 10000 + 0.5)
    users = {}
    for uid, si, y in zip(pdf["user_id"], s, yi):
        d = users.setdefault(uid, [[], []])
        d[0 if si < thr else 1].append(y)
    xq, yq, arms = [], [], []
    for uid, (pre, post) in users.items():
        if not pre or not post:
            continue
        xq.append(np.floor(np.sum(pre) / len(pre) + 0.5))
        yq.append(np.floor(np.sum(post) / len(post) + 0.5))
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:4], 16) % 2
        arms.append("A" if h == 0 else "B")
    xq, yq = np.array(xq), np.array(yq)
    arms = np.array(arms)
    n = len(xq)
    theta = (n * np.sum(xq * yq) - xq.sum() * yq.sum()) / (
        n * np.sum(xq * xq) - xq.sum() ** 2
    )
    assert got["n_users"] == n
    assert abs(got["theta"] - theta) < 1e-6
    xbar = round(xq.sum() / n + 1e-9, 4)
    theta_q = round(theta + 1e-9, 8)
    yadj = np.floor(yq - theta_q * (xq - xbar) + 0.5)

    def welch(a, b):
        return (a.mean() - b.mean()) / np.sqrt(
            a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
        )

    z_raw = welch(yq[arms == "A"], yq[arms == "B"])
    z_cuped = welch(yadj[arms == "A"], yadj[arms == "B"])
    assert abs(got["z_raw"] - z_raw) < 1e-3
    assert abs(got["z_cuped"] - z_cuped) < 1e-3


def test_trimmed_mean_matches_pandas(spark):
    """Trimmed and winsorized means recomputed in pandas from the same
    integer-cent quantization must match."""
    import numpy as np

    from gibbon_spark.registry import _prep
    from gibbon_spark.registry.analytics import _TRIM_PCT

    got = _run(spark, "agg_trimmed_mean").set_index("grp")
    (orders,) = _prep(spark, SF_SMALL, "orders")
    pdf = orders.select("o_orderpriority", "o_totalprice").toPandas()
    pdf["cents"] = np.floor(pdf["o_totalprice"] * 100 + 0.5).astype("int64")
    for grp, g in pdf.groupby("o_orderpriority"):
        c = np.sort(g["cents"].to_numpy())
        n = len(c)
        k = int(np.floor(n * _TRIM_PCT / 100.0))
        r = got.loc[grp]
        assert r["n_rows"] == n and r["n_trimmed_each_side"] == k
        trimmed = c[k : n - k]
        assert abs(r["mean_trimmed"] - trimmed.mean() / 100.0) < 1e-4
        wins = np.clip(c, c[k], c[n - k - 1])
        assert abs(r["mean_winsorized"] - wins.mean() / 100.0) < 1e-4
        assert abs(r["mean_raw"] - c.mean() / 100.0) < 1e-4
