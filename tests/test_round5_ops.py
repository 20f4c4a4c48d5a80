"""Round-5 operator tests: the [XORORLEADING] comparison goldens and the
CCNet-style bigram-perplexity filter vs an independent numpy/dict LM."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMALL

from gibbon_spark.codec.gorilla import encode_values_vectorized


def _series_bits(policy: str) -> tuple[int, int]:
    """Exact total bits over sf0.001 events, one block per user_id series
    ordered (ts, event_id) — the same construction as the registered
    codec_xoror_* queries, Spark-free."""
    t = pq.read_table(f"{SF_SMALL}/events.parquet").to_pandas()
    t = t.sort_values(["user_id", "ts", "event_id"])
    uid = t["user_id"].to_numpy(np.int64)
    vals = t["value"].to_numpy(np.float64)
    is_start = np.empty(len(uid), dtype=bool)
    is_start[0] = True
    is_start[1:] = uid[1:] != uid[:-1]
    _, nbits, _ = encode_values_vectorized(vals, is_start, policy)
    return int(nbits.sum()), len(vals)


def test_xoror_golden_totals_sf0001():
    # Pinned measurement — the registered codec_xoror_bits query must
    # report exactly these totals at sf0.001 (driver events are noisy:
    # ~62 bits/sample, shrinking-window xor narrowly ahead).
    xor_bits, n = _series_bits("xor")
    lt_bits, n2 = _series_bits("leadtrail")
    assert n == n2 == 1000
    assert xor_bits == 62228
    assert lt_bits == 62622
    assert xor_bits < lt_bits  # [XORORLEADING] on noisy data: xor wins


def test_xoror_smooth_series_leadtrail_wins():
    # The reference's actual design target (Gorilla-paper gauge shapes):
    # on compressible series the PERSISTENT window wins decisively —
    # the shrinking variant's window narrows monotonically between
    # explicit re-opens (it derives from the previous xor), forcing a
    # 13-bit header re-open far more often.
    rng = np.random.default_rng(42)
    scenarios = {
        "smooth_gauge_2dp": np.cumsum(rng.normal(0, 0.05, 20_000)).round(2)
        + 100,
        "int_counter": np.cumsum(rng.integers(0, 3, 20_000)).astype(float),
    }
    for name, vals in scenarios.items():
        per = 100
        is_start = np.zeros(len(vals), dtype=bool)
        is_start[::per] = True
        _, xb, _ = encode_values_vectorized(vals, is_start, "xor")
        _, lb, _ = encode_values_vectorized(vals, is_start, "leadtrail")
        assert int(lb.sum()) < int(xb.sum()), name
        # decisive margin, not a rounding artifact
        assert (int(xb.sum()) - int(lb.sum())) / int(xb.sum()) > 0.02, name


def test_xoror_bits_query_matches_offline(spark):
    res = {
        r["user_id"]: (r["n_values"], r["xor_bits"], r["leadtrail_bits"])
        for r in __import__("gibbon_spark.registry.codec", fromlist=["x"])
        ._series_codec_stats(
            spark.read.parquet(f"{SF_SMALL}/events.parquet"), verify=True
        )
        .collect()
    }
    t = pq.read_table(f"{SF_SMALL}/events.parquet").to_pandas()
    t = t.sort_values(["user_id", "ts", "event_id"])
    for uid, grp in t.groupby("user_id"):
        vals = grp["value"].to_numpy(np.float64)
        is_start = np.zeros(len(vals), dtype=bool)
        is_start[0] = True
        _, xb, _ = encode_values_vectorized(vals, is_start, "xor")
        _, lb, _ = encode_values_vectorized(vals, is_start, "leadtrail")
        assert res[uid] == (len(vals), int(xb.sum()), int(lb.sum()))


def test_perplexity_bigram_vs_dict_lm(spark):
    """Independent reimplementation of the CCNet-style filter with plain
    Python dicts — same tokenization, same md5 split, same add-one
    smoothing, same exact integer floor(log2) — must agree row-for-row
    with the registered distributed query."""
    import hashlib

    from gibbon_spark.registry.text import q_text_perplexity_bigram

    t = pq.read_table(f"{SF_SMALL}/documents.parquet").to_pandas()

    def is_train(doc_id: int) -> bool:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
        return int(h, 16) % 100 < 80

    def toks(text: str) -> list[str]:
        import re

        return re.split(r"\s+", text.strip().lower())

    cbg: dict[tuple[str, str], int] = {}
    cw: dict[str, int] = {}
    vocab = set()
    for _, row in t.iterrows():
        tk = toks(row["text"])
        if not is_train(int(row["doc_id"])):
            continue
        vocab.update(tk)
        if len(tk) < 2:
            continue
        for w1, w2 in zip(tk, tk[1:]):
            cbg[(w1, w2)] = cbg.get((w1, w2), 0) + 1
            cw[w1] = cw.get(w1, 0) + 1
    V = len(vocab) + 1

    partial = {}
    for _, row in t.iterrows():
        tk = toks(row["text"])
        if len(tk) < 2:
            continue
        total = 0
        nb = 0
        for w1, w2 in zip(tk, tk[1:]):
            a = cbg.get((w1, w2), 0) + 1
            den = cw.get(w1, 0) + V
            e = den.bit_length() - a.bit_length()
            s = e if (den >> e) >= a else e - 1
            assert s >= 0
            total += s
            nb += 1
        bucket = (total * 100) // nb
        partial[int(row["doc_id"])] = (nb, total, bucket)

    # discrete head-third threshold: smallest bucket t with
    # |{docs: bucket <= t}| * 3 >= |docs|
    buckets = sorted(b for (_, _, b) in partial.values())
    n_docs = len(buckets)
    cum = 0
    t_head = None
    for b in sorted(set(buckets)):
        cum += buckets.count(b)
        if cum * 3 >= n_docs:
            t_head = b
            break
    expected = {
        d: (nb, tot, b, b <= t_head) for d, (nb, tot, b) in partial.items()
    }

    got = {
        r["doc_id"]: (
            r["n_bigrams"],
            r["total_surprisal"],
            r["ppl_bucket"],
            r["keep"],
        )
        for r in q_text_perplexity_bigram(spark, SF_SMALL).collect()
    }
    assert got == expected
    assert len(expected) > 0
    # corpus-relative cut is non-degenerate: both classes present
    keeps = {v[3] for v in expected.values()}
    assert keeps == {True, False}, (
        f"head-third cut degenerate (t={t_head}); bucket spread "
        f"{min(buckets)}..{max(buckets)}"
    )
