"""Adversarial generated-data tests: registry queries run against
synthetic parquet tables (same schema as the driver testdata) built to
hit edge geometry the fixed testdata can't — exact-touching intervals,
pathological whitespace, zipf-skewed token floods — and are checked
against brute-force Python reimplementations. Seeded, deterministic."""

from __future__ import annotations

import os
import random
import tempfile

import __spark_entry__ as entrymod


def _write_events(spark, rows):
    """rows: list of (event_id, ts_epoch_seconds, user_id, event_type,
    value, props). Writes an events.parquet with the driver schema."""
    d = tempfile.mkdtemp(prefix="gibbon_gen_")
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "event_id long, ts_s long, user_id long, event_type string, "
        "value double, props string"
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
    return d


def _write_documents(spark, rows):
    """rows: list of (doc_id, text, lang, source)."""
    d = tempfile.mkdtemp(prefix="gibbon_gen_")
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    return d


def test_interval_union_exact_touching_boundaries(spark):
    """Intervals that touch exactly (gap == interval length) must merge;
    gap of interval+1 must not. Brute-force second-set union is the
    oracle."""
    from gibbon_spark.registry.analytics import _IVL_SECONDS

    rng = random.Random(42)
    rows = []
    eid = 0
    base = 1_700_000_000
    for user in range(20):
        t = base
        for _ in range(rng.randint(1, 30)):
            # adversarial gaps clustered around the merge boundary
            t += rng.choice(
                [0, 1, _IVL_SECONDS - 1, _IVL_SECONDS, _IVL_SECONDS + 1, 7200]
            )
            rows.append((eid, t, user, "view", 1.0, "{}"))
            eid += 1
    d = _write_events(spark, rows)
    got = (
        entrymod.queries()["interval_coverage_union"](spark, d)
        .toPandas()
        .set_index("user_id")
    )
    # brute force: union of second sets
    by_user: dict[int, list[int]] = {}
    for _, t, user, *_ in rows:
        by_user.setdefault(user, []).append(t)
    for user, starts in by_user.items():
        covered = set()
        for s in starts:
            covered.update(range(s, s + _IVL_SECONDS))
        r = got.loc[user]
        assert r["covered_seconds"] == len(covered), f"user {user}"
        assert r["n_events"] == len(starts)


def test_chunker_on_pathological_whitespace(spark):
    """Multiple spaces, tabs, newlines, and leading/trailing whitespace
    must tokenize identically to Python's regex split, and chunk text
    must reassemble exactly those tokens."""
    import re

    from gibbon_spark.registry.text import _CHUNK_TOKENS

    docs = [
        (0, "  leading and trailing   ", "en", "web"),
        (1, "tab\tseparated\ttokens\there", "en", "web"),
        (2, "new\nlines\nand\r\nreturns mixed  with   spaces", "en", "web"),
        (3, "one", "en", "web"),
        (4, " ".join(f"tok{i}" for i in range(100)), "en", "web"),
        (5, "a  b   c    d     e", "en", "web"),
    ]
    d = _write_documents(spark, docs)
    got = entrymod.queries()["chunk_documents_overlap"](spark, d).toPandas()
    for doc_id, text, *_ in docs:
        toks = re.split(r"\s+", text.strip())
        grp = got[got["doc_id"] == doc_id].sort_values("chunk_id")
        for _, row in grp.iterrows():
            start = int(row["start_token"]) - 1
            expect = toks[start : start + _CHUNK_TOKENS]
            assert row["chunk_text"] == " ".join(expect), (
                f"doc {doc_id} chunk {row['chunk_id']}"
            )
        # every token covered: first chunk starts at 1 and starts reach
        # the final token
        starts = grp["start_token"].tolist()
        assert starts[0] == 1
        assert starts[-1] + int(grp["n_tokens"].iloc[-1]) - 1 == len(toks)


def test_heavy_hitters_under_zipf_flood(spark):
    """A zipf-skewed token flood (one token is ~20% of the corpus):
    the MG sketch + exact recount must equal the exact > N/k set."""
    from gibbon_spark.registry.analytics import _MG_K

    rng = random.Random(7)
    docs = []
    vocab = [f"w{i}" for i in range(500)]
    for doc_id in range(200):
        n = rng.randint(20, 60)
        words = []
        for _ in range(n):
            r = rng.random()
            if r < 0.20:
                words.append("theflood")
            elif r < 0.30:
                words.append("secondary")
            else:
                words.append(rng.choice(vocab))
        docs.append((doc_id, " ".join(words), "en", "web"))
    d = _write_documents(spark, docs)
    got = entrymod.queries()["heavy_hitters_mg"](spark, d).toPandas()
    from collections import Counter

    counts = Counter()
    for _, text, *_ in docs:
        counts.update(text.split(" "))
    n_total = sum(counts.values())
    exact = {t for t, c in counts.items() if c * _MG_K > n_total}
    assert set(got["token"]) == exact
    assert "theflood" in exact  # the flood token really is heavy
    got_counts = dict(zip(got["token"], got["n_occurrences"]))
    for t in exact:
        assert got_counts[t] == counts[t]


def test_bollinger_warmup_and_flat_series(spark):
    """A perfectly flat series has sigma 0 and bands equal to the value;
    warm-up rows (first WINDOW-1 samples) are excluded."""
    from gibbon_spark.registry.timeseries import _BB_WINDOW

    rows = []
    base = 1_700_000_000
    for i in range(40):
        rows.append((i, base + i * 60, 1, "flat", 5.0, "{}"))
    for i in range(40):
        rows.append((1000 + i, base + i * 60, 2, "ramp", float(i), "{}"))
    d = _write_events(spark, rows)
    got = entrymod.queries()["ts_bollinger_bands"](spark, d).toPandas()
    flat = got[got["series"] == "flat"]
    assert len(flat) == 40 - (_BB_WINDOW - 1)
    assert (flat["mid"] == 5.0).all()
    assert (flat["upper_band"] == 5.0).all()
    assert (flat["lower_band"] == 5.0).all()
    assert (flat["breakout"] == 0).all()
    ramp = got[got["series"] == "ramp"]
    assert len(ramp) == 40 - (_BB_WINDOW - 1)
    # a noisy-free linear ramp still has positive spread in the frame
    assert (ramp["mid"] < ramp["upper_band"]).all()


def test_ahash_uniform_and_structured_images(spark):
    """A uniform image hashes to all-zeros (strict pixel*64 > sum is
    false everywhere); two docs with identical text collide; a
    structured gradient produces a balanced, deterministic hash."""
    docs = [
        (0, "a" * 96, "en", "web"),          # uniform image
        (3, "identical payload text " * 4, "en", "web"),
        (6, "identical payload text " * 4, "en", "web"),  # byte-equal dup
        (9, "".join(chr(ord("a") + (i % 26)) for i in range(120)), "en", "web"),
    ]
    d = _write_documents(spark, docs)
    got = (
        entrymod.queries()["multimodal_ahash_dedup"](spark, d)
        .toPandas()
        .set_index("media_id")
    )
    assert set(got.index) == {0, 3, 6, 9}  # doc_id % 3 == 0 only
    assert got.loc[0, "ahash"] == "0" * 64
    assert got.loc[3, "ahash"] == got.loc[6, "ahash"]
    assert got.loc[3, "n_shared"] == 2 and got.loc[3, "is_dup"] == 1
    assert got.loc[9, "is_dup"] == 0
    h9 = got.loc[9, "ahash"]
    assert set(h9) <= {"0", "1"} and "1" in h9
