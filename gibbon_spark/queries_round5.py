"""Round-5 query registrations.

1. ``codec_xoror_winner`` / ``codec_xoror_bits`` — the engine answers
   the reference's own open question ``[XORORLEADING]``
   (``/root/reference/README.md:36-39``; ``double_stream_lead_trail.rs:25-28``
   keeps BOTH xor-window policies "until a clear winner has been
   crowned"): exact integer bit counts of the shrinking-window
   ``DoubleEncoder`` vs the persistent-window ``DoubleEncoderLeadTrail``
   over every series' value stream, distributed. The winner statement
   lives in SURVEY.md §8; golden totals at sf0.001 are pinned in
   tests/test_round5_ops.py.

2. ``text_perplexity_bigram`` — CCNet-style LM quality filter (Wenzek
   et al., "CCNet: Extracting High Quality Monolingual Datasets from
   Web Crawl Data", 2019): an add-one-smoothed bigram LM trained on the
   deterministic md5 train split scores every document; per-doc
   surprisal is integer-exact (base-2, floor), so the oracle replays it
   bit-for-bit with no libm log in either engine.

Reference parity: gibbon is a single-series codec (``src/lib.rs:1-19``);
the perplexity filter belongs to the 100 TB training-data-pipeline
layer the brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gibbon_spark.codec import oracle_sql as _codec_oracle
from gibbon_spark.queries import _prep, query
from gibbon_spark.materialize import materialize

_CODEC_BUCKETS = 64  # applyInPandas callbacks per stage, not per series


def _series_codec_stats(events: DataFrame, verify: bool) -> DataFrame:
    """Per-series value-stream bit counts under BOTH xor-window policies
    (and, when ``verify``, a bit-exact decode round-trip per policy).

    Scale posture: series are grouped into ``_CODEC_BUCKETS`` hash
    buckets so the Python callback fires per BUCKET (64 calls), not per
    series — inside, `encode_values_vectorized` encodes every series of
    the bucket in one numpy pass (cogroup-per-key callbacks were
    measured ~35x slower on entity-granularity keys — see the bucket-vs-
    cogroup note in docs/API.md §"Deploying at 100 TB"). One shuffle on
    the bucket key; buckets stay
    O(rows/64) regardless of series count, so 100 TB = more buckets via
    the constant, never a big task."""
    import pandas as pd

    from gibbon_spark.codec.gorilla import decode_values, encode_values_vectorized

    def per_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(["user_id", "ts", "event_id"])
        vals = pdf["value"].to_numpy(np.float64)
        uid = pdf["user_id"].to_numpy(np.int64)
        n = len(uid)
        is_start = np.empty(n, dtype=bool)
        is_start[0] = True
        is_start[1:] = uid[1:] != uid[:-1]
        out = {}
        start_idx = None
        for pol in ("xor", "leadtrail"):
            payloads, nbits, start_idx = encode_values_vectorized(
                vals, is_start, pol
            )
            out[pol] = (payloads, np.asarray(nbits, dtype=np.int64))
        ends = np.concatenate([start_idx[1:], [n]])
        n_per = ends - start_idx
        res = {
            "user_id": uid[start_idx],
            "n_values": n_per,
            "xor_bits": out["xor"][1],
            "leadtrail_bits": out["leadtrail"][1],
        }
        if verify:
            raw = vals.view(np.uint64)
            for pol in ("xor", "leadtrail"):
                payloads, nbits = out[pol]
                ok = np.empty(len(payloads), dtype=bool)
                for i, (p, nb, s, e) in enumerate(
                    zip(payloads, nbits, start_idx, ends)
                ):
                    dec = np.array(
                        decode_values(p, int(nb), pol), dtype=np.float64
                    )
                    ok[i] = len(dec) == e - s and bool(
                        (dec.view(np.uint64) == raw[s:e]).all()
                    )
                res[f"{pol}_ok"] = ok
        else:
            res["xor_ok"] = np.ones(len(start_idx), dtype=bool)
            res["leadtrail_ok"] = np.ones(len(start_idx), dtype=bool)
        return pd.DataFrame(res)[
            [
                "user_id",
                "n_values",
                "xor_bits",
                "leadtrail_bits",
                "xor_ok",
                "leadtrail_ok",
            ]
        ]

    return (
        events.select("user_id", "ts", "event_id", "value")
        .withColumn("_b", F.pmod(F.hash(F.col("user_id")), F.lit(_CODEC_BUCKETS)))
        .groupBy("_b")
        .applyInPandas(
            per_bucket,
            "user_id bigint, n_values bigint, xor_bits bigint, "
            "leadtrail_bits bigint, xor_ok boolean, leadtrail_ok boolean",
        )
    )


@query(
    "codec_xoror_winner",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           count(*) AS n_values,
           TRUE AS xor_roundtrip_ok,
           TRUE AS leadtrail_roundtrip_ok,
           TRUE AS bits_bounded
    FROM events
    GROUP BY user_id
    """,
)
def q_codec_xoror_winner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``[XORORLEADING]``, correctness half: per series, encode the
    value stream with BOTH xor-window policies, decode each with its
    decoder, and assert (a) bit-exact round-trip per policy and (b) the
    exact bit totals sit inside the format's hard bounds (first record
    64 bits; every later record in [1, 77] bits — 77 = ``11`` + 5-bit
    lz + 6-bit meaningful-1 + 64 payload). The oracle pins per-series
    row counts and all three booleans, so one garbled window under
    EITHER policy anywhere in the corpus flips the hash. The measured
    bit totals themselves are the rows-only twin ``codec_xoror_bits``
    (exact integers pinned at sf0.001 in tests/test_round5_ops.py)."""
    (events,) = _prep(spark, sf_dir, "events")
    stats = _series_codec_stats(events, verify=True)
    lower = F.lit(64) + (F.col("n_values") - 1)
    upper = F.lit(64) + (F.col("n_values") - 1) * 77
    bounded = (
        F.col("xor_bits").between(lower, upper)
        & F.col("leadtrail_bits").between(lower, upper)
    )
    return stats.select(
        "user_id",
        "n_values",
        F.col("xor_ok").alias("xor_roundtrip_ok"),
        F.col("leadtrail_ok").alias("leadtrail_roundtrip_ok"),
        bounded.alias("bits_bounded"),
    )


@query("codec_xoror_bits", _codec_oracle.CODEC_XOROR_BITS_ORACLE)
def q_codec_xoror_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``[XORORLEADING]``, measurement half. Converted from rows-only to
    hash-exact in round 8: the oracle replays BOTH xor-window encoders'
    exact per-record bit costs in SQL (DOUBLE::BIT reinterpret +
    packed-BIGINT list_reduce folds — codec/oracle_sql.py), so the
    corpus-level bits/sample, the crowned winner and its margin are all
    hash-pinned against an independent engine. Golden totals at
    sf0.001 remain pytest-pinned; coverage/round-trip stay checked by
    the ``codec_xoror_winner`` twin. The measured answer is stated in
    SURVEY.md §8."""
    (events,) = _prep(spark, sf_dir, "events")
    stats = _series_codec_stats(events, verify=False)
    agg = stats.agg(
        F.count(F.lit(1)).alias("n_series"),
        F.sum("n_values").alias("n_values"),
        F.sum("xor_bits").alias("xor_total_bits"),
        F.sum("leadtrail_bits").alias("leadtrail_total_bits"),
    )
    xbps = F.col("xor_total_bits") / F.col("n_values")
    lbps = F.col("leadtrail_total_bits") / F.col("n_values")
    winner = (
        F.when(F.col("xor_total_bits") < F.col("leadtrail_total_bits"), "xor")
        .when(F.col("leadtrail_total_bits") < F.col("xor_total_bits"), "leadtrail")
        .otherwise("tie")
    )
    margin = (
        (F.greatest(xbps, lbps) - F.least(xbps, lbps))
        / F.greatest(xbps, lbps)
        * 100
    )
    return agg.select(
        "n_series",
        "n_values",
        "xor_total_bits",
        "leadtrail_total_bits",
        F.round(xbps + F.lit(1e-9), 4).alias("xor_bits_per_sample"),
        F.round(lbps + F.lit(1e-9), 4).alias("leadtrail_bits_per_sample"),
        winner.alias("winner"),
        F.round(margin + F.lit(1e-9), 4).alias("winner_margin_pct"),
    )


# ---------------------------------------------------------------------------
# CCNet-style bigram-LM perplexity filter (integer-exact, no libm)
# ---------------------------------------------------------------------------

@query(
    "text_perplexity_bigram",
    """
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS tk,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
               % 100 < 80 AS is_train
      FROM documents
    ),
    bg AS (
      SELECT doc_id, is_train,
             unnest(tk[1:len(tk)-1]) AS w1,
             unnest(tk[2:len(tk)]) AS w2
      FROM toks WHERE len(tk) >= 2
    ),
    cbg AS (SELECT w1, w2, count(*) AS c FROM bg WHERE is_train GROUP BY w1, w2),
    cw  AS (SELECT w1, count(*) AS cf FROM bg WHERE is_train GROUP BY w1),
    v AS (
      SELECT count(DISTINCT tok) + 1 AS vsize
      FROM (SELECT unnest(tk) AS tok FROM toks WHERE is_train)
    ),
    scored AS (
      SELECT b.doc_id,
             COALESCE(cbg.c, 0) + 1 AS a,
             COALESCE(cw.cf, 0) + (SELECT vsize FROM v) AS den
      FROM bg b
      LEFT JOIN cbg ON b.w1 = cbg.w1 AND b.w2 = cbg.w2
      LEFT JOIN cw  ON b.w1 = cw.w1
    ),
    surp AS (
      SELECT doc_id,
             CASE WHEN (den >> e) >= a THEN e ELSE e - 1 END AS s
      FROM (SELECT doc_id, a, den,
                   length(bin(den)) - length(bin(a)) AS e
            FROM scored)
    ),
    per_doc AS (
      SELECT doc_id,
             count(*) AS n_bigrams,
             CAST(sum(s) AS BIGINT) AS total_surprisal,
             CAST(sum(s) * 100 // count(*) AS BIGINT) AS ppl_bucket
      FROM surp
      GROUP BY doc_id
    ),
    byb AS (SELECT ppl_bucket, count(*) AS c FROM per_doc GROUP BY ppl_bucket),
    th AS (
      SELECT min(ppl_bucket) AS t FROM (
        SELECT ppl_bucket,
               sum(c) OVER (ORDER BY ppl_bucket) AS cum,
               (SELECT sum(c) FROM byb) AS tot
        FROM byb
      ) WHERE cum * 3 >= tot
    )
    SELECT doc_id, n_bigrams, total_surprisal, ppl_bucket,
           ppl_bucket <= (SELECT t FROM th) AS keep
    FROM per_doc
    """,
)
def q_text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: train an add-one-smoothed bigram
    LM on the deterministic md5 train split (same 80% bucket predicate
    as sample_split_hash), score EVERY document's whitespace-token
    bigrams, bucket docs by integer CENTIBITS/bigram, and keep the
    lowest-perplexity head (CCNet's corpus-relative percentile cut,
    here the discrete head third: the smallest bucket t with
    cum_docs(bucket <= t) * 3 >= total_docs; boundary ties keep).

    Integer-exact surprisal: p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V+1) is
    a ratio of integers a/den, and the per-bigram surprisal is the
    EXACT floor(log2(den/a)) computed with bit lengths (length(bin(x)))
    and one shift compare — no libm log in either engine, so the DuckDB
    oracle replays every bucket and the threshold bit-for-bit (the
    registry's rational discipline, cf. text_unigram_fluency). Explicit
    <unk> mapping is provably a no-op under add-one smoothing with
    vocab = train tokens (an OOV token's bigram and first-token counts
    are 0 either way), so the LM lookup is two plain left joins.

    Scale posture: bigram explode is a generator output (one eval per
    doc); the LM is two keyed aggregates; scoring is two keyed left
    joins (the w1 table has one row per token type, the (w1,w2) table
    one row per bigram type — no replication blow-up) + a one-row
    broadcast for V; final agg is doc-keyed. The threshold pass runs a
    global cumulative window over the per-BUCKET histogram — bounded by
    the number of distinct centibit buckets (≤ ~6400), never by docs —
    then broadcasts one row (allow-listed global window, cf.
    weighted_median's two-level cumsum). Docs with <2 tokens carry no
    bigram evidence and are excluded (documented contract)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100
    )
    tk = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = docs.select(
        "doc_id", tk.alias("tk"), (bucket < 80).alias("is_train")
    ).filter(F.size("tk") >= 2)
    pairs = F.arrays_zip(
        F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("w1"),
        F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("w2"),
    )
    bg = toks.select(
        "doc_id", "is_train", F.explode(pairs).alias("p")
    ).select("doc_id", "is_train", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    train_bg = bg.filter(F.col("is_train"))
    cbg = train_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    cw = train_bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cf"))
    v = (
        toks.filter(F.col("is_train"))
        .select(F.explode("tk").alias("tok"))
        .agg((F.countDistinct("tok") + 1).alias("vsize"))
    )
    scored = (
        bg.join(cbg, ["w1", "w2"], "left")
        .join(cw, ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            (F.coalesce(F.col("c"), F.lit(0)) + 1).alias("a"),
            (F.coalesce(F.col("cf"), F.lit(0)) + F.col("vsize")).alias("den"),
        )
    )
    surp = scored.withColumn(
        "e", F.length(F.bin("den")) - F.length(F.bin("a"))
    ).select(
        "doc_id",
        F.when(
            F.expr("shiftright(den, e)") >= F.col("a"), F.col("e")
        ).otherwise(F.col("e") - 1).alias("s"),
    )
    # per_doc feeds BOTH the threshold histogram and the final output;
    # without a materialization Spark replays the whole pipeline
    # (corpus scan -> bigram explode -> two LM joins -> doc agg) TWICE
    # per action. Same measured rationale as the dedup prefix-filter
    # shingle checkpoint (operators/dedup.py:150): store the doc-keyed
    # aggregate (one narrow row per doc) once, read it from blocks in
    # both consumers. Integer-exact values, so the oracle replay is
    # unaffected.
    per_doc = (
        surp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("s").alias("total_surprisal"),
        )
        .withColumn(
            "ppl_bucket", F.expr("(total_surprisal * 100) div n_bigrams")
        )
        .transform(materialize, eager=False)
    )
    from pyspark.sql import Window

    byb = per_doc.groupBy("ppl_bucket").agg(F.count(F.lit(1)).alias("c"))
    cum = byb.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("ppl_bucket").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    tot = byb.agg(F.sum("c").alias("tot"))
    th = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 3 >= F.col("tot"))
        .agg(F.min("ppl_bucket").alias("t"))
    )
    return per_doc.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "n_bigrams",
        "total_surprisal",
        "ppl_bucket",
        (F.col("ppl_bucket") <= F.col("t")).alias("keep"),
    )
