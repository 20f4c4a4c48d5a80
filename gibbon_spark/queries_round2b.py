"""Round-2 batch B registry additions — RAG/document preparation and
interval analytics:

- ``chunk_documents_overlap``: fixed-token-window chunking with overlap
  (the RAG / context-window preprocessing step),
- ``dedup_exact_substring``: stride-sampled exact substring duplication
  scan (the Lee-et-al-style "duplicated span" signal, cross-document),
- ``vocab_coverage_oov``: vocabulary build on the train split + OOV-rate
  audit on held-out splits (tokenizer-coverage check before training),
- ``interval_coverage_union``: per-user union length of overlapping
  activity intervals (sweep-line islands, all keyed windows).

Same contract as :mod:`gibbon_spark.queries`: each Spark plan is paired
with a DuckDB oracle that replays the identical arithmetic so the
driver's value-hash compare is deterministic at any parallelism.

Reference scope note: the reference (johshoff/gibbon) is a time-series
codec library (``src/timestamp_stream.rs``, ``src/double_stream.rs``);
none of these operators exist there — they are requested engine surface
beyond the reference (SURVEY.md §2.2: LLM-pipeline text/dedup rows and
the time-series analytics row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gibbon_spark.materialize import materialize
from gibbon_spark.queries import _prep, query

# =========================================================================
# RAG chunking: fixed token windows with overlap
# =========================================================================

_CHUNK_TOKENS = 16
_CHUNK_STRIDE = 12  # 4-token overlap between consecutive chunks


@query(
    "chunk_documents_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks), 1) + 1, {_CHUNK_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS start_token,
           CAST(len(toks[start:start + {_CHUNK_TOKENS} - 1]) AS INTEGER) AS n_tokens,
           array_to_string(toks[start:start + {_CHUNK_TOKENS} - 1], ' ') AS chunk_text,
           md5(array_to_string(toks[start:start + {_CHUNK_TOKENS} - 1], ' ')) AS chunk_hash
    FROM s
    """,
)
def q_chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: split each document into
    ``_CHUNK_TOKENS``-token windows advancing by ``_CHUNK_STRIDE``
    (4-token overlap), emitting (doc_id, chunk_id, start_token,
    n_tokens, chunk_text, chunk_hash). Start positions run to the end of
    the document so every token is covered; tail chunks may be shorter.

    Scale posture: pure per-row array expressions (split / sequence /
    slice / array_join, all codegen) followed by one explode — a narrow
    map with NO shuffle at all; at 100 TB this runs at scan speed and
    the output partitioning inherits the input's. The chunk_hash column
    is the downstream join/dedup key so consumers never shuffle the
    chunk text itself."""
    (docs,) = _prep(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(_CHUNK_STRIDE)
    )
    chunk = F.slice(F.col("toks"), F.col("start"), _CHUNK_TOKENS)
    chunk_text = F.array_join(chunk, " ")
    return (
        docs.select("doc_id", toks.alias("toks"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            ((F.col("start") - 1) / _CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.col("start").cast("bigint").alias("start_token"),
            F.size(chunk).alias("n_tokens"),
            chunk_text.alias("chunk_text"),
            F.md5(chunk_text).alias("chunk_hash"),
        )
    )


# =========================================================================
# Exact-substring duplication scan (stride-sampled character windows)
# =========================================================================

_SUB_W = 24  # window width in characters
_SUB_S = 8  # stride between window starts


@query(
    "dedup_exact_substring",
    f"""
    WITH p AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text) - {_SUB_W} + 1, 1) + 1,
                          {_SUB_S})) AS pos
      FROM documents
    ),
    h AS (
      SELECT doc_id, md5(substr(text, CAST(pos AS INTEGER), {_SUB_W})) AS wh
      FROM p
    ),
    d AS (
      SELECT wh, count(DISTINCT doc_id) AS n_docs FROM h GROUP BY wh
    )
    SELECT h.doc_id,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           round(CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) + 1e-9, 6) AS dup_fraction
    FROM h JOIN d USING (wh)
    GROUP BY h.doc_id
    """,
)
def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication scan (the cross-document duplicated-
    span signal behind suffix-array training-data dedup, computed on
    stride-sampled windows): hash every 24-char window starting at
    positions 1, 9, 17, ...; a window is *duplicated* when the identical
    bytes appear in more than one distinct document. Emits per-document
    window counts and the duplicated-window fraction — the score a
    span-level dedup pass would threshold on.

    Scale posture: the stride bounds blow-up at chars/8 rows (a
    full suffix array is chars rows); windows carry (doc_id, hash) only
    — never the text — so the shuffles move 40-byte rows. Plan is
    distinct → count per hash → hash-keyed join back → per-doc agg: all
    keyed shuffles with map-side combine. A boilerplate window shared by
    millions of docs is ONE counter row in `d`, not a join blow-up,
    because the join back is per-(window, hash) — each doc's window
    matches exactly one `d` row."""
    (docs,) = _prep(spark, sf_dir, "documents")
    # a compact single-file corpus scans as ONE split, which would run
    # the window-explode + per-window md5 in one task (the sf1 scale
    # gate measured it). One pre-explode exchange on doc rows (cheap at
    # any scale — rows are docs, not windows) buys full map width.
    docs = docs.repartition(F.col("doc_id"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length("text") - _SUB_W + 1, F.lit(1)),
        F.lit(_SUB_S),
    )
    # r12 (guide §2.1): wins feeds BOTH the distinct→count-per-hash
    # aggregate and the join-back — without a checkpoint the window
    # explode + per-window md5 replays once per consumer. The table is
    # 40-byte (doc_id, hash) rows, chars/8 of them. Interleaved A/B at
    # sf0.1: wins every rep, min 2.31 → 1.47 s, identical output.
    wins = docs.select(
        "doc_id", F.explode(starts).alias("pos"), F.col("text")
    ).select(
        "doc_id",
        F.md5(F.expr(f"substr(text, pos, {_SUB_W})")).alias("wh"),
    ).transform(materialize, eager=True)
    per_hash = (
        wins.select("wh", "doc_id")
        .distinct()
        .groupBy("wh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    flagged = wins.join(per_hash, "wh").select(
        "doc_id", (F.col("n_docs") > 1).cast("long").alias("dup")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("dup").alias("n_dup_windows"),
        F.round(
            F.sum("dup").cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 6
        ).alias("dup_fraction"),
    )


# =========================================================================
# Vocabulary coverage / OOV audit
# =========================================================================

_VOCAB_SIZE = 256


@query(
    "vocab_coverage_oov",
    f"""
    WITH tok AS (
      SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
               % 100 AS bucket,
             unnest(string_split_regex(text, '\\s+')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM tok WHERE bucket < 80
      GROUP BY token
      ORDER BY count(*) DESC, token
      LIMIT {_VOCAB_SIZE}
    ),
    val AS (
      SELECT lang, token FROM tok WHERE bucket >= 80
    )
    SELECT val.lang,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) + 1e-9, 6) AS oov_rate
    FROM val LEFT JOIN vocab USING (token)
    GROUP BY val.lang
    """,
)
def q_vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: build a 256-entry vocabulary from the
    TRAIN split (same md5-bucket 80/10/10 discipline as
    sample_split_hash — membership is engine-replayable and stable as
    the corpus grows), then measure per-language out-of-vocabulary token
    rate on the held-out 20%. The pre-training sanity check that a
    tokenizer/vocab shipped for a 100 TB corpus actually covers the
    held-out distribution.

    Scale posture: vocab selection is one token-count aggregate followed
    by a bounded global top-K (TakeOrdered — K rows to the driver, not a
    global sort); the coverage join BROADCASTS the 256-row vocab, so the
    held-out scan never shuffles its tokens. Tie-break on (count desc,
    token asc) keeps the vocab deterministic."""
    (docs,) = _prep(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    tok = docs.select(
        "lang",
        bucket.alias("bucket"),
        F.explode(F.split(F.col("text"), r"\s+")).alias("token"),
    )
    vocab = (
        tok.filter(F.col("bucket") < 80)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(_VOCAB_SIZE)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    val = tok.filter(F.col("bucket") >= 80).select("lang", "token")
    joined = val.join(F.broadcast(vocab), "token", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.round(
            F.sum(oov).cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 6
        ).alias("oov_rate"),
    )


# =========================================================================
# Interval union (sweep-line islands) per user
# =========================================================================

_IVL_SECONDS = 300  # each event opens a [ts, ts+300s) activity interval


@query(
    "interval_coverage_union",
    f"""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + {_IVL_SECONDS} AS f
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, f,
             CASE WHEN s > coalesce(
               max(f) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -1) THEN 1 ELSE 0 END AS new_island
      FROM e
    ),
    islands AS (
      SELECT user_id, s, f,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, min(s) AS start_s, max(f) AS end_s, count(*) AS n
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_events,
           count(*) AS n_islands,
           CAST(sum(end_s - start_s) AS BIGINT) AS covered_seconds
    FROM merged GROUP BY user_id
    """,
)
def q_interval_coverage_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping intervals per user (sweep-line): each
    event opens a [ts, ts+300s) activity interval; touching/
    overlapping intervals merge into islands; emits per-user event,
    island, and total covered-second counts. The classic "how long was
    the user actually active" computation that naive sum-of-durations
    double-counts.

    Scale posture: both windows and both aggregates share ONE hash
    partitioning on user_id — Catalyst reuses the exchange, so the whole
    sweep is a single shuffle of (user, 2 longs). The island flag needs
    the running max of interval ends, which is order-defined; the
    secondary sort key (event_id) pins tie order so the result is
    bit-stable at any parallelism. Epoch-second BIGINT arithmetic keeps
    every figure integer-exact."""
    (events,) = _prep(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + _IVL_SECONDS).alias("f"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = e.select(
        "user_id",
        "event_id",
        "s",
        "f",
        (F.col("s") > F.coalesce(F.max("f").over(w_prev), F.lit(-1)))
        .cast("long")
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s", "f", F.sum("new_island").over(w_run).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("start_s"),
        F.max("f").alias("end_s"),
        F.count(F.lit(1)).alias("n"),
    )
    return merged.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("end_s") - F.col("start_s")).cast("bigint").alias(
            "covered_seconds"
        ),
    )


# =========================================================================
# Heavy hitters: Misra-Gries sketch candidates + exact verification
# =========================================================================

_MG_K = 64  # heavy-hitter threshold: count > N/_MG_K


@query(
    "heavy_hitters_mg",
    f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(text, '\\s+')) AS token FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM tok)
    SELECT token, count(*) AS n_occurrences
    FROM tok GROUP BY token
    HAVING count(*) * {_MG_K} > (SELECT n FROM tot)
    ORDER BY n_occurrences DESC, token
    """,
)
def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (tokens with count > N/64) via the sketch-then-
    verify pattern: a per-partition Misra-Gries summary (capacity 64,
    Arrow-batched mapInPandas keeping ONE dict per partition) nominates
    candidates, then only the candidates are exactly counted and
    thresholded. The MG union guarantee makes the output EXACT: if a
    token's global count exceeds N/64 then in at least one partition its
    local count exceeds N_p/64 (otherwise summing the per-partition
    bounds contradicts the global count), so it appears in that
    partition's summary — no false negatives, and the exact recount
    eliminates false positives.

    Scale posture: the token stream is never shuffled — the sketch is a
    narrow map emitting <= 64 rows per partition, candidates collapse to
    a <= 64 x n_partitions distinct set that BROADCASTS back onto the
    second scan, and the exact count aggregates only candidate rows.
    The 1-row total joins via broadcast (allow-listed O(n) nested loop,
    same pattern as tfidf_top_terms). Threshold compares
    count * 64 > N in integers — no division, bit-exact."""
    (docs,) = _prep(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("token"))

    def mg_partition(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["token"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < _MG_K:
                    counters[t] = 1
                else:
                    dead = [k for k in counters if counters[k] == 1]
                    for k in dead:
                        del counters[k]
                    for k in counters:
                        counters[k] -= 1
        yield pd.DataFrame({"token": list(counters.keys())})

    candidates = tok.mapInPandas(mg_partition, "token string").distinct()
    tot = tok.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        tok.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .join(F.broadcast(tot))
        .filter(F.col("n_occurrences") * _MG_K > F.col("n_total"))
        .select("token", "n_occurrences")
        .orderBy(F.col("n_occurrences").desc(), "token")
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
# Per-series linear trend fit + forecast (PromQL predict_linear analog)
# =========================================================================

_FC_HORIZON_S = 86400  # forecast 24h past the last observation


@query(
    "ts_forecast_linear",
    f"""
    WITH e AS (
      SELECT event_type AS series,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS yi
      FROM events
    ),
    c AS (
      SELECT series, s - min(s) OVER (PARTITION BY series) AS x, yi
      FROM e
    ),
    m AS (
      SELECT series,
             count(*) AS n,
             CAST(max(x) AS BIGINT) AS x_max,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(yi AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(x * yi AS DECIMAL(38,0))) AS sxy
      FROM c GROUP BY series
    ),
    fit AS (
      SELECT series, n, x_max,
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 10000.0
                   + 1e-9, 10) AS slope,
             CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
      FROM m
      WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
    ),
    ic AS (
      SELECT series, n, x_max, slope,
             round((syd / 10000.0 - slope * sxd) / CAST(n AS DOUBLE)
                   + 1e-9, 6) AS intercept
      FROM fit
    )
    SELECT series, CAST(n AS BIGINT) AS n_samples, slope, intercept,
           round(intercept + slope * (x_max + {_FC_HORIZON_S}) + 1e-9, 4)
             AS forecast_24h
    FROM ic
    """,
)
def q_ts_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series ordinary-least-squares trend fit and 24h-ahead
    forecast — the PromQL ``predict_linear`` / ``deriv`` analog on the
    reference's data model (series keyed by event_type). Slope and
    intercept come from the closed-form normal equations on exact
    integer moments: timestamps are centered per series (x = s - min s,
    so x is small relative to DECIMAL(38) headroom even on years of
    100 TB data), values are scaled to 1e-4 integers, and n, Σx, Σy,
    Σxy, Σx² are summed as DECIMAL(38,0) — order-free and bit-exact at
    any parallelism. The derived slope/intercept/forecast are computed
    in IEEE double from those agreed sums and QUANTIZED (round+nudge)
    before each reuse, so both engines produce identical bits.

    Scale posture: the centering window and the moment aggregate share
    one hash partitioning on the series key (a single exchange —
    Catalyst reuses it), map-side partial aggregation applies, and the
    constant-width result is one row per series. Degenerate series (all
    samples at one timestamp) are excluded by the positive-variance
    guard."""
    (events,) = _prep(spark, sf_dir, "events")
    yi = F.floor(F.col("value") * 10000 + 0.5).cast("bigint")
    e = events.select(
        F.col("event_type").alias("series"),
        F.unix_timestamp("ts").alias("s"),
        yi.alias("yi"),
    )
    w = Window.partitionBy("series")
    c = e.select(
        "series",
        (F.col("s") - F.min("s").over(w)).alias("x"),
        "yi",
    )
    d38 = "decimal(38,0)"
    m = c.groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("x").cast("bigint").alias("x_max"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("yi").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("x") * F.col("yi")).cast(d38)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    den = nd * F.col("sxx").cast("double") - sxd * sxd
    slope = F.round(
        (nd * F.col("sxy").cast("double") - sxd * syd) / den / 10000.0
        + F.lit(1e-9),
        10,
    )
    fit = m.filter(den > 0).select(
        "series", "n", "x_max", slope.alias("slope"),
        syd.alias("syd"), sxd.alias("sxd"),
    )
    intercept = F.round(
        (F.col("syd") / 10000.0 - F.col("slope") * F.col("sxd"))
        / F.col("n").cast("double")
        + F.lit(1e-9),
        6,
    )
    ic = fit.select("series", "n", "x_max", "slope", intercept.alias("intercept"))
    return ic.select(
        "series",
        F.col("n").cast("bigint").alias("n_samples"),
        "slope",
        "intercept",
        F.round(
            F.col("intercept")
            + F.col("slope") * (F.col("x_max") + _FC_HORIZON_S)
            + F.lit(1e-9),
            4,
        ).alias("forecast_24h"),
    )


# =========================================================================
# Per-series lag autocorrelation (signal self-similarity profile)
# =========================================================================


@query(
    "ts_autocorr_lag",
    """
    WITH e AS (
      SELECT event_type AS series, ts, event_id,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS yi
      FROM events
    ),
    lagged AS (
      SELECT series,
             lag(yi, 1) OVER (PARTITION BY series ORDER BY ts, event_id) AS y1,
             yi AS y2
      FROM e
    ),
    p AS (SELECT series, y1, y2 FROM lagged WHERE y1 IS NOT NULL),
    m AS (
      SELECT series, count(*) AS n,
             sum(CAST(y1 AS DECIMAL(38,0))) AS s1,
             sum(CAST(y2 AS DECIMAL(38,0))) AS s2,
             sum(CAST(y1 * y1 AS DECIMAL(38,0))) AS s11,
             sum(CAST(y2 * y2 AS DECIMAL(38,0))) AS s22,
             sum(CAST(y1 * y2 AS DECIMAL(38,0))) AS s12
      FROM p GROUP BY series
    )
    SELECT series, CAST(n AS BIGINT) AS n_pairs,
           round((CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
                 / sqrt(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / sqrt(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
                        - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                 + 1e-9, 6) AS r_lag1
    FROM m
    WHERE CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0
      AND CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) > 0
    """,
)
def q_ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series lag-1 autocorrelation — the self-similarity signal
    behind seasonality detection and anomaly baselining (is this metric
    momentum-driven or white noise?). Consecutive samples pair up via a
    keyed lag window (series-partitioned, (ts, event_id)-ordered for a
    deterministic tie order), then Pearson r comes from exact
    DECIMAL(38,0) integer moments of the 1e-4-scaled values — the same
    order-free discipline as ts_forecast_linear. The only non-rational
    step is IEEE-754 sqrt, which is correctly rounded on identical
    inputs in every conforming engine, so the 6-dp presentation is
    bit-stable.

    Scale posture: the lag window and the moment aggregate share one
    hash partitioning on the series key — a single exchange end-to-end —
    and the result is one constant-width row per series. Degenerate
    (zero-variance) sides are excluded by the guards."""
    (events,) = _prep(spark, sf_dir, "events")
    yi = F.floor(F.col("value") * 10000 + 0.5).cast("bigint")
    e = events.select(
        F.col("event_type").alias("series"), "ts", "event_id", yi.alias("yi")
    )
    w = Window.partitionBy("series").orderBy("ts", "event_id")
    lagged = e.select(
        "series",
        F.lag("yi", 1).over(w).alias("y1"),
        F.col("yi").alias("y2"),
    ).filter(F.col("y1").isNotNull())
    d38 = "decimal(38,0)"
    m = lagged.groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y1").cast(d38)).alias("s1"),
        F.sum(F.col("y2").cast(d38)).alias("s2"),
        F.sum((F.col("y1") * F.col("y1")).cast(d38)).alias("s11"),
        F.sum((F.col("y2") * F.col("y2")).cast(d38)).alias("s22"),
        F.sum((F.col("y1") * F.col("y2")).cast(d38)).alias("s12"),
    )
    nd = F.col("n").cast("double")
    v1 = nd * F.col("s11").cast("double") - F.col("s1").cast("double") * F.col(
        "s1"
    ).cast("double")
    v2 = nd * F.col("s22").cast("double") - F.col("s2").cast("double") * F.col(
        "s2"
    ).cast("double")
    cov = nd * F.col("s12").cast("double") - F.col("s1").cast("double") * F.col(
        "s2"
    ).cast("double")
    return (
        m.filter((v1 > 0) & (v2 > 0))
        .select(
            "series",
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round(cov / F.sqrt(v1) / F.sqrt(v2) + F.lit(1e-9), 6).alias(
                "r_lag1"
            ),
        )
    )


# =========================================================================
# Triangle counting on the co-purchase graph (graph-analytics depth)
# =========================================================================

_TRI_MIN_SUPPORT = 2  # edge = parts co-purchased in >= 2 distinct orders


@query(
    "graph_triangle_count",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    edges AS (
      SELECT a.part AS pa, b.part AS pb
      FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
      GROUP BY 1, 2
      HAVING count(*) >= {_TRI_MIN_SUPPORT}
    ),
    tri AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM edges e1
      JOIN edges e2 ON e1.pb = e2.pa
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    per_vertex AS (
      SELECT v, count(*) AS n_triangles FROM (
        SELECT a AS v FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY v
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM per_vertex) AS BIGINT)
             AS n_vertices_in_triangles,
           CAST((SELECT coalesce(max(n_triangles), 0) FROM per_vertex)
             AS BIGINT) AS max_per_vertex
    """,
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (parts that share >= 2
    distinct orders): the standard wedge-closure join — oriented edges
    (pa < pb) so each triangle is enumerated exactly once as
    a < b < c — plus per-vertex triangle participation. Completes the
    graph-analytics trio alongside pagerank_nations (eigenvector) and
    dedup_clusters_cc (connectivity); triangle density is the classic
    community-structure signal.

    Scale posture: the support filter prunes the edge set BEFORE any
    self-join (same apriori discipline as basket_part_pairs), and both
    wedge joins are keyed shuffles on a vertex column. At true scale the
    id-orientation would be replaced by degree-orientation (orient each
    edge toward the higher-degree endpoint, tie-broken by id), which
    bounds per-wedge work by sqrt(m) — the id-oriented form is kept here
    because it is deterministic and oracle-replayable, and the support
    floor already caps hot vertices. The three scalar outputs aggregate
    to one row — no global sort anywhere."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    # r12: edge enumeration via per-basket pair generation instead of
    # the okey self-join — same rewrite (and equivalence argument) as
    # basket_part_pairs: sorted distinct parts per order give exactly
    # the pa < pb combinations, counted map-side before one (pa, pb)
    # shuffle (guide §2.3/§2.4). Interleaved A/B at sf0.1: full query
    # min 4.61 s → 3.97 s (the residual cost is the wedge joins + the
    # two eager materializes, not the edge build).
    baskets = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).groupBy("okey").agg(F.sort_array(F.collect_set("part")).alias("parts"))
    pairs_arr = F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS pa, y AS pb))))"
    )
    edges = (
        baskets.select(F.explode(pairs_arr).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= _TRI_MIN_SUPPORT)
        .select("pa", "pb")
        # the pruned edge set is tiny relative to the item scan that
        # produces it and feeds FOUR consumers (three join roles + the
        # edge count); localCheckpoint materializes it once instead of
        # recomputing the O(|lineitem|) lineage per consumer (same
        # discipline as dedup_clusters_cc)
        .transform(materialize, eager=True)
    )
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).transform(materialize, eager=True)
    verts = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_tri = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    vstats = verts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices_in_triangles"),
        F.coalesce(F.max("n_triangles"), F.lit(0))
        .cast("bigint")
        .alias("max_per_vertex"),
    )
    return n_edges.join(F.broadcast(n_tri)).join(F.broadcast(vstats))


# =========================================================================
# Composed RAG-corpus pipeline: chunk -> dedup chunks -> per-source stats
# =========================================================================


@query(
    "pipeline_rag_corpus",
    f"""
    WITH t AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, toks,
             unnest(range(1, greatest(len(toks), 1) + 1, {_CHUNK_STRIDE})) AS start
      FROM t
    ),
    chunks AS (
      SELECT doc_id, source,
             len(toks[start:start + {_CHUNK_TOKENS} - 1]) AS n_tokens,
             md5(array_to_string(toks[start:start + {_CHUNK_TOKENS} - 1], ' '))
               AS chunk_hash
      FROM s
    ),
    keep AS (
      SELECT chunk_hash, min(doc_id) AS rep_doc FROM chunks GROUP BY chunk_hash
    ),
    flagged AS (
      SELECT c.source, c.n_tokens,
             CASE WHEN c.doc_id = k.rep_doc THEN 1 ELSE 0 END AS kept
      FROM chunks c JOIN keep k USING (chunk_hash)
    )
    SELECT source,
           count(*) AS n_chunks,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           round(1.0 - CAST(sum(kept) AS DOUBLE) / count(*) + 1e-9, 6)
             AS dup_rate,
           round(CAST(sum(n_tokens) AS DOUBLE) / count(*) + 1e-9, 4)
             AS avg_chunk_tokens
    FROM flagged
    GROUP BY source
    """,
)
def q_pipeline_rag_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG corpus preparation, composed from this module's
    own operators: chunk every document (16-token windows, stride 12),
    exact-dedup the chunks corpus-wide on their content hash (keeping
    the min-doc_id representative — cross-document boilerplate chunks
    collapse to one), and report per-source chunk counts, dedup rate,
    and mean chunk width. The per-source dup_rate is the signal a data
    curator uses to decide which crawl sources are boilerplate-heavy
    before paying for embeddings.

    Scale posture: chunking is the shuffle-free map from
    chunk_documents_overlap; dedup shuffles (hash, doc_id) pairs only —
    never chunk text; the representative join is keyed on the hash with
    map-side combine on both aggregates. Same plan family as dedup_exact
    but at chunk granularity, which is the production shape (page-level
    dedup misses template fragments)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(_CHUNK_STRIDE)
    )
    chunk = F.slice(F.col("toks"), F.col("start"), _CHUNK_TOKENS)
    chunks = (
        docs.select(
            "doc_id", "source", toks.alias("toks"), F.explode(starts).alias("start")
        )
        .select(
            "doc_id",
            "source",
            F.size(chunk).alias("n_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
        )
        # chunks feeds the keep aggregate AND the representative join:
        # without a checkpoint the tokenize + window-explode + per-chunk
        # md5 replays per consumer (ReuseExchange can't fire — the
        # aggregate side's exchange carries partial-agg rows, not chunk
        # rows). Same shared-subtree discipline as the dedup shingle
        # table; interleaved A/B at sf0.1 wins every rep, min
        # 1.30 → 0.49 s, identical 20 rows (r13).
        .transform(materialize, eager=False)
    )
    keep = chunks.groupBy("chunk_hash").agg(F.min("doc_id").alias("rep_doc"))
    flagged = chunks.join(keep, "chunk_hash").select(
        "source",
        "n_tokens",
        (F.col("doc_id") == F.col("rep_doc")).cast("long").alias("kept"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.round(
            F.lit(1.0) - F.sum("kept").cast("double") / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("dup_rate"),
        F.round(
            F.sum("n_tokens").cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("avg_chunk_tokens"),
    )


# =========================================================================
# Sliding-window HyperLogLog: mergeable distinct-count sketch over time
# =========================================================================

_HLL_M = 256  # registers (8-bit bucket index)


@query(
    "sketch_hll_sliding_wau",
    f"""
    WITH ud AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    h AS (
      SELECT d,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
               AS bucket,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 13))::BIGINT
               AS v
      FROM ud
    ),
    r AS (
      SELECT d, bucket,
             max(CASE WHEN v = 0 THEN 53
                      ELSE bit_count((v & -v) - 1) + 1 END) AS m
      FROM h GROUP BY d, bucket
    ),
    contrib AS (
      SELECT d + off AS day_num, bucket, m
      FROM r, LATERAL unnest(range(0, 7)) AS t(off)
    ),
    merged AS (
      SELECT day_num, bucket, max(m) AS mw
      FROM contrib GROUP BY day_num, bucket
    ),
    est AS (
      SELECT day_num,
             count(*) AS n_buckets_used,
             sum(1.0 / CAST(CAST(1 AS BIGINT) << mw AS DOUBLE)) AS sp
      FROM merged GROUP BY day_num
    ),
    exact AS (
      SELECT c.day_num, count(DISTINCT user_id) AS wau_exact
      FROM (
        SELECT d + off AS day_num, user_id
        FROM ud, LATERAL unnest(range(0, 7)) AS t(off)
      ) c
      GROUP BY c.day_num
    )
    SELECT days.d AS day_num,
           exact.wau_exact,
           round((0.7213 / (1.0 + 1.079 / {_HLL_M}))
                 * {_HLL_M} * {_HLL_M}
                 / (est.sp + ({_HLL_M} - est.n_buckets_used) * 1.0)
                 + 1e-9, 2) AS wau_hll,
           CAST(est.n_buckets_used AS BIGINT) AS n_buckets_used
    FROM days
    JOIN est ON est.day_num = days.d
    JOIN exact ON exact.day_num = days.d
    """,
)
def q_sketch_hll_sliding_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window HyperLogLog: 7-day active users per day from
    MERGEABLE per-day register vectors — the sketch path for "distinct
    over a moving window" where re-scanning the window per day is
    unaffordable. Each day keeps 256 max-rank registers (8-bit md5
    bucket, rank = trailing-zero count of the next 52 hash bits —
    bit_count((v & -v) - 1) + 1, NO libm anywhere); a day's 7-day
    estimate merges registers by max. The estimate uses the raw HLL
    formula (alpha_m * m^2 / sum 2^-M) with absent registers
    contributing 2^0; 2^-M is computed as 1/(1<<M), exact in IEEE
    doubles, so both engines produce identical bits. The exact WAU
    rides along for self-audit (this sketch's raw form is biased low in
    the small-range regime — the raw form over-estimates in the
    small-range regime where real implementations switch to linear
    counting, and that correction needs ln(), which is not bit-portable
    across engines — it is deliberately omitted and the bias is visible
    against the rider column).

    Scale posture: the register table is |days| x 256 rows regardless
    of corpus size — the whole point; merging is an explode-by-7 then
    max-groupBy on that tiny table. The only full-data shuffle is the
    initial (day, user) distinct. Replace the rider exact-distinct with
    the registers alone at true scale (it exists here to make the
    oracle self-checking)."""
    (events,) = _prep(spark, sf_dir, "events")
    # ud feeds the day list, the register build, AND the exact-WAU
    # rider: checkpoint the deduped (day, user) frame once so the
    # events scan + distinct shuffle run once (dedup.py:150 rationale)
    ud = events.select(
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("d"),
        "user_id",
    ).distinct().transform(materialize, eager=False)
    days = ud.select("d").distinct()
    hexid = F.md5(F.col("user_id").cast("string"))
    v = F.conv(F.substring(hexid, 3, 13), 16, 10).cast("bigint")
    rho = F.when(v == 0, F.lit(53)).otherwise(
        F.bit_count((v.bitwiseAND(-v)) - 1) + 1
    )
    h = ud.select(
        "d",
        F.conv(F.substring(hexid, 1, 2), 16, 10).cast("bigint").alias("bucket"),
        rho.alias("rho"),
    )
    r = h.groupBy("d", "bucket").agg(F.max("rho").alias("m"))
    off = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    contrib = r.select("d", "bucket", "m", off).select(
        (F.col("d") + F.col("off")).alias("day_num"), "bucket", "m"
    )
    merged = contrib.groupBy("day_num", "bucket").agg(F.max("m").alias("mw"))
    est = merged.groupBy("day_num").agg(
        F.count(F.lit(1)).alias("n_buckets_used"),
        F.sum(
            F.lit(1.0)
            / F.expr("cast(shiftleft(cast(1 as bigint), cast(mw as int)) as double)")
        ).alias("sp"),
    )
    exact = (
        ud.select("d", "user_id", off)
        .select((F.col("d") + F.col("off")).alias("day_num"), "user_id")
        .groupBy("day_num")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / _HLL_M)
    return (
        days.join(est, days["d"] == est["day_num"])
        .join(exact, est["day_num"] == exact["day_num"])
        .select(
            days["d"].alias("day_num"),
            "wau_exact",
            F.round(
                F.lit(alpha)
                * _HLL_M
                * _HLL_M
                / (
                    F.col("sp")
                    + (F.lit(_HLL_M) - F.col("n_buckets_used")) * F.lit(1.0)
                )
                + F.lit(1e-9),
                2,
            ).alias("wau_hll"),
            F.col("n_buckets_used").cast("bigint").alias("n_buckets_used"),
        )
    )


# =========================================================================
# Top principal direction by distributed power iteration (iterative ML)
# =========================================================================

_PC_DIMS = 64
_PC_ITERS = 4
_PC_TOP_COMPONENTS = 8
_PC_QUANT = 10_000  # 1e-4 coordinate grid (the IVF_QUANT discipline)
_PC_VQ = 100_000_000  # 1e-8 grid for the iterated direction vector


def _pc_oracle_sql(gram_mode: str = "join") -> str:
    """Gram-matrix power-iteration oracle, HUGEINT-exact (round-10
    rewrite — verdict r9 ask #3). Replays the engine's arithmetic
    verbatim:

    ``gram_mode`` selects how G = QᵀQ is computed — same exact values
    either way (floor-quantization per element, HUGEINT products,
    order-free integer sums):

    - ``"join"`` (registered oracle): explode to (i, j, qe) and
      self-join USING (i). Readable, but the join materializes n·d²
      rows in a non-spillable hash build — at sf10 (200k vectors)
      that is 819M rows and exceeds the box.
    - ``"scan"`` (sf10 restatement, tools/sf3_feasible_oracles): one
      streaming scan with a double LATERAL unnest emitting the same
      n·d² product terms straight into a 4,096-group aggregate — no
      join build, constant memory. Every CTE downstream of ``g`` is
      the identical string.

    - coordinates quantized ONCE to the 1e-4 integer grid
      (``floor(e*10000 + 0.5)``) — identical IEEE expression on both
      engines;
    - Gram matrix G = QᵀQ by exact integer sums (HUGEINT; order-free,
      so the oracle's serial sum equals Spark's parallel sum bit-for-
      bit);
    - each power-iteration round is w = G·v (exact HUGEINT), then the
      direction renormalizes on the 1e-8 grid by max-|w| as EXACT
      INTEGER floor division: floor(w·1e8/wmax + 1/2) =
      (2·w·1e8 + wmax) fdiv (2·wmax). Round-11 fix (advisor): the
      previous DOUBLE evaluation relied on DuckDB's HUGEINT→DOUBLE
      cast being correctly rounded, but DuckDB composes
      upper·2⁶⁴+lower in double arithmetic — 1 ulp off Python's
      correctly-rounded int→float is reachable once |w| > 2⁶⁴
      (n ≥ ~29 vectors), and a 1-ulp divergence at a .5 tie on the
      1e-8 grid would cascade through later iterations. Exact
      integers cannot tie-break differently. DuckDB's ``//``/``%``
      truncate toward zero, so the SQL adds the usual floor
      correction for negative numerators;
    - final L2 normalization / sigma happen on the 64-row frame with
      the usual DECIMAL(30,8) quantized-term sums (double ops there
      are magnitude ≤ 1 with +1e-9 guarded 8dp rounding — ulp-safe).

    Overflow budget (all exact): |q| ≤ 1e4, G ≤ 1e8·n, w ≤ 64·G·1e8 =
    6.4e17·n, renorm numerator 2·w·1e8 ≤ 1.3e26·n — inside HUGEINT
    (1.7e38) until n ~ 1.3e12 vectors."""
    d, vq0 = _PC_DIMS, _PC_VQ // 8  # v0 = 1/8·𝟙 on the 1e-8 grid
    if gram_mode == "join":
        gram_ctes = f"""
    WITH q AS (
      SELECT vec_id AS i, j,
             CAST(floor(CAST(embedding[j] AS DOUBLE) * {_PC_QUANT} + 0.5)
                  AS BIGINT) AS qe
      FROM embeddings, LATERAL unnest(range(1, {d} + 1)) AS t(j)
    ),
    g AS (
      SELECT a.j AS j, b.j AS k, sum(CAST(a.qe AS HUGEINT) * b.qe) AS g
      FROM q a JOIN q b USING (i) GROUP BY a.j, b.j
    )"""
    elif gram_mode == "scan":
        gram_ctes = f"""
    WITH g AS (
      SELECT t.j AS j, s.k AS k,
             sum(CAST(floor(CAST(embedding[t.j] AS DOUBLE) * {_PC_QUANT} + 0.5)
                      AS HUGEINT)
                 * CAST(floor(CAST(embedding[s.k] AS DOUBLE) * {_PC_QUANT} + 0.5)
                        AS BIGINT)) AS g
      FROM embeddings,
           LATERAL unnest(range(1, {d} + 1)) AS t(j),
           LATERAL unnest(range(1, {d} + 1)) AS s(k)
      GROUP BY t.j, s.k
    )"""
    else:
        raise ValueError(f"unknown gram_mode {gram_mode!r}")
    parts = [
        gram_ctes
        + f""",
    v0 AS (SELECT j, CAST({vq0} AS BIGINT) AS vq
           FROM range(1, {d} + 1) AS t(j))"""
    ]
    prev = "v0"
    for it in range(1, _PC_ITERS + 1):
        parts.append(
            f""",
    w{it} AS (
      SELECT g.j, sum(g.g * v.vq) AS w
      FROM g JOIN {prev} v ON v.j = g.k GROUP BY g.j
    ),
    m{it} AS (SELECT max(abs(w)) AS wmax FROM w{it}),
    v{it} AS (
      SELECT j,
             CAST(num // den
                  - CASE WHEN num % den <> 0 AND num < 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS vq
      FROM (SELECT w.j,
                   2 * w.w * {_PC_VQ} + m.wmax AS num,
                   2 * m.wmax AS den
            FROM w{it} w, m{it} m))"""
        )
        prev = f"v{it}"
    last, vin = f"w{_PC_ITERS}", f"v{_PC_ITERS - 1}"
    qd = "CAST(round(({x}) + 1e-9, 8) AS DECIMAL(30,8))"
    scale = float(_PC_QUANT * _PC_QUANT) * float(_PC_VQ)
    parts.append(
        f""",
    f AS (
      SELECT w.j,
             CAST(w.w AS DOUBLE) / CAST(m.wmax AS DOUBLE) AS ud,
             CAST(w.w AS DOUBLE) / {float(_PC_QUANT * _PC_QUANT)}
               / {float(_PC_VQ)} AS wdo,
             CAST(v.vq AS DOUBLE) / {float(_PC_VQ)} AS vd
      FROM {last} w, m{_PC_ITERS} m, {vin} v
      WHERE v.j = w.j
    ),
    n AS (
      SELECT sum({qd.format(x='ud * ud')}) AS un2,
             sum({qd.format(x='wdo * wdo')}) AS wn2,
             sum({qd.format(x='vd * vd')}) AS vn2
      FROM f
    )
    SELECT f.j AS dim,
           round(f.ud / sqrt(CAST(n.un2 AS DOUBLE)) + 1e-9, 8) AS component,
           round(sqrt(sqrt(CAST(n.wn2 AS DOUBLE))
                      / sqrt(CAST(n.vn2 AS DOUBLE))) + 1e-9, 6) AS sigma,
           (SELECT count(*) FROM embeddings) AS n_vectors
    FROM f, n
    ORDER BY abs(component) DESC, dim
    LIMIT {_PC_TOP_COMPONENTS}"""
    )
    return "".join(parts)


@query("embedding_top_pc", _pc_oracle_sql())
def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus — round-10
    rewrite (verdict r9 ask #3): ONE distributed pass computes the d×d
    Gram matrix AᵀA, then the power iteration runs on that 64×64
    summary instead of re-shuffling the exploded corpus twice per
    round (the old plan: 8 corpus exchanges; this plan: 1).

    - The only corpus-touching stage is an Arrow-batched integer GEMM
      (``mapInPandas``): each batch quantizes its block to the 1e-4
      grid (``floor(e*1e4 + 0.5)``, exact int64 — the IVF_QUANT
      discipline) and emits its 64×64 partial QᵀQ plus one count row;
      the groupBy that merges partials shuffles only
      n_partitions × 4,097 tiny rows, with map-side combine. Partial
      sums ride int64 (≤1e8·batch_rows); the merge sums DECIMAL(38,0),
      exact to 1e38.
    - The iteration itself runs DRIVER-SIDE on the collected Gram
      matrix in arbitrary-precision Python ints — 4,097 values, ~32 KB
      of bounded driver state regardless of corpus size (the
      ivf_train_centroids precedent). Each round: w = G·v exactly,
      then renormalize on the 1e-8 grid by max|w| as EXACT integer
      floor division floor(w·1e8/wmax + 1/2) = (2·w·1e8 + wmax) fdiv
      (2·wmax) — no doubles anywhere in the trajectory (round-11
      advisor fix: DuckDB's HUGEINT→DOUBLE cast can double-round
      1 ulp off past 2⁶⁴, which could flip a .5 tie on the grid), so
      DuckDB replays it bit-for-bit in pure HUGEINT
      (see _pc_oracle_sql).
    - Final L2 normalization + sigma = sqrt(‖AᵀAv‖/‖v‖) evaluate on a
      64-row frame with DECIMAL(30,8) quantized-term norms; output
      contract unchanged (top-8 |component|, sigma, n_vectors).

    A/B at sf0.1 (local[32], warm): 6.4 s → see commit message;
    executed-plan exchanges 8 → 1. At 100 TB the old plan's 8
    all-corpus shuffles become the dominant cost; this plan reads the
    corpus once and shuffles only 64×64 partials per partition —
    iteration count no longer multiplies corpus passes."""
    from decimal import Decimal

    import pandas as pd

    (emb,) = _prep(spark, sf_dir, "embeddings")
    d, quant, vq_scale = _PC_DIMS, _PC_QUANT, _PC_VQ

    def gram_partials(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            q = np.floor(x * quant + 0.5).astype(np.int64)
            g = q.T @ q  # exact int64: |terms| ≤ 1e8 · batch_rows
            jj, kk = np.meshgrid(
                np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "j": np.append(jj.ravel(), 0),
                    "k": np.append(kk.ravel(), 0),
                    "g": np.append(g.ravel(), len(pdf)),  # (0,0) = count
                }
            )

    parts = (
        emb.select("embedding")
        .mapInPandas(gram_partials, "j int, k int, g long")
        .groupBy("j", "k")
        .agg(F.sum(F.col("g").cast("decimal(38,0)")).alias("g"))
        .collect()
    )
    gmat = [[0] * d for _ in range(d)]
    n_vectors = 0
    for r in parts:
        if r["j"] == 0:
            n_vectors = int(r["g"])
        else:
            gmat[r["j"] - 1][r["k"] - 1] = int(r["g"])

    # exact-integer power iteration; mirrors the oracle's CTE chain
    vq = [vq_scale // 8] * d  # v0 = 1/8·𝟙 on the 1e-8 grid
    w = vq
    vq_in = vq
    for _ in range(_PC_ITERS):
        vq_in = vq
        w = [sum(gmat[j][k] * vq[k] for k in range(d)) for j in range(d)]
        wmax = max(abs(x) for x in w)
        assert wmax > 0, "power iteration collapsed to the zero vector"
        # exact floor(x*S/wmax + 1/2): Python // floors, ints are
        # arbitrary precision — bit-identical to the oracle's HUGEINT
        # floor division (advisor r10: the old float path could
        # double-round 1 ulp differently per engine past 2^64)
        vq = [(2 * x * vq_scale + wmax) // (2 * wmax) for x in w]

    frame = spark.createDataFrame(
        [(j + 1, Decimal(w[j]), vq_in[j]) for j in range(d)],
        "dim long, w decimal(38,0), vq long",
    )

    def q8(col):
        return F.round(col + F.lit(1e-9), 8).cast("decimal(30,8)")

    # wmax inlined as a literal: the driver holds the exact integers, and
    # float(max|w|) equals both engines' correctly-rounded int→double cast
    # (max/abs commute with the monotone cast) — saves re-aggregating the
    # frame twice for a scalar the iteration already computed.
    wmax_d = float(max(abs(x) for x in w))
    f = frame.select(
        "dim",
        (F.col("w").cast("double") / F.lit(wmax_d)).alias("ud"),
        (
            F.col("w").cast("double")
            / F.lit(float(quant * quant))
            / F.lit(float(vq_scale))
        ).alias("wdo"),
        (F.col("vq").cast("double") / F.lit(float(vq_scale))).alias("vd"),
    )
    norms = f.agg(
        F.sum(q8(F.col("ud") * F.col("ud"))).alias("un2"),
        F.sum(q8(F.col("wdo") * F.col("wdo"))).alias("wn2"),
        F.sum(q8(F.col("vd") * F.col("vd"))).alias("vn2"),
    )
    return (
        f.crossJoin(F.broadcast(norms))
        .select(
            "dim",
            F.round(
                F.col("ud") / F.sqrt(F.col("un2").cast("double")) + F.lit(1e-9), 8
            ).alias("component"),
            F.round(
                F.sqrt(
                    F.sqrt(F.col("wn2").cast("double"))
                    / F.sqrt(F.col("vn2").cast("double"))
                )
                + F.lit(1e-9),
                6,
            ).alias("sigma"),
            F.lit(n_vectors).cast("long").alias("n_vectors"),
        )
        .orderBy(F.abs(F.col("component")).desc(), "dim")
        .limit(_PC_TOP_COMPONENTS)
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
# Spearman rank correlation per group (robust association measure)
# =========================================================================


@query(
    "corr_spearman_supplier",
    """
    WITH base AS (
      SELECT l_suppkey AS supp,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p
      FROM lineitem
    ),
    ranked AS (
      SELECT supp,
             2 * rank() OVER (PARTITION BY supp ORDER BY q)
               + count(*) OVER (PARTITION BY supp, q) - 1 AS rx2,
             2 * rank() OVER (PARTITION BY supp ORDER BY p)
               + count(*) OVER (PARTITION BY supp, p) - 1 AS ry2
      FROM base
    ),
    m AS (
      SELECT supp, count(*) AS n,
             sum(CAST(rx2 AS DECIMAL(38,0))) AS s1,
             sum(CAST(ry2 AS DECIMAL(38,0))) AS s2,
             sum(CAST(rx2 * rx2 AS DECIMAL(38,0))) AS s11,
             sum(CAST(ry2 * ry2 AS DECIMAL(38,0))) AS s22,
             sum(CAST(rx2 * ry2 AS DECIMAL(38,0))) AS s12
      FROM ranked GROUP BY supp
    )
    SELECT supp, CAST(n AS BIGINT) AS n_rows,
           round((CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
                 / sqrt(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / sqrt(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
                        - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                 + 1e-9, 6) AS spearman_rho
    FROM m
    WHERE CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0
      AND CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) > 0
    """,
)
def q_corr_spearman_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per
    supplier — the robust (monotone, outlier-insensitive) complement to
    corr_matrix_lineitem's Pearson. Tie-aware average ranks are kept
    as INTEGERS by working with 2x the average rank
    (2*rank_min + ties - 1), so the whole computation reduces to the
    same exact DECIMAL(38,0) moment discipline as ts_autocorr_lag and
    the 6-dp rho is bit-stable at any parallelism.

    Scale posture: both rank windows and the moment aggregate share ONE
    hash partitioning on the supplier key (two in-partition sorts, one
    exchange); per-group state is bounded by group size, with no global
    sort. The tie-count window rides the same partitioning."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_suppkey").alias("supp"),
        F.col("l_quantity").cast("bigint").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("p"),
    )
    wq = Window.partitionBy("supp").orderBy("q")
    wqt = Window.partitionBy("supp", "q")
    wp = Window.partitionBy("supp").orderBy("p")
    wpt = Window.partitionBy("supp", "p")
    ranked = base.select(
        "supp",
        (2 * F.rank().over(wq) + F.count(F.lit(1)).over(wqt) - 1).alias("rx2"),
        (2 * F.rank().over(wp) + F.count(F.lit(1)).over(wpt) - 1).alias("ry2"),
    )
    d38 = "decimal(38,0)"
    m = ranked.groupBy("supp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx2").cast(d38)).alias("s1"),
        F.sum(F.col("ry2").cast(d38)).alias("s2"),
        F.sum((F.col("rx2") * F.col("rx2")).cast(d38)).alias("s11"),
        F.sum((F.col("ry2") * F.col("ry2")).cast(d38)).alias("s22"),
        F.sum((F.col("rx2") * F.col("ry2")).cast(d38)).alias("s12"),
    )
    nd = F.col("n").cast("double")
    v1 = nd * F.col("s11").cast("double") - F.col("s1").cast("double") * F.col(
        "s1"
    ).cast("double")
    v2 = nd * F.col("s22").cast("double") - F.col("s2").cast("double") * F.col(
        "s2"
    ).cast("double")
    cov = nd * F.col("s12").cast("double") - F.col("s1").cast("double") * F.col(
        "s2"
    ).cast("double")
    return (
        m.filter((v1 > 0) & (v2 > 0))
        .select(
            "supp",
            F.col("n").cast("bigint").alias("n_rows"),
            F.round(cov / F.sqrt(v1) / F.sqrt(v2) + F.lit(1e-9), 6).alias(
                "spearman_rho"
            ),
        )
    )


# =========================================================================
# Bollinger bands: rolling mean +/- 2 sigma per series (monitoring)
# =========================================================================

_BB_WINDOW = 24  # trailing samples per band computation


@query(
    "ts_bollinger_bands",
    f"""
    WITH e AS (
      SELECT event_type AS series, ts, event_id,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS yi
      FROM events
    ),
    r AS (
      SELECT series, ts, event_id, yi,
             count(*) OVER w AS n,
             sum(CAST(yi AS DECIMAL(38,0))) OVER w AS s1,
             sum(CAST(yi * yi AS DECIMAL(38,0))) OVER w AS s2,
             row_number() OVER (PARTITION BY series ORDER BY ts, event_id)
               AS rn
      FROM e
      WINDOW w AS (PARTITION BY series ORDER BY ts, event_id
                   ROWS BETWEEN {_BB_WINDOW - 1} PRECEDING AND CURRENT ROW)
    ),
    b AS (
      SELECT series, ts, event_id, yi, n,
             round(CAST(s1 AS DOUBLE) / n / 10000.0 + 1e-9, 6) AS mid,
             round(sqrt(greatest(
                     (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0))
                   / 10000.0 + 1e-9, 6) AS sigma
      FROM r WHERE rn >= {_BB_WINDOW}
    )
    SELECT series, ts, mid,
           round(mid + 2 * sigma + 1e-9, 6) AS upper_band,
           round(mid - 2 * sigma + 1e-9, 6) AS lower_band,
           CASE WHEN yi / 10000.0 > mid + 2 * sigma
                  OR yi / 10000.0 < mid - 2 * sigma
                THEN 1 ELSE 0 END AS breakout
    FROM b
    """,
)
def q_ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands per series: trailing-24-sample mean +/- 2 sigma
    with breakout flags — the rolling-volatility envelope behind
    alert-banding dashboards (complements the global-moment
    ts_anomaly_zscore with a LOCAL volatility baseline). The rolling
    variance comes from rolling integer moment sums (n*S2 - S1^2 over
    the 1e-4-scaled values, DECIMAL(38,0) — exact regardless of frame
    content), so mid/sigma are bit-stable; sqrt is correctly rounded;
    warm-up rows (frame not yet full) are excluded.

    Scale posture: one hash partitioning on the series key carries the
    moment frames and row numbering (in-partition sort, no extra
    exchange); per-row work is O(1) via Spark's sliding-frame
    aggregation. The quantized-band comparison for the breakout flag
    uses the same rounded values both engines computed."""
    (events,) = _prep(spark, sf_dir, "events")
    e = events.select(
        F.col("event_type").alias("series"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 10000 + 0.5).cast("bigint").alias("yi"),
    )
    w = (
        Window.partitionBy("series")
        .orderBy("ts", "event_id")
        .rowsBetween(-( _BB_WINDOW - 1), 0)
    )
    wn = Window.partitionBy("series").orderBy("ts", "event_id")
    d38 = "decimal(38,0)"
    r = e.select(
        "series",
        "ts",
        "event_id",
        "yi",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("yi").cast(d38)).over(w).alias("s1"),
        F.sum((F.col("yi") * F.col("yi")).cast(d38)).over(w).alias("s2"),
        F.row_number().over(wn).alias("rn"),
    ).filter(F.col("rn") >= _BB_WINDOW)
    nd = F.col("n").cast("double")
    mid = F.round(
        F.col("s1").cast("double") / F.col("n") / 10000.0 + F.lit(1e-9), 6
    )
    sigma = F.round(
        F.sqrt(
            F.greatest(
                (nd * F.col("s2").cast("double")
                 - F.col("s1").cast("double") * F.col("s1").cast("double"))
                / (nd * nd),
                F.lit(0.0),
            )
        )
        / 10000.0
        + F.lit(1e-9),
        6,
    )
    b = r.select(
        "series", "ts", "yi", mid.alias("mid"), sigma.alias("sigma")
    )
    return b.select(
        "series",
        "ts",
        "mid",
        F.round(F.col("mid") + 2 * F.col("sigma") + F.lit(1e-9), 6).alias(
            "upper_band"
        ),
        F.round(F.col("mid") - 2 * F.col("sigma") + F.lit(1e-9), 6).alias(
            "lower_band"
        ),
        F.when(
            (F.col("yi") / 10000.0 > F.col("mid") + 2 * F.col("sigma"))
            | (F.col("yi") / 10000.0 < F.col("mid") - 2 * F.col("sigma")),
            1,
        )
        .otherwise(0)
        .alias("breakout"),
    )


# =========================================================================
# Streaming sketch maintenance: HLL registers as streaming state
# =========================================================================

from gibbon_spark.queries import (  # noqa: E402
    _events_stream,
    _finite_replay,
    _replay_parts,
    _replay_width,
)


@query(
    "streaming_sketch_hll",
    """
    WITH ud AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d, user_id
      FROM events
    ),
    h AS (
      SELECT d,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
               AS bucket,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 13))::BIGINT
               AS v
      FROM ud
    )
    SELECT d AS day_num, bucket,
           max(CASE WHEN v = 0 THEN 53
                    ELSE bit_count((v & -v) - 1) + 1 END) AS register
    FROM h GROUP BY d, bucket
    """,
)
def q_streaming_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sketch maintenance: the per-day HyperLogLog register
    table of sketch_hll_sliding_wau kept as Structured Streaming state
    — each micro-batch folds new events into (day, bucket) -> max(rank)
    — then availableNow-replayed and value-checked against the batch
    register computation. max() state is the textbook mergeable-sketch
    update: commutative, idempotent, O(1) per key, so the final
    registers are IDENTICAL no matter how the stream is micro-batched;
    that register equality (not just an estimate comparison) is what
    this gate asserts. Downstream, any 7-day window merge/estimate
    (see sketch_hll_sliding_wau) reads this continuously-maintained
    table instead of re-scanning events.

    Scale posture: streaming state is bounded at days x 256 registers
    regardless of event volume — the reason sketches, not exact
    distinct sets, are what production streams maintain. The replay
    pins a bounded state-store width (_replay_width)."""
    s = _events_stream(spark, sf_dir)
    hexid = F.md5(F.col("user_id").cast("string"))
    v = F.conv(F.substring(hexid, 3, 13), 16, 10).cast("bigint")
    rho = F.when(v == 0, F.lit(53)).otherwise(
        F.bit_count((v.bitwiseAND(-v)) - 1) + 1
    )
    regs = (
        s.select(
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias(
                "day_num"
            ),
            F.conv(F.substring(hexid, 1, 2), 16, 10)
            .cast("bigint")
            .alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("day_num", "bucket")
        .agg(F.max("rho").alias("register"))
    )
    with _replay_width(spark, _replay_parts(spark, sf_dir)):
        out = _finite_replay(spark, regs, mode="complete")
    return out.select("day_num", "bucket", "register")


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
# Poisson bootstrap: distributed resampling for standard errors
# =========================================================================

_BOOT_B = 32  # bootstrap replicas
# Poisson(1) CDF thresholds over the 16-bit hash space: draw k with the
# exact pmf by comparing the hash against cumulative cutoffs
_POIS_BOUNDS = (24109, 48219, 60273, 64292, 65296, 65497)


def _pois_case_sql(h: str) -> str:
    arms = " ".join(
        f"WHEN {h} < {b} THEN {k}" for k, b in enumerate(_POIS_BOUNDS)
    )
    return f"CASE {arms} ELSE 6 END"


@query(
    "bootstrap_ci_revenue",
    f"""
    WITH base AS (
      SELECT o_orderkey AS okey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    hashes AS (
      SELECT cents,
             [md5(CAST(okey AS VARCHAR) || ':0'),
              md5(CAST(okey AS VARCHAR) || ':1'),
              md5(CAST(okey AS VARCHAR) || ':2'),
              md5(CAST(okey AS VARCHAR) || ':3')] AS hs
      FROM base
    ),
    expl AS (
      SELECT cents, hs, unnest(range(0, {_BOOT_B})) AS b FROM hashes
    ),
    hv AS (
      SELECT b, cents,
             ('0x' || substr(hs[CAST(b // 8 AS INTEGER) + 1],
                             CAST((b % 8) * 4 + 1 AS INTEGER), 4))::BIGINT AS h
      FROM expl
    ),
    w AS (
      SELECT b, cents, {_pois_case_sql("h")} AS k
      FROM hv
    ),
    rep AS (
      SELECT b,
             CAST(sum(CAST(k * cents AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(sum(k) AS BIGINT) AS n_eff
      FROM w GROUP BY b
    ),
    means AS (
      SELECT b,
             CAST(floor(s / n_eff + 0.5) AS BIGINT) AS mu_cents
      FROM rep WHERE n_eff > 0
    ),
    mstats AS (
      SELECT count(*) AS nb,
             sum(CAST(mu_cents AS DECIMAL(38,0))) AS m1,
             sum(CAST(mu_cents * mu_cents AS DECIMAL(38,0))) AS m2,
             min(mu_cents) AS lo, max(mu_cents) AS hi
      FROM means
    ),
    point AS (
      SELECT count(*) AS n_rows,
             round(CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                   / count(*) / 100.0 + 1e-9, 6) AS mean_revenue
      FROM base
    )
    SELECT point.n_rows, point.mean_revenue,
           round(sqrt((CAST(nb AS DOUBLE) * CAST(m2 AS DOUBLE)
                       - CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE))
                      / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1)))
                 / 100.0 + 1e-9, 6) AS boot_se,
           round(lo / 100.0 + 1e-9, 6) AS boot_lo,
           round(hi / 100.0 + 1e-9, 6) AS boot_hi
    FROM point, mstats
    """,
)
def q_bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap standard error for mean order revenue — THE
    distributed resampling scheme: instead of drawing n rows with
    replacement (which needs global coordination), each row enters each
    of 32 replicas with an independent Poisson(1) weight, drawn HERE
    deterministically by comparing a 16-bit md5 of (row, replica)
    against exact Poisson CDF cutoffs — so both engines draw identical
    resamples and the whole bootstrap is value-checked, not just
    statistically plausible. Replica means are quantized to integer
    cents; their spread (exact DECIMAL moments over the 32
    replicas) is the standard error; min/max bound the replica range.

    Scale posture: a map-side 32x explode of narrow (key, cents) rows
    into one map-side-combined aggregate per replica — 32 partial sums,
    no shuffle of raw data beyond the replica rollup, no driver-side
    RNG state. Adding replicas scales linearly and independently per
    row, which is why Poisson bootstrap is the production choice for
    CI estimation over 100 TB."""
    (orders,) = _prep(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    # 4 md5 calls per ORDER, 8 independent 16-bit draws sliced from
    # each — 8x fewer hash evaluations than hashing per (order, replica)
    # row. The md5s are emitted AS GENERATE OUTPUTS (posexplode of the
    # 4-hash array) so they are evaluated once per order inside the
    # generator; a plain pre-explode projection gets CollapseProject-
    # inlined under the Generate and silently re-hashes per replica row
    # (measured 3x slower).
    md5s = F.array(
        *[
            F.md5(F.concat(F.col("okey").cast("string"), F.lit(f":{g}")))
            for g in range(_BOOT_B // 8)
        ]
    )
    groups = base.select("cents", F.posexplode(md5s).alias("g", "hval"))
    expl = groups.select(
        "cents",
        "g",
        "hval",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i"),
    ).select(
        "cents",
        (F.col("g") * 8 + F.col("i")).alias("b"),
        "hval",
        "i",
    )
    # Draw comparison done directly on the 4-char hex substring: Spark's
    # md5 emits fixed-width lowercase hex, where lexicographic order IS
    # numeric order ('0'-'9' < 'a'-'f' in ASCII), so `hex4 < '5e2d'` ⟺
    # `conv(hex4,16,10) < 24109` — same k for every row, but a 4-byte
    # string compare instead of a per-row radix conversion (r12: conv
    # cost +1.5 s over the 4.8M exploded rows at sf0.1; interleaved A/B
    # full-query 3.06 → 2.18 s, identical output).
    s4 = F.expr("substr(hval, cast(i * 4 + 1 as int), 4)")
    k = F.when(s4 < format(_POIS_BOUNDS[0], "04x"), 0)
    for i, bound in enumerate(_POIS_BOUNDS[1:], start=1):
        k = k.when(s4 < format(bound, "04x"), i)
    k = k.otherwise(6)
    d38 = "decimal(38,0)"
    rep = (
        expl.select("b", "cents", k.alias("k"))
        .groupBy("b")
        .agg(
            F.sum((F.col("k") * F.col("cents")).cast(d38))
            .cast("double")
            .alias("s"),
            F.sum("k").cast("bigint").alias("n_eff"),
        )
    )
    means = rep.filter(F.col("n_eff") > 0).select(
        F.floor(F.col("s") / F.col("n_eff") + 0.5)
        .cast("bigint")
        .alias("mu_cents")
    )
    mstats = means.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.col("mu_cents").cast(d38)).alias("m1"),
        F.sum((F.col("mu_cents").cast(d38) * F.col("mu_cents").cast(d38))).alias("m2"),
        F.min("mu_cents").alias("lo"),
        F.max("mu_cents").alias("hi"),
    )
    point = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("cents").cast(d38)).cast("double")
            / F.count(F.lit(1))
            / 100.0
            + F.lit(1e-9),
            6,
        ).alias("mean_revenue"),
    )
    nbd = F.col("nb").cast("double")
    return point.join(F.broadcast(mstats)).select(
        "n_rows",
        "mean_revenue",
        F.round(
            F.sqrt(
                (nbd * F.col("m2").cast("double")
                 - F.col("m1").cast("double") * F.col("m1").cast("double"))
                / (nbd * (nbd - 1))
            )
            / 100.0
            + F.lit(1e-9),
            6,
        ).alias("boot_se"),
        F.round(F.col("lo") / 100.0 + F.lit(1e-9), 6).alias("boot_lo"),
        F.round(F.col("hi") / 100.0 + F.lit(1e-9), 6).alias("boot_hi"),
    )


# =========================================================================
# A/B test: Welch z-test on a continuous metric between hash arms
# =========================================================================


@query(
    "abtest_value_z",
    """
    WITH assign AS (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
                       ::INTEGER % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS yi
      FROM events
    ),
    arms AS (
      SELECT arm, count(*) AS n,
             sum(CAST(yi AS DECIMAL(38,0))) AS s1,
             sum(CAST(yi * yi AS DECIMAL(38,0))) AS s2
      FROM assign GROUP BY arm
    ),
    calc AS (
      SELECT
        (SELECT n FROM arms WHERE arm = 'A') AS na,
        (SELECT CAST(s1 AS DOUBLE) FROM arms WHERE arm = 'A') AS sa1,
        (SELECT CAST(s2 AS DOUBLE) FROM arms WHERE arm = 'A') AS sa2,
        (SELECT n FROM arms WHERE arm = 'B') AS nb,
        (SELECT CAST(s1 AS DOUBLE) FROM arms WHERE arm = 'B') AS sb1,
        (SELECT CAST(s2 AS DOUBLE) FROM arms WHERE arm = 'B') AS sb2
    ),
    z AS (
      SELECT na, nb,
             round(sa1 / na / 10000.0 + 1e-9, 6) AS mean_a,
             round(sb1 / nb / 10000.0 + 1e-9, 6) AS mean_b,
             round((sa1 / na - sb1 / nb)
                   / sqrt(((na * sa2 - sa1 * sa1)
                           / (CAST(na AS DOUBLE) * (na - 1))) / na
                          + ((nb * sb2 - sb1 * sb1)
                             / (CAST(nb AS DOUBLE) * (nb - 1))) / nb)
                   + 1e-9, 4) AS z_score
      FROM calc
    )
    SELECT CAST(na AS BIGINT) AS n_a, mean_a,
           CAST(nb AS BIGINT) AS n_b, mean_b, z_score,
           CASE WHEN abs(z_score) > 1.96 THEN 1 ELSE 0 END AS significant_95
    FROM z
    """,
)
def q_abtest_value_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout on a continuous metric: users are
    hash-assigned to two arms (md5-bucket — reproducible, no RNG
    state), and the arms' mean event values are compared with a Welch
    z-test (variance from exact DECIMAL(38,0) integer moments of the
    1e-4-scaled values; the z chain is one IEEE-deterministic
    division/sqrt sequence on engine-identical sums, rounded BEFORE the
    1.96 threshold so both engines flag identically even at the
    boundary).

    Scale posture: the whole readout is ONE map-side-combined aggregate
    to 2 rows plus scalar math — experiment analysis at 100 TB costs a
    single pass, no shuffle of raw events beyond the 2-row rollup."""
    (events,) = _prep(spark, sf_dir, "events")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    yi = F.floor(F.col("value") * 10000 + 0.5).cast("bigint")
    d38 = "decimal(38,0)"
    arms = (
        events.select(arm.alias("arm"), yi.alias("yi"))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("yi").cast(d38)).alias("s1"),
            F.sum((F.col("yi") * F.col("yi")).cast(d38)).alias("s2"),
        )
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n").alias("na"),
        F.col("s1").cast("double").alias("sa1"),
        F.col("s2").cast("double").alias("sa2"),
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n").alias("nb"),
        F.col("s1").cast("double").alias("sb1"),
        F.col("s2").cast("double").alias("sb2"),
    )
    wide = a.join(F.broadcast(b))
    na, nb = F.col("na"), F.col("nb")
    nad, nbd = na.cast("double"), nb.cast("double")
    # Welch: z = (mA - mB) / sqrt(vA/nA + vB/nB), with v the sample
    # variance n*S2 - S1^2 over n(n-1); scale-invariant, so the 1e-4
    # quantization factor cancels and no rescale is needed
    var_a = (na * F.col("sa2") - F.col("sa1") * F.col("sa1")) / (
        nad * (na - 1)
    )
    var_b = (nb * F.col("sb2") - F.col("sb1") * F.col("sb1")) / (
        nbd * (nb - 1)
    )
    z = F.round(
        (F.col("sa1") / na - F.col("sb1") / nb)
        / F.sqrt(var_a / na + var_b / nb)
        + F.lit(1e-9),
        4,
    )
    return wide.select(
        na.cast("bigint").alias("n_a"),
        F.round(F.col("sa1") / na / 10000.0 + F.lit(1e-9), 6).alias("mean_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(F.col("sb1") / nb / 10000.0 + F.lit(1e-9), 6).alias("mean_b"),
        z.alias("z_score"),
        (F.abs(z) > 1.96).cast("int").alias("significant_95"),
    )


# =========================================================================
# CUPED: variance-reduced experiment readout via pre-period covariate
# =========================================================================


@query(
    "abtest_cuped",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS yi
      FROM events
    ),
    bounds AS (
      SELECT min(s) AS tmin,
             min(s) + CAST(floor((max(s) - min(s)) / 2.0) AS BIGINT) AS thr
      FROM e
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
                       ::INTEGER % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             count(CASE WHEN s < thr THEN 1 END) AS nx,
             CAST(sum(CASE WHEN s < thr
                           THEN CAST(yi AS DECIMAL(38,0)) END) AS DOUBLE) AS sx,
             count(CASE WHEN s >= thr THEN 1 END) AS ny,
             CAST(sum(CASE WHEN s >= thr
                           THEN CAST(yi AS DECIMAL(38,0)) END) AS DOUBLE) AS sy
      FROM e, bounds
      GROUP BY user_id, arm
    ),
    u AS (
      SELECT arm,
             CAST(floor(sx / nx + 0.5) AS BIGINT) AS xq,
             CAST(floor(sy / ny + 0.5) AS BIGINT) AS yq
      FROM per_user WHERE nx > 0 AND ny > 0
    ),
    g AS (
      SELECT count(*) AS n,
             sum(CAST(xq AS DECIMAL(38,0))) AS gx,
             sum(CAST(yq AS DECIMAL(38,0))) AS gy,
             sum(CAST(xq * xq AS DECIMAL(38,0))) AS gxx,
             sum(CAST(xq * yq AS DECIMAL(38,0))) AS gxy
      FROM u
    ),
    t AS (
      SELECT n,
             round((CAST(n AS DOUBLE) * CAST(gxy AS DOUBLE)
                    - CAST(gx AS DOUBLE) * CAST(gy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(gxx AS DOUBLE)
                      - CAST(gx AS DOUBLE) * CAST(gx AS DOUBLE))
                   + 1e-9, 8) AS theta,
             round(CAST(gx AS DOUBLE) / n + 1e-9, 4) AS xbar
      FROM g
    ),
    adj AS (
      SELECT arm,
             yq,
             CAST(floor(yq - theta * (xq - xbar) + 0.5) AS BIGINT) AS yadj
      FROM u, t
    ),
    arms AS (
      SELECT arm, count(*) AS n,
             sum(CAST(yq AS DECIMAL(38,0))) AS ry1,
             sum(CAST(yq * yq AS DECIMAL(38,0))) AS ry2,
             sum(CAST(yadj AS DECIMAL(38,0))) AS ay1,
             sum(CAST(yadj * yadj AS DECIMAL(38,0))) AS ay2
      FROM adj GROUP BY arm
    ),
    wide AS (
      SELECT
        (SELECT n FROM arms WHERE arm = 'A') AS na,
        (SELECT CAST(ry1 AS DOUBLE) FROM arms WHERE arm = 'A') AS ra1,
        (SELECT CAST(ry2 AS DOUBLE) FROM arms WHERE arm = 'A') AS ra2,
        (SELECT CAST(ay1 AS DOUBLE) FROM arms WHERE arm = 'A') AS aa1,
        (SELECT CAST(ay2 AS DOUBLE) FROM arms WHERE arm = 'A') AS aa2,
        (SELECT n FROM arms WHERE arm = 'B') AS nb,
        (SELECT CAST(ry1 AS DOUBLE) FROM arms WHERE arm = 'B') AS rb1,
        (SELECT CAST(ry2 AS DOUBLE) FROM arms WHERE arm = 'B') AS rb2,
        (SELECT CAST(ay1 AS DOUBLE) FROM arms WHERE arm = 'B') AS ab1,
        (SELECT CAST(ay2 AS DOUBLE) FROM arms WHERE arm = 'B') AS ab2,
        (SELECT theta FROM t) AS theta,
        (SELECT n FROM t) AS n_users
    )
    SELECT CAST(n_users AS BIGINT) AS n_users, theta,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round((ra1 / na - rb1 / nb) / 10000.0 + 1e-9, 6) AS raw_diff,
           round((ra1 / na - rb1 / nb)
                 / sqrt(((na * ra2 - ra1 * ra1)
                         / (CAST(na AS DOUBLE) * (na - 1))) / na
                        + ((nb * rb2 - rb1 * rb1)
                           / (CAST(nb AS DOUBLE) * (nb - 1))) / nb)
                 + 1e-9, 4) AS z_raw,
           round((aa1 / na - ab1 / nb)
                 / sqrt(((na * aa2 - aa1 * aa1)
                         / (CAST(na AS DOUBLE) * (na - 1))) / na
                        + ((nb * ab2 - ab1 * ab1)
                           / (CAST(nb AS DOUBLE) * (nb - 1))) / nb)
                 + 1e-9, 4) AS z_cuped
    FROM wide
    """,
)
def q_abtest_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: each user's
    post-period mean is adjusted by their PRE-period mean
    (y' = y - theta*(x - x_bar), theta = cov(x,y)/var(x)), which strips
    the between-user variance the experiment didn't cause — the
    standard technique for making a fixed-traffic experiment decide
    faster. Pre/post split at the data's temporal midpoint (derived
    deterministically from min/max); per-user means quantized to
    integers; theta and x_bar from exact DECIMAL(38,0) moments,
    QUANTIZED before the adjustment so every downstream double op is
    engine-identical; both raw and CUPED-adjusted Welch z are reported
    at the user level (the unit of randomization).

    Scale posture: one per-user aggregate over the scan (map-side
    combined), then all remaining math runs on the user-level frame —
    one global-moment pass, one 1-row broadcast back (allow-listed),
    one arm rollup. At 100 TB the expensive part is exactly one events
    shuffle keyed by user."""
    (events,) = _prep(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        F.floor(F.col("value") * 10000 + 0.5).cast("bigint").alias("yi"),
    )
    bounds = e.agg(
        F.min("s").alias("tmin"),
        (
            F.min("s")
            + F.floor((F.max("s") - F.min("s")) / 2.0).cast("bigint")
        ).alias("thr"),
    ).select("thr")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    d38 = "decimal(38,0)"
    pre = F.col("s") < F.col("thr")
    per_user = (
        e.join(F.broadcast(bounds))
        .groupBy("user_id", arm.alias("arm"))
        .agg(
            F.count(F.when(pre, 1)).alias("nx"),
            F.sum(F.when(pre, F.col("yi").cast(d38))).cast("double").alias("sx"),
            F.count(F.when(~pre, 1)).alias("ny"),
            F.sum(F.when(~pre, F.col("yi").cast(d38))).cast("double").alias("sy"),
        )
    )
    # the user-level frame feeds BOTH the global-moment pass (g) and
    # the adjustment join (adj) — without a materialization each
    # consumer replays the events scan + user-keyed shuffle, i.e. the
    # one expensive exchange runs twice. Checkpoint the narrow
    # one-row-per-user frame once (dedup.py:150 rationale).
    u = (
        per_user.filter((F.col("nx") > 0) & (F.col("ny") > 0))
        .select(
            "arm",
            F.floor(F.col("sx") / F.col("nx") + 0.5).cast("bigint").alias("xq"),
            F.floor(F.col("sy") / F.col("ny") + 0.5).cast("bigint").alias("yq"),
        )
        .transform(materialize, eager=False)
    )
    g = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xq").cast(d38)).alias("gx"),
        F.sum(F.col("yq").cast(d38)).alias("gy"),
        F.sum((F.col("xq") * F.col("xq")).cast(d38)).alias("gxx"),
        F.sum((F.col("xq") * F.col("yq")).cast(d38)).alias("gxy"),
    )
    nd = F.col("n").cast("double")
    t = g.select(
        "n",
        F.round(
            (nd * F.col("gxy").cast("double")
             - F.col("gx").cast("double") * F.col("gy").cast("double"))
            / (nd * F.col("gxx").cast("double")
               - F.col("gx").cast("double") * F.col("gx").cast("double"))
            + F.lit(1e-9),
            8,
        ).alias("theta"),
        F.round(F.col("gx").cast("double") / F.col("n") + F.lit(1e-9), 4).alias(
            "xbar"
        ),
    )
    adj = u.join(F.broadcast(t)).select(
        "arm",
        "yq",
        F.floor(
            F.col("yq") - F.col("theta") * (F.col("xq") - F.col("xbar")) + 0.5
        )
        .cast("bigint")
        .alias("yadj"),
        "theta",
        "n",
    )
    arms = adj.groupBy("arm").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("yq").cast(d38)).cast("double").alias("ry1"),
        F.sum((F.col("yq") * F.col("yq")).cast(d38)).cast("double").alias("ry2"),
        F.sum(F.col("yadj").cast(d38)).cast("double").alias("ay1"),
        F.sum((F.col("yadj") * F.col("yadj")).cast(d38))
        .cast("double")
        .alias("ay2"),
        F.first("theta").alias("theta"),
        F.first("n").alias("n_users"),
    ).transform(materialize, eager=False)  # 2 rows; read by both arm slices
    a = arms.filter(F.col("arm") == "A").select(
        F.col("cnt").alias("na"),
        F.col("ry1").alias("ra1"),
        F.col("ry2").alias("ra2"),
        F.col("ay1").alias("aa1"),
        F.col("ay2").alias("aa2"),
        "theta",
        "n_users",
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("cnt").alias("nb"),
        F.col("ry1").alias("rb1"),
        F.col("ry2").alias("rb2"),
        F.col("ay1").alias("ab1"),
        F.col("ay2").alias("ab2"),
    )
    wide = a.join(F.broadcast(b))

    def welch(s1a, s2a, s1b, s2b, na, nb):
        nad, nbd = na.cast("double"), nb.cast("double")
        va = (na * s2a - s1a * s1a) / (nad * (na - 1))
        vb = (nb * s2b - s1b * s1b) / (nbd * (nb - 1))
        return F.round(
            (s1a / na - s1b / nb) / F.sqrt(va / na + vb / nb) + F.lit(1e-9), 4
        )

    na, nb = F.col("na"), F.col("nb")
    return wide.select(
        F.col("n_users").cast("bigint").alias("n_users"),
        "theta",
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(
            (F.col("ra1") / na - F.col("rb1") / nb) / 10000.0 + F.lit(1e-9), 6
        ).alias("raw_diff"),
        welch(
            F.col("ra1"), F.col("ra2"), F.col("rb1"), F.col("rb2"), na, nb
        ).alias("z_raw"),
        welch(
            F.col("aa1"), F.col("aa2"), F.col("ab1"), F.col("ab2"), na, nb
        ).alias("z_cuped"),
    )


# =========================================================================
# Robust aggregation: trimmed and winsorized means per group
# =========================================================================

_TRIM_PCT = 5  # trim/winsorize 5% from each tail


@query(
    "agg_trimmed_mean",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    ranked AS (
      SELECT grp, cents,
             row_number() OVER (PARTITION BY grp ORDER BY cents, cents) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM base
    ),
    lim AS (
      SELECT grp, cents, rn, n,
             CAST(floor(n * {_TRIM_PCT} / 100.0) AS BIGINT) AS k
      FROM ranked
    ),
    stats AS (
      SELECT grp,
             max(n) AS n,
             max(k) AS k,
             sum(CASE WHEN rn > k AND rn <= n - k
                      THEN CAST(cents AS DECIMAL(38,0)) END) AS s_trim,
             count(CASE WHEN rn > k AND rn <= n - k THEN 1 END) AS n_trim,
             sum(CAST(CASE WHEN rn <= k THEN 0 WHEN rn > n - k THEN 0
                           ELSE cents END AS DECIMAL(38,0))) AS s_mid,
             min(CASE WHEN rn = k + 1 THEN cents END) AS lo_clip,
             min(CASE WHEN rn = n - k THEN cents END) AS hi_clip,
             sum(CAST(cents AS DECIMAL(38,0))) AS s_all
      FROM lim GROUP BY grp
    )
    SELECT grp,
           CAST(n AS BIGINT) AS n_rows,
           CAST(k AS BIGINT) AS n_trimmed_each_side,
           round(CAST(s_all AS DOUBLE) / n / 100.0 + 1e-9, 6) AS mean_raw,
           round(CAST(s_trim AS DOUBLE) / n_trim / 100.0 + 1e-9, 6)
             AS mean_trimmed,
           round((CAST(s_mid AS DOUBLE) + k * lo_clip + k * hi_clip)
                 / n / 100.0 + 1e-9, 6) AS mean_winsorized
    FROM stats
    """,
)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregation per group: the 5%-trimmed mean (drop each
    tail) and the winsorized mean (CLAMP each tail to the cut values)
    alongside the raw mean — the outlier-resistant summary for money
    columns where one whale order distorts the average. Exact rank
    windows (deterministic tie order on the value itself), integer-cent
    sums in DECIMAL(38,0), single division at presentation.

    Scale posture: one hash partitioning on the group key carries the
    rank window, the tie-count window, and the aggregate (one exchange
    + in-partition sort); per-group state is the group's rows — fine
    for bounded-cardinality grouping keys like order priority, and the
    docstring of percentiles_by_group documents the approx alternative
    for unbounded keys."""
    (orders,) = _prep(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("grp").orderBy("cents", "cents")
    wn = Window.partitionBy("grp")
    ranked = base.select(
        "grp",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn(
        "k", F.floor(F.col("n") * _TRIM_PCT / 100.0).cast("bigint")
    )
    d38 = "decimal(38,0)"
    mid = (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k"))
    stats = ranked.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(F.when(mid, F.col("cents").cast(d38))).alias("s_trim"),
        F.count(F.when(mid, 1)).alias("n_trim"),
        F.sum(
            F.when(mid, F.col("cents")).otherwise(F.lit(0)).cast(d38)
        ).alias("s_mid"),
        F.min(F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))).alias(
            "lo_clip"
        ),
        F.min(
            F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("cents"))
        ).alias("hi_clip"),
        F.sum(F.col("cents").cast(d38)).alias("s_all"),
    )
    return stats.select(
        "grp",
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("k").cast("bigint").alias("n_trimmed_each_side"),
        F.round(
            F.col("s_all").cast("double") / F.col("n") / 100.0 + F.lit(1e-9), 6
        ).alias("mean_raw"),
        F.round(
            F.col("s_trim").cast("double") / F.col("n_trim") / 100.0
            + F.lit(1e-9),
            6,
        ).alias("mean_trimmed"),
        F.round(
            (
                F.col("s_mid").cast("double")
                + F.col("k") * F.col("lo_clip")
                + F.col("k") * F.col("hi_clip")
            )
            / F.col("n")
            / 100.0
            + F.lit(1e-9),
            6,
        ).alias("mean_winsorized"),
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
# Distributed Lloyd k-means (unrolled, integer-exact, oracle-replayable)
# =========================================================================

_KM_K = 8
_KM_ITERS = 3
_KM_DIMS = 64


def _km_oracle_sql() -> str:
    """Unrolled k-means oracle: quantized integer coordinates, exact
    BIGINT squared distances, argmin via min(dist*16 + j) (tie -> the
    lowest cluster id), quantized integer centroid means per round."""
    k, d = _KM_K, _KM_DIMS
    parts = [
        f"""
    WITH e AS (
      SELECT vec_id, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)
               AS ev
      FROM embeddings, LATERAL unnest(range(1, {d} + 1)) AS t(i)
    ),
    seeds AS (
      SELECT vec_id, row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
    ),
    c0 AS (
      SELECT s.j, e.i, e.ev AS cv FROM seeds s JOIN e ON e.vec_id = s.vec_id
    )"""
    ]
    prev = "c0"
    for t in range(1, _KM_ITERS + 1):
        parts.append(
            f""",
    d{t} AS (
      SELECT e.vec_id, c.j,
             sum((e.ev - c.cv) * (e.ev - c.cv)) AS dist
      FROM e JOIN {prev} c ON c.i = e.i
      GROUP BY e.vec_id, c.j
    ),
    a{t} AS (
      SELECT vec_id,
             CAST(min(dist * 16 + j) % 16 AS INT) AS j
      FROM d{t} GROUP BY vec_id
    ),
    c{t} AS (
      SELECT a.j, e.i,
             CAST(floor(CAST(sum(e.ev) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
               AS cv
      FROM a{t} a JOIN e ON e.vec_id = a.vec_id
      GROUP BY a.j, e.i
    )"""
        )
        prev = f"c{t}"
    T = _KM_ITERS
    parts.append(
        f""",
    df AS (
      SELECT e.vec_id, c.j,
             sum((e.ev - c.cv) * (e.ev - c.cv)) AS dist
      FROM e JOIN c{T} c ON c.i = e.i
      GROUP BY e.vec_id, c.j
    ),
    af AS (
      SELECT vec_id, CAST(min(dist * 16 + j) % 16 AS INT) AS j,
             CAST(min(dist * 16 + j) // 16 AS BIGINT) AS dist
      FROM df GROUP BY vec_id
    )
    ,
    stats AS (
      SELECT j, count(*) AS n_points, CAST(sum(dist) AS BIGINT) AS inertia
      FROM af GROUP BY j
    )
    SELECT s.j AS cluster, s.n_points, s.inertia,
           round(max(CASE WHEN c.i = 1 THEN c.cv END) / 10000.0 + 1e-9, 4)
             AS c_dim1,
           round(max(CASE WHEN c.i = 2 THEN c.cv END) / 10000.0 + 1e-9, 4)
             AS c_dim2
    FROM stats s JOIN c{T} c ON c.j = s.j AND c.i <= 2
    GROUP BY s.j, s.n_points, s.inertia"""
    )
    return "".join(parts)


@query("kmeans_embeddings", _km_oracle_sql())
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-DISTRIBUTED Lloyd k-means over the embedding corpus — the
    clustering complement to embedding_top_pc's eigensolve, and unlike
    the IVF codebook (which trains on a driver-side sample, FAISS
    -style) every step here is a DataFrame operation: coordinates are
    quantized once to 1e-4 integers, squared distances are exact BIGINT
    sums, the argmin is min(dist*16 + j) (unique decode, ties to the
    lowest cluster id — no float comparisons anywhere), and centroid
    updates are quantized integer means. Three unrolled rounds from
    md5-ranked seeds; the oracle replays the identical rounds, so a
    k-means — normally the poster child for nondeterministic results —
    hash-matches across engines. Emits per-cluster size, exact inertia,
    and the first two centroid coordinates.

    Scale posture (r12 restructure, guide §1.2 + §4.2 and the MLlib
    KMeans / embedding_top_pc pattern): each Lloyd round is ONE
    Arrow-batched integer-GEMM pass over the corpus that emits k×(d+2)
    bounded partial sums per task (assignment sums, counts, inertia),
    merged by a tiny keyed aggregate; the centroid update — k×d ≈ 512
    integers of driver state, corpus-size-independent — folds
    driver-side with the EXACT arithmetic of the old distributed plan
    (IEEE-double mean then floor(x+0.5); all distances exact int64;
    argmin ties to the lowest cluster id via first-occurrence argmin,
    identical to min(dist*16+j)). The old plan broadcast-joined the
    (point, dim)-exploded table against the centroid grid — 512·N
    expression-level rows and an N×k shuffle per round, plus an eager
    checkpoint per round (27 scheduler jobs measured at sf0.1); this
    plan shuffles only tasks × 528 partial rows per round. Row-exact
    vs the old plan and oracle-gated at sf0.01 + sf0.1; interleaved
    A/B in OPTIMIZATION_r12.md."""
    import numpy as np

    (emb,) = _prep(spark, sf_dir, "embeddings")
    k, d = _KM_K, _KM_DIMS
    feat = emb.select("vec_id", F.col("embedding").alias("vec"))
    seed_pdf = (
        emb.select(
            "vec_id",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
            F.col("embedding").alias("vec"),
        )
        .orderBy("h", "vec_id")
        .limit(k)
        .toPandas()
    )
    # j = 0..k-1 in (md5, vec_id) order — the old row_number() seeding
    cent = np.floor(
        np.stack(seed_pdf["vec"].to_numpy()).astype("float64") * 10000 + 0.5
    ).astype(np.int64)
    j_ids = list(range(len(cent)))  # original cluster ids, ascending

    def round_partials(cent_arr, want_dist):
        """One corpus pass: exact-int argmin assignment + bounded
        partial sums. Emits (j, i, s) rows: i in 1..d = Σ ev_i per
        cluster, i = 0 = point count, i = -1 = Σ min-dist (inertia,
        only when want_dist). argmin(csq − 2·q·cᵀ) == argmin dist
        (xsq is row-constant); np.argmin's first-occurrence tie break
        == min(dist*16 + j) with j_ids ascending."""
        csq = (cent_arr**2).sum(axis=1)
        kk = len(cent_arr)

        def partials(batches):
            import numpy as np
            import pandas as pd

            S = np.zeros((kk, d), dtype=np.int64)
            C = np.zeros(kk, dtype=np.int64)
            I = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                q = np.floor(
                    np.stack(pdf["vec"].to_numpy()).astype("float64") * 10000
                    + 0.5
                ).astype(np.int64)
                scores = csq[None, :] - 2 * (q @ cent_arr.T)
                lab = scores.argmin(axis=1)
                np.add.at(C, lab, 1)
                np.add.at(S, lab, q)
                if want_dist:
                    xsq = (q * q).sum(axis=1)
                    np.add.at(I, lab, scores[np.arange(len(q)), lab] + xsq)
            js = np.repeat(np.arange(kk), d + (2 if want_dist else 1))
            cols = ([-1, 0] if want_dist else [0]) + list(range(1, d + 1))
            iis = np.tile(np.array(cols), kk)
            vals = []
            for j in range(kk):
                if want_dist:
                    vals.append(I[j])
                vals.append(C[j])
                vals.extend(S[j])
            yield pd.DataFrame({"j": js, "i": iis, "s": np.array(vals, dtype=np.int64)})

        merged = (
            feat.mapInPandas(partials, "j int, i int, s long")
            .groupBy("j", "i")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
        S = np.zeros((kk, d), dtype=object)
        C = [0] * kk
        I = [0] * kk
        for r in merged:
            jj, ii, s = int(r["j"]), int(r["i"]), int(r["s"])
            if ii == 0:
                C[jj] += s
            elif ii == -1:
                I[jj] += s
            else:
                S[jj][ii - 1] += s
        return S, C, I

    import math

    for _ in range(_KM_ITERS):
        S, C, _ = round_partials(cent, want_dist=False)
        # empty clusters DROP (the old groupBy(j, i) emitted no rows for
        # them); survivors keep their original j — j_ids stays ascending
        # so first-occurrence argmin still ties to the lowest j
        new_cent, new_ids = [], []
        for row, (jid, n) in enumerate(zip(j_ids, C)):
            if n > 0:
                # identical to the old plan's
                # floor(sum(ev)::double / count + 0.5) per dimension
                new_cent.append(
                    [int(math.floor(float(int(S[row][ii])) / n + 0.5)) for ii in range(d)]
                )
                new_ids.append(jid)
        cent = np.array(new_cent, dtype=np.int64)
        j_ids = new_ids
    S, C, I = round_partials(cent, want_dist=True)
    out_rows = [
        (int(j_ids[row]), int(C[row]), int(I[row]), int(cent[row][0]), int(cent[row][1]))
        for row in range(len(j_ids))
        if C[row] > 0
    ]
    frame = spark.createDataFrame(
        out_rows, "cluster int, n_points bigint, inertia bigint, cv1 long, cv2 long"
    )
    # display rounding stays a Spark expression on the bounded frame so
    # both engines share one rounding implementation (verify-skill rule)
    return frame.select(
        "cluster",
        "n_points",
        "inertia",
        F.round(F.col("cv1") / 10000.0 + F.lit(1e-9), 4).alias("c_dim1"),
        F.round(F.col("cv2") / 10000.0 + F.lit(1e-9), 4).alias("c_dim2"),
    )


# =========================================================================
# Classical seasonal index: monthly revenue vs overall baseline
# =========================================================================


@query(
    "orders_seasonal_index",
    """
    WITH base AS (
      SELECT CAST(extract(month FROM o_orderdate) AS INT) AS month,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    m AS (
      SELECT month, count(*) AS n,
             sum(CAST(cents AS DECIMAL(38,0))) AS s
      FROM base GROUP BY month
    ),
    g AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_all,
             CAST(sum(s) AS DOUBLE) AS s_all
      FROM m
    )
    SELECT m.month,
           CAST(m.n AS BIGINT) AS n_orders,
           round(CAST(m.s AS DOUBLE) / m.n / 100.0 + 1e-9, 6) AS month_mean,
           round((CAST(m.s AS DOUBLE) / m.n)
                 / (g.s_all / g.n_all) + 1e-9, 6) AS seasonal_index
    FROM m, g
    """,
)
def q_orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative seasonal index on the relational table:
    mean order value per calendar month divided by the overall mean —
    the month-of-year demand profile (index 1.0 = typical month) that
    classical decomposition and staffing/inventory models start from.
    Integer-cent DECIMAL sums, one IEEE-deterministic division chain,
    6-dp presentation.

    Scale posture: one map-side-combined aggregate to 12 rows, a 1-row
    global baseline broadcast onto them (allow-listed O(1) scalar
    fan-out) — the whole profile costs a single scan at any corpus
    size."""
    (orders,) = _prep(spark, sf_dir, "orders")
    base = orders.select(
        F.month("o_orderdate").alias("month"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    m = base.groupBy("month").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
    )
    g = m.agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("s").cast("double").alias("s_all"),
    )
    return m.join(F.broadcast(g)).select(
        "month",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(
            F.col("s").cast("double") / F.col("n") / 100.0 + F.lit(1e-9), 6
        ).alias("month_mean"),
        F.round(
            (F.col("s").cast("double") / F.col("n"))
            / (F.col("s_all") / F.col("n_all"))
            + F.lit(1e-9),
            6,
        ).alias("seasonal_index"),
    )
