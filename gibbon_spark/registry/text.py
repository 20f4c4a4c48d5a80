"""Text queries: per-document statistics, tokens and language id, quality
filters and language models (the CCNet-style bigram perplexity filter
of Wenzek et al., 2019, among them), retrieval (inverted index, TF-IDF,
BM25), training-corpus pipelines, and multimodal payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gibbon_spark.functions import text as tx
from gibbon_spark.functions.exact import money4, money_sum_sql
from gibbon_spark.materialize import materialize
from gibbon_spark.operators import dedup
from gibbon_spark.registry import _ORACLES, _prep, query
from gibbon_spark.registry.similarity import _SHINGLE_CTE, _minhash_oracle_sql
from gibbon_spark.worker import drop_spark_archives


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


_EN_STOPWORDS_SQL = "('" + "', '".join(tx.LANG_PROFILES["en"]) + "')"


@query(
    "text_stats",
    f"""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks,
             length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           n_chars,
           len(toks) AS n_tokens,
           round((n_chars - (len(toks) - 1)) / len(toks), 6) AS avg_token_len,
           round(len(list_filter(toks, t -> t IN {_EN_STOPWORDS_SQL})) / len(toks), 6)
             AS stopword_ratio,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
             AS n_bpe_tokens
    FROM t
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/length/stopword statistics + BPE-ish token
    count — all codegen expressions, scan-speed at 100 TB."""
    (docs,) = _prep(spark, sf_dir, "documents")
    m = tx.quality_metrics("text")
    return docs.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        F.round(m["avg_token_len"], 6).alias("avg_token_len"),
        F.round(m["stopword_ratio"], 6).alias("stopword_ratio"),
        tx.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


@query(
    "text_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks,
             length(text) AS n_chars
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             len(list_filter(toks, x -> x IN {_EN_STOPWORDS_SQL})) / len(toks) AS stop_ratio,
             length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) / n_chars AS punct_ratio,
             length(regexp_replace(text, '[^0-9]', '', 'g')) / n_chars AS digit_ratio
      FROM t
    )
    SELECT doc_id,
           round(least(n_tok / 64.0, 1.0) * 0.3
                 + least(stop_ratio * 4, 1.0) * 0.4
                 + greatest(0.0, 1.0 - punct_ratio * 4 - digit_ratio * 2) * 0.3
                 + 1e-9,
                 6) AS quality_score
    FROM m
    """,
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length/stopword/noise terms). The +1e-9
    nudge (identical on both sides) keeps exactly-representable halves
    off the round() boundary — Spark rounds half-up, DuckDB half-to-even,
    and this score's power-of-two denominators hit exact halves."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(tx.quality_score("text") + F.lit(1e-9), 6).alias("quality_score"),
    )


def _lang_oracle_sql() -> str:
    score_cols = ",\n             ".join(
        "round(len(list_filter(toks, x -> x IN ('"
        + "', '".join(words)
        + "'))) / len(toks), 6) AS s_" + lang
        for lang, words in sorted(tx.LANG_PROFILES.items())
    )
    langs = sorted(tx.LANG_PROFILES)
    case_arms = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        case_arms.append(f"WHEN {cond} THEN '{lang}'")
    case_sql = "CASE " + " ".join(case_arms) + " END"
    return f"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(text, '\\s+') AS toks FROM documents
    ), s AS (
      SELECT doc_id, lang,
             {score_cols}
      FROM t
    )
    SELECT doc_id, lang, {case_sql} AS pred_lang FROM s
    """


@query("lang_id", _lang_oracle_sql())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (argmax, ties to earliest code).
    The oracle CASE-chain is generated from the same LANG_PROFILES."""
    (docs,) = _prep(spark, sf_dir, "documents")
    scores = {
        lang: F.round(c, 6) for lang, c in tx.lang_scores("text").items()
    }
    ranked = F.array(
        *[
            F.struct(
                scores[lang].alias("score"),
                F.lit(-i).alias("rank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(scores))
        ]
    )
    return docs.select(
        "doc_id", "lang", F.array_max(ranked).getField("lang").alias("pred_lang")
    )


@query(
    "token_freq_top20",
    """
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def q_token_freq_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-20 (explode → count → top-k)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tx.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


@query(
    "doc_fingerprint",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
      FROM documents
    )
    SELECT doc_id, content_hash,
           list_aggregate(
             list_transform(range(1, greatest(len(toks) - 7, 1) + 1),
                            i -> md5(array_to_string(toks[i:i+7], ' '))),
             'min') AS rolling_fp
    FROM t
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fingerprint (md5 of normalized text) + winnowing-style
    rolling fingerprint (min md5 over 8-token windows). The 8-grams come
    from the codegen window shingle_table (the per-row array expression
    tx.rolling_fingerprint computes the same value but interpreted,
    O(len²) per doc — kept for expression-level use on short strings)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    rolling = (
        dedup.shingle_table(docs, n=8)
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.min(F.md5("shingle")).alias("rolling_fp"))
    )
    return docs.select(
        "doc_id", tx.fingerprint("text").alias("content_hash")
    ).join(rolling, "doc_id")


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_payload_stats",
    """
    SELECT 'text' AS modality,
           count(*) AS n_items,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           min(octet_length(encode(text))) AS min_bytes,
           max(octet_length(encode(text))) AS max_bytes
    FROM documents
    """,
)
def q_multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata scan over the media adapter (documents
    wrapped as utf-8 payloads) — octet_length/agg, pure expressions."""
    from gibbon_spark.operators import multimodal as mm

    (docs,) = _prep(spark, sf_dir, "documents")
    return mm.payload_stats(mm.documents_as_media(docs))


@query(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS payload_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing through mapInPandas (deterministic
    fake features standing in for a model forward pass — the media libs
    are intentionally absent). The oracle checks the REAL columns (size,
    content hash); the fake feature vector is pytest-asserted."""
    from gibbon_spark.operators import multimodal as mm

    (docs,) = _prep(spark, sf_dir, "documents")
    feats = mm.extract_features(mm.documents_as_media(docs))
    return feats.select("media_id", "payload_bytes", "payload_md5")


# ---------------------------------------------------------------------------
# Training-corpus pipeline: quality -> MinHash dedup -> stats
# ---------------------------------------------------------------------------


def _pipeline_oracle_sql(pairs_src: str | None = None) -> str:
    """Compose the full training-data filter pipeline in DuckDB SQL from
    the same generated pieces as the individual oracles: quality score +
    MinHash-LSH near-dup removal (drop the higher id of each pair) +
    per-language corpus stats of the kept docs.

    ``pairs_src`` (sf10 restatement hook): a relation name holding the
    minhash pair table — the chunked TEMP-TABLE build replaces only the
    inline dup_pairs CTE; every downstream stage is the same string."""
    minhash_sql = (
        _minhash_oracle_sql() if pairs_src is None else f"SELECT * FROM {pairs_src}"
    )
    return f"""
    WITH dup_pairs AS ({minhash_sql}),
    losers AS (SELECT DISTINCT id_b FROM dup_pairs),
    q AS (
      WITH t AS (
        SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks,
               length(text) AS n_chars
        FROM documents
      ), m AS (
        SELECT doc_id,
               len(toks) AS n_tok,
               len(list_filter(toks, x -> x IN {_EN_STOPWORDS_SQL})) / len(toks) AS stop_ratio,
               length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) / n_chars AS punct_ratio,
               length(regexp_replace(text, '[^0-9]', '', 'g')) / n_chars AS digit_ratio
        FROM t
      )
      SELECT doc_id, n_tok,
             round(least(n_tok / 64.0, 1.0) * 0.3
                   + least(stop_ratio * 4, 1.0) * 0.4
                   + greatest(0.0, 1.0 - punct_ratio * 4 - digit_ratio * 2) * 0.3
                   + 1e-9, 6) AS quality_score
      FROM m
    )
    SELECT d.lang,
           count(*) AS n_docs,
           round(avg(q.n_tok), 6) AS avg_tokens,
           round(CAST(sum(CAST(q.quality_score AS DECIMAL(24,6))) AS DOUBLE)
                 / count(q.quality_score) + 1e-9, 6) AS avg_quality
    FROM documents d
    JOIN q ON d.doc_id = q.doc_id
    WHERE q.quality_score >= 0.5
      AND d.doc_id NOT IN (SELECT id_b FROM losers)
    GROUP BY d.lang
    """


@query("pipeline_training_corpus", _pipeline_oracle_sql())
def q_pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end LLM training-data pipeline in one plan: quality
    scoring -> MinHash-LSH near-dedup (keep the min-id of each dup pair)
    -> per-language stats of the kept corpus. Every stage is the
    operator used by its standalone query; the oracle is composed from
    the same generated SQL pieces, so this checks the COMPOSITION, not
    just the parts."""
    (docs,) = _prep(spark, sf_dir, "documents")
    # the corpus feeds both the dedup stage and the quality stage:
    # materialize the pruned projection once so the text column is
    # read from parquet once (dedup.py:150 rationale)
    docs = docs.select("doc_id", "lang", "text").transform(materialize, eager=False)
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=12, bands=4, min_est=0.5,
        max_bucket=dedup.LSH_MAX_BUCKET,
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    scored = docs.select(
        "doc_id",
        "lang",
        tx.quality_metrics("text")["n_tokens"].alias("n_tok"),
        F.round(tx.quality_score("text") + F.lit(1e-9), 6).alias("quality_score"),
    )
    kept = scored.filter(F.col("quality_score") >= 0.5).join(
        losers, "doc_id", "left_anti"
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
        F.round(F.sum(F.col("quality_score").cast("decimal(24,6)")).cast("double")
                / F.count("quality_score") + F.lit(1e-9), 6).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# UDF surface demonstrations (SURVEY.md §2.2 'UDF/UDAF/UDTF'): the
# UDTF and pandas-UDF extension points, each Arrow-optimized and
# oracle-checked (the UDAF is in registry.analytics)
# ---------------------------------------------------------------------------


@query(
    "udtf_token_chunks",
    r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    c AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(len(t)/32.0) AS INT))) AS i
      FROM d
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(t[i*32+1 : (i+1)*32], ' ') AS chunk_text,
           CAST(len(t[i*32+1 : (i+1)*32]) AS INT) AS n_tokens
    FROM c
    """,
)
def q_udtf_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): split each document into 32-token
    context chunks — the training-data chunking step — as a LATERAL
    table function. Arrow-optimized eval. One generator row in →
    ceil(n/32) rows out, fully parallel per partition."""
    from pyspark.sql.functions import udtf

    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    (docs,) = _prep(spark, sf_dir, "documents")

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk_text string, n_tokens int")
    class TokenChunks:
        def __init__(self):
            drop_spark_archives()

        def eval(self, doc_id, text):
            import re

            toks = re.split(r"\s+", text if text is not None else "", flags=re.ASCII)
            size = 32
            n_chunks = max(1, -(-len(toks) // size))
            for i in range(n_chunks):
                chunk = toks[i * size : (i + 1) * size]
                yield doc_id, i, " ".join(chunk), len(chunk)

    spark.udtf.register("token_chunks", TokenChunks)
    # a single parquet file scans as ONE partition, which would run the
    # whole corpus through one Python worker (the sf1 scale gate measured
    # it: linear work, zero parallelism). Spread rows across the default
    # shuffle width first — one cheap exchange buys full-width UDTF eval.
    docs.select("doc_id", "text").repartition(F.col("doc_id")).createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        "SELECT tc.* FROM _udtf_docs, LATERAL token_chunks(doc_id, text) tc"
    )


@query(
    "multimodal_decode_resize",
    """
    WITH m AS (
      SELECT doc_id AS media_id, text,
             octet_length(encode(text)) AS L
      FROM documents WHERE doc_id % 3 = 0
    ),
    geo AS (
      SELECT media_id, text, L,
             CAST(16 + L % 320 AS INT) AS width,
             CAST(16 + (L * 7) % 240 AS INT) AS height
      FROM m
    ),
    geo2 AS (
      SELECT *, CAST(width AS BIGINT) * height AS n_pixels,
             CAST(floor(width  * least(224.0 / width, 224.0 / height)) AS INT) AS out_w,
             CAST(floor(height * least(224.0 / width, 224.0 / height)) AS INT) AS out_h
      FROM geo
    ),
    sums AS (
      SELECT *,
             list_sum(list_transform(range(1, L + 1),
                      i -> ord(substr(text, CAST(i AS INT), 1)))) AS s_all,
             n_pixels // L AS full_cycles,
             n_pixels % L AS rem
      FROM geo2
    ),
    m1 AS (
      SELECT *,
             CASE WHEN rem = 0 THEN 0
                  ELSE list_sum(list_transform(range(1, rem + 1),
                       i -> ord(substr(text, CAST(i AS INT), 1)))) END AS s_prefix
      FROM sums
    ),
    rs AS (
      SELECT media_id,
             list_sum(list_transform(range(0, CAST(out_h AS BIGINT) * out_w),
               idx -> ord(substr(text,
                 CAST((((((idx // out_w) * height) // out_h) * width
                        + (((idx % out_w) * width) // out_w)) % L) AS INT) + 1,
                 1)))) AS s_resized
      FROM m1
    )
    SELECT m1.media_id, m1.width, m1.height, m1.n_pixels, m1.out_w, m1.out_h,
           round((m1.full_cycles * m1.s_all + m1.s_prefix)
                 / CAST(m1.n_pixels AS DOUBLE) + 1e-9, 6) AS mean_luma,
           round(rs.s_resized / (CAST(m1.out_w AS DOUBLE) * m1.out_h) + 1e-9, 6)
             AS resized_mean_luma
    FROM m1 JOIN rs USING (media_id)
    """,
)
def q_multimodal_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image branch of the media pipeline, now with REAL pixel math:
    gsraw decode (payload bytes → tiled grayscale buffer), mean
    luminance over the actual pixels, aspect-preserving resize plan,
    and a nearest-neighbor RESAMPLE whose gather indexing runs
    vectorized numpy per Arrow batch. The oracle replays the decode
    closed-form (full_cycles·Σbytes + prefix sum) and the resample
    pixel-by-pixel via the identical (y·h)//out_h, (x·w)//out_w index
    math — integer sums, so both luminance columns are bit-exact, not
    plumbing-only."""
    from gibbon_spark.operators import multimodal as mm

    (docs,) = _prep(spark, sf_dir, "documents")
    media = mm.documents_as_mixed_media(docs)
    decoded = mm.decode_image(media).select("media_id", "n_pixels", "mean_luma")
    plan = mm.resize_plan(media)
    resized = mm.resize_image(media).select("media_id", "resized_mean_luma")
    return (
        plan.join(decoded, "media_id")
        .join(resized, "media_id")
        .select(
            "media_id",
            "width",
            "height",
            "n_pixels",
            "out_w",
            "out_h",
            F.round(F.col("mean_luma") + F.lit(1e-9), 6).alias("mean_luma"),
            F.round(F.col("resized_mean_luma") + F.lit(1e-9), 6).alias(
                "resized_mean_luma"
            ),
        )
    )


@query(
    "multimodal_frame_sample",
    """
    WITH v AS (
      SELECT doc_id AS media_id, text,
             1000 + (octet_length(encode(text)) % 50) * 200 AS duration_ms
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT media_id,
           CAST(i AS BIGINT) AS frame_ts_ms,
           md5(text || ':' || CAST(i AS VARCHAR)) AS frame_md5
    FROM v CROSS JOIN UNNEST(range(0, duration_ms, 1000)) AS t(i)
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video branch: distributed frame sampling (sequence+explode row
    generation, one row per second of fake footage) with deterministic
    md5 frame fingerprints standing in for decoded frame bytes."""
    from gibbon_spark.operators import multimodal as mm

    (docs,) = _prep(spark, sf_dir, "documents")
    media = mm.documents_as_mixed_media(docs)
    return mm.sample_video_frames(media, every_ms=1000)


# ---------------------------------------------------------------------------
# Corpus quality: repetition, quality top-k and weighted sampling,
# decontamination, lexical diversity, TF-IDF
# ---------------------------------------------------------------------------


@query(
    "text_repetition_stats",
    """
    WITH d AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM d),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    d1 AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct, max(c) AS top_cnt
      FROM tc GROUP BY doc_id
    ),
    bi AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                                   i -> array_to_string(t[i:i+1], ' '))) AS bigram
      FROM d
    ),
    d2 AS (SELECT doc_id, count(*) AS n_bi_distinct FROM bi GROUP BY doc_id)
    SELECT d1.doc_id, n_tokens,
           round(n_distinct / n_tokens + 1e-9, 6) AS distinct_ratio,
           round(top_cnt / n_tokens + 1e-9, 6) AS top_token_ratio,
           round(1.0 - n_bi_distinct / greatest(n_tokens - 1, 1) + 1e-9, 6)
             AS dup_bigram_ratio
    FROM d1 JOIN d2 ON d1.doc_id = d2.doc_id
    """,
)
def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: type/token
    (distinct) ratio, most-frequent-token mass, and duplicate-bigram
    fraction — the filters that catch boilerplate and degenerate pages
    in a pretraining corpus. Token counts are one explode + two
    hash aggregates; bigrams reuse the codegen window shingle_table
    (n=2) rather than the interpreted higher-order-function path. All
    ratios carry the +1e-9 half-boundary nudge on both sides."""
    (docs,) = _prep(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d1 = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_cnt"),
    )
    d2 = (
        dedup.shingle_table(docs, n=2)
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_bi_distinct"))
    )
    return d1.join(d2, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_distinct") / F.col("n_tokens") + 1e-9, 6).alias(
            "distinct_ratio"
        ),
        F.round(F.col("top_cnt") / F.col("n_tokens") + 1e-9, 6).alias(
            "top_token_ratio"
        ),
        F.round(
            F.lit(1.0)
            - F.col("n_bi_distinct") / F.greatest(F.col("n_tokens") - 1, F.lit(1))
            + 1e-9,
            6,
        ).alias("dup_bigram_ratio"),
    )


def _topk_quality_oracle_sql() -> str:
    """Built on the registered text_quality_score oracle so the score
    definition cannot drift between the two queries."""
    return f"""
    WITH q AS ({_ORACLES["text_quality_score"]})
    SELECT lang, rank, doc_id, quality_score FROM (
      SELECT d.lang,
             row_number() OVER (PARTITION BY d.lang
                                ORDER BY q.quality_score DESC, q.doc_id) AS rank,
             q.doc_id, q.quality_score
      FROM q JOIN documents d ON q.doc_id = d.doc_id
    )
    WHERE rank <= 5
    ORDER BY lang, rank
    """


@query("topk_per_group_quality", _topk_quality_oracle_sql())
def q_topk_per_group_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (top-5 docs per language by quality score):
    the grouped variant of global top-k — rank window + filter. At
    scale Spark's WindowGroupLimit pushes the k-limit into the shuffle
    (partial top-k per map task), so the exchange carries ~k rows per
    group per task, not the whole corpus. doc_id tiebreak keeps the
    ranking total."""
    (docs,) = _prep(spark, sf_dir, "documents")
    from pyspark.sql import Window

    scored = docs.select(
        "doc_id",
        "lang",
        F.round(tx.quality_score("text") + F.lit(1e-9), 6).alias("quality_score"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "doc_id", "quality_score")
        .orderBy("lang", "rank")
    )


def _weighted_sample_oracle_sql() -> str:
    return f"""
    WITH q AS ({_ORACLES["text_quality_score"]}),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM documents
    )
    SELECT d.lang, count(*) AS n_docs,
           count(CASE WHEN h.u < q.quality_score THEN 1 END) AS n_kept
    FROM documents d
    JOIN q ON d.doc_id = q.doc_id
    JOIN h ON d.doc_id = h.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
    """


@query("sample_weighted_quality", _weighted_sample_oracle_sql())
def q_sample_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling: keep a doc with probability
    = its quality score, decided by a deterministic per-doc uniform
    u = md5(doc_id)[0:8] / 2^32 — no RNG state, reproducible at any
    corpus size and replayable bit-for-bit by the oracle (the division
    by 2^32 is exact in binary floating point). Pure map-side
    expressions + one aggregate shuffle."""
    (docs,) = _prep(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        / F.lit(4294967296.0)
    )
    score = F.round(tx.quality_score("text") + F.lit(1e-9), 6)
    return (
        docs.select("lang", (u < score).alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        )
        .orderBy("lang")
    )


@query(
    "decontaminate_ngram",
    _SHINGLE_CTE
    + """
    , tagged AS (
      SELECT doc_id, shingle,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 50 = 0
               AS is_bench
      FROM sh
    ),
    bench AS (SELECT DISTINCT shingle FROM tagged WHERE is_bench),
    corp AS (SELECT doc_id, shingle FROM tagged WHERE NOT is_bench),
    tot AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY doc_id),
    hit AS (
      SELECT doc_id, count(*) AS n_hit
      FROM corp WHERE shingle IN (SELECT shingle FROM bench)
      GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_sh,
           coalesce(h.n_hit, 0) AS n_hit,
           round(coalesce(h.n_hit, 0) / t.n_sh, 6) AS contamination
    FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
    ORDER BY contamination DESC, t.doc_id
    LIMIT 20
    """,
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: a held-out "benchmark" set
    (hash-mod 2% of docs — stands in for an eval suite) contributes a
    distinct-3-gram set; every training doc reports the fraction of its
    own 3-grams that collide with it. Top-20 most contaminated docs.

    Scale shape: the shingle inverted index is built ONCE (codegen
    window, see dedup.shingle_table), the membership probe is a
    left-semi shuffle join on the shingle key — never a broadcast of a
    corpus-sized side, never an all-pairs comparison. In production the
    benchmark side is genuinely bounded, making the probe a broadcast;
    here it scales with SF so we let AQE decide."""
    (docs,) = _prep(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, n=3)
    is_bench = (
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 50 == 0
    )
    # r12 (guide §2.1): tagged feeds THREE consumers (bench set, per-doc
    # totals, semi-join probe) — without a checkpoint the shingle
    # explode+window+distinct replays per consumer. Interleaved A/B at
    # sf0.1: wins 4/5 adjacent pairs, min 4.69 → 2.94 s (slow epoch),
    # identical 20 rows.
    tagged = sh.withColumn("is_bench", is_bench).transform(
        materialize, eager=True
    )
    bench = tagged.filter("is_bench").select("shingle").distinct()
    corp = tagged.filter(~F.col("is_bench")).select("id", "shingle")
    tot = corp.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    hit = (
        corp.join(bench, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        tot.join(hit, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_sh",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_sh"), 6
            ).alias("contamination"),
        )
        .orderBy(F.desc("contamination"), "doc_id")
        .limit(20)
    )


@query(
    "text_lexical_diversity",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           round(count(*) / sum(cnt), 6) AS ttr,
           round(1.0 - CAST(sum(cnt * cnt) AS BIGINT) / (sum(cnt) * sum(cnt)), 6)
             AS gini_diversity,
           round(max(cnt) / sum(cnt), 6) AS top_token_share
    FROM c GROUP BY doc_id
    """,
)
def q_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals per document: type-token
    ratio, Simpson/Gini diversity 1 − Σ(cnt/n)², and the hot-token
    share (Gopher-style repetition filters). All three are ratios of
    INTEGER aggregates — no libm transcendentals — so the hash matches
    any engine bit-for-bit (an entropy variant would hinge on log2
    ulp parity between libms). Explode + two hash aggregations, both
    partial-combined map-side; shuffle is on (doc, token) then doc."""
    (docs,) = _prep(spark, sf_dir, "documents")
    c = (
        docs.select("doc_id", F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = F.sum("cnt")
    return c.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)) / n, 6).alias("ttr"),
        F.round(
            F.lit(1.0) - F.sum(F.col("cnt") * F.col("cnt")) / (n * n), 6
        ).alias("gini_diversity"),
        F.round(F.max("cnt") / n, 6).alias("top_token_share"),
    )


@query(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             round(tf.tf * ((n_docs - df.df + 0.5) / (df.df + 0.5)) + 1e-9, 4)
               AS score
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
      WHERE tf.doc_id % 20 = 0
    )
    SELECT doc_id, tok, tf, df, score, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, tok) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-5 terms per sampled document,
    idf in BM25's *rational* form (N - df + 0.5)/(df + 0.5) — monotone
    in the usual log-idf but free of libm transcendentals, so the
    score hashes identically on every engine (ln() ulp parity is the
    one thing two engines never promise). df is corpus-wide; the tf
    side is filtered to the doc sample BEFORE the join, so the
    per-term join input shrinks 20x at the scan. At 100 TB both hash
    aggregations partial-combine map-side and the term join shuffles
    on the token; WindowGroupLimit pushes the top-5 into the final
    per-doc shuffle."""
    from pyspark.sql import Window

    (docs,) = _prep(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") % 20 == 0)
        .join(dfq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "tok", "tf", "df",
            F.round(
                F.col("tf")
                * ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                + F.lit(1e-9),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "tok", "tf", "df", "score", "rnk")
    )


# ---------------------------------------------------------------------------
# Keyword search: BM25 ranking (single-pass corpus stats, no per-token shuffle)
# ---------------------------------------------------------------------------


_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_sql() -> str:
    """DuckDB oracle generated from the same term list and constants the
    Spark plan uses, so the two sides cannot drift."""
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_aggs = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    score_terms = " + ".join(
        f"CAST(round((CASE WHEN tf_{i} > 0 THEN "
        f"(((n_docs - df_{i}) + 0.5) / (df_{i} + 0.5))"
        f" * ((tf_{i} * {_BM25_K1 + 1.0}) / (tf_{i} + ({_BM25_K1} * "
        f"((1.0 - {_BM25_B}) + ({_BM25_B} * (CAST(dl AS DOUBLE) / avgdl))))))"
        f" ELSE 0.0 END) + 1e-9, 6) AS DECIMAL(24,6))"
        for i in range(len(_BM25_TERMS))
    )
    match_terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents
    ),
    tf AS (SELECT doc_id, len(toks) AS dl, {tf_cols} FROM t),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, {df_aggs}
      FROM tf
    ),
    scored AS (
      SELECT doc_id,
             round(CAST(({score_terms}) AS DOUBLE) + 1e-9, 4) AS score,
             {match_terms} AS n_terms_matched
      FROM tf CROSS JOIN stats
    )
    SELECT doc_id, score, n_terms_matched,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 10)
    """


@query("bm25_search", _bm25_sql())
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search over the corpus: top-10 documents for a fixed
    term set. Spark-first plan: per-doc term frequencies come from array
    expressions on the token array (``size(filter(...))``) — NO
    explode/shuffle per token; corpus stats (N, avgdl, per-term df) are
    ONE scalar aggregation broadcast back; scoring is a per-row codegen
    expression; top-10 is TakeOrderedAndProject (no global sort
    materialization). idf uses BM25's rational (N - df + 0.5)/(df + 0.5)
    form — no libm, so scores hash identically on every engine; the
    3-term score sum is rounded-decimal addition in fixed order, immune
    to float reassociation. At 100 TB: one scan for stats, one for
    scoring, and a k-row driver-side top-k merge."""
    (docs,) = _prep(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    tf = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            (F.size(toks) - F.size(F.array_remove(toks, t))).alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    k1, b = _BM25_K1, _BM25_B
    score_parts = [
        F.round(
            F.when(
                F.col(f"tf_{i}") > 0,
                (
                    ((F.col("n_docs") - F.col(f"df_{i}")) + F.lit(0.5))
                    / (F.col(f"df_{i}") + F.lit(0.5))
                )
                * (
                    (F.col(f"tf_{i}") * F.lit(k1 + 1.0))
                    / (
                        F.col(f"tf_{i}")
                        + (
                            F.lit(k1)
                            * (
                                F.lit(1.0 - b)
                                + (F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl")))
                            )
                        )
                    )
                ),
            ).otherwise(F.lit(0.0))
            + F.lit(1e-9),
            6,
        ).cast("decimal(24,6)")
        for i in range(len(_BM25_TERMS))
    ]
    score = score_parts[0]
    for p in score_parts[1:]:
        score = score + p
    matched = sum(
        F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)
        for i in range(len(_BM25_TERMS))
    )
    scored = tf.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(score.cast("double") + F.lit(1e-9), 4).alias("score"),
        matched.alias("n_terms_matched"),
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Training-corpus assembly: sequence packing
# ---------------------------------------------------------------------------


_PACK_BUDGET = 512


@query(
    "pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split_regex(text, '\\s+')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tok,
             sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS start_off
      FROM t
    )
    SELECT lang, CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS chunk_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           min(doc_id) AS first_doc
    FROM c GROUP BY lang, chunk_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-training
    batch assembly: documents are concatenated in deterministic order
    (doc_id) per language stream and cut into fixed token-budget chunks;
    a doc belongs to the chunk its first token lands in. One window
    pass (running token offset) + one aggregation, both partitioned by
    the stream key — a single shuffle. At 100 TB the stream key would
    be (lang, shard) so each packer partition holds bounded state;
    membership is a pure function of the ordered prefix sums, so any
    engine replays it exactly."""
    (docs,) = _prep(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(tx.tokens("text")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        c.withColumn("chunk_id", F.expr(f"start_off div {_PACK_BUDGET}"))
        .groupBy("lang", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing and n-gram language statistics
# ---------------------------------------------------------------------------


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "555-[0-9]{4}"


@query(
    "text_pii_scrub",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS t
      FROM documents
    ),
    scrub AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
             regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                            '{_PHONE_RE}', '<PHONE>', 'g') AS s
      FROM seeded
    )
    SELECT doc_id, n_emails, n_phones,
           length(s) AS scrubbed_len, md5(s) AS scrubbed_md5
    FROM scrub
    """,
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the compliance pass every training
    corpus needs. The synthetic corpus contains no PII, so the query
    first deterministically injects an email and phone into every 7th
    doc (a pure function of doc_id, replayed identically by the
    oracle), then counts and scrubs with character-class-only regexes
    that behave identically under Java regex and RE2. The md5 of the
    scrubbed text pins the exact redaction output, not just the
    counts. Pure map-side expression work — no shuffle; at 100 TB this
    runs at scan speed inside whole-stage codegen."""
    (docs,) = _prep(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    scrub = seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), 0)).alias(
            "n_phones"
        ),
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("s"),
    )
    return scrub.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.length("s").alias("scrubbed_len"),
        F.md5("s").alias("scrubbed_md5"),
    )


@query(
    "text_bigram_top20",
    """
    WITH t AS (
      SELECT string_split_regex(text, '\\s+') AS toks FROM documents
    ),
    b AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    )
    SELECT bigram, count(*) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def q_text_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 token bigrams — the n-gram LM statistic
    (precursor to KenLM-style filtering and repetition heuristics).
    posexplode + lead() over a per-doc window stays in whole-stage
    codegen (higher-order array lambdas fall back to interpreted
    eval); the bigram count partial-aggregates map-side and the top-20
    is TakeOrderedAndProject — driver merges 20 rows per partition, no
    global sort."""
    (docs,) = _prep(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(tx.tokens("text")).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    bi = base.select(
        F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w)).alias("bigram"),
        F.lead("tok", 1).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    return (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "multimodal_audio_stats",
    """
    WITH a AS (
      SELECT doc_id AS media_id, text,
             octet_length(encode(text)) AS L,
             1000 + (octet_length(encode(text)) % 50) * 200 AS duration_ms
      FROM documents WHERE doc_id % 3 = 1
    ),
    geo AS (
      SELECT media_id, text, L,
             CAST(duration_ms AS BIGINT) * 16000 // 1000 AS n_samples
      FROM a
    ),
    sums AS (
      SELECT media_id, text, L, n_samples,
             n_samples // L AS full_cycles,
             n_samples % L AS rem,
             list_sum(list_transform(range(1, L + 1),
                 i -> ord(substr(text, CAST(i AS INT), 1)) - 128)) AS s1,
             list_sum(list_transform(range(1, L + 1),
                 i -> (ord(substr(text, CAST(i AS INT), 1)) - 128)
                      * (ord(substr(text, CAST(i AS INT), 1)) - 128))) AS s2,
             list_max(list_transform(range(1, L + 1),
                 i -> abs(ord(substr(text, CAST(i AS INT), 1)) - 128))) AS pk_all
      FROM geo
    ),
    pre AS (
      SELECT *,
             CASE WHEN rem = 0 THEN 0
                  ELSE list_sum(list_transform(range(1, rem + 1),
                       i -> ord(substr(text, CAST(i AS INT), 1)) - 128)) END AS p1,
             CASE WHEN rem = 0 THEN 0
                  ELSE list_sum(list_transform(range(1, rem + 1),
                       i -> (ord(substr(text, CAST(i AS INT), 1)) - 128)
                            * (ord(substr(text, CAST(i AS INT), 1)) - 128))) END
                    AS p2,
             CASE WHEN n_samples >= L THEN pk_all
                  ELSE list_max(list_transform(range(1, CAST(n_samples AS BIGINT) + 1),
                       i -> abs(ord(substr(text, CAST(i AS INT), 1)) - 128))) END
                    AS peak
      FROM sums
    )
    SELECT media_id, n_samples,
           round((full_cycles * s1 + p1) / CAST(n_samples AS DOUBLE) + 1e-9, 6)
             AS mean_level,
           round(sqrt((full_cycles * s2 + p2) / CAST(n_samples AS DOUBLE))
                 + 1e-9, 6) AS rms,
           CAST(peak AS INT) AS peak
    FROM pre
    """,
)
def q_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio branch with REAL waveform math: gsraw-audio decode (payload
    bytes = unsigned 8-bit PCM, center 128, tiled to duration x
    sample_rate samples) with mean level, RMS, and peak reduced over the
    actual sample buffer — vectorized numpy per Arrow batch, the
    loudness-normalization scan an audio training pipeline runs. The
    oracle replays every statistic closed-form over the tiling
    (full_cycles x sum + prefix, integer sums exact in float64; IEEE
    sqrt is correctly rounded), so all three are bit-exact."""
    from gibbon_spark.operators import multimodal as mm

    (docs,) = _prep(spark, sf_dir, "documents")
    media = mm.documents_as_mixed_media(docs)
    return mm.decode_audio(media).select(
        "media_id",
        "n_samples",
        F.round(F.col("mean_level") + F.lit(1e-9), 6).alias("mean_level"),
        F.round(F.col("rms") + F.lit(1e-9), 6).alias("rms"),
        "peak",
    )


@query(
    "multimodal_video_frame_luma",
    """
    WITH v AS (
      SELECT doc_id AS media_id, text,
             octet_length(encode(text)) AS L,
             1000 + (octet_length(encode(text)) % 50) * 200 AS duration_ms
      FROM documents WHERE doc_id % 3 = 2
    ),
    fr AS (
      SELECT media_id, text, L,
             CAST(t.f AS BIGINT) AS frame_idx,
             CAST(t.f AS BIGINT) * 2000 AS frame_ts_ms,
             (CAST(t.f AS BIGINT) * 997) % L AS o
      FROM v CROSS JOIN UNNEST(range(least((duration_ms + 1999) // 2000, 5)))
             AS t(f)
    )
    SELECT media_id, frame_idx, frame_ts_ms,
           round(list_sum(list_transform(range(768),
                 i -> ord(substr(text, CAST((o + i) % L AS INT) + 1, 1))))
                 / 768.0 + 1e-9, 6) AS frame_mean_luma
    FROM fr
    """,
)
def q_multimodal_video_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video branch with REAL frame math: one 32x24 gsraw frame decoded
    per 2 s of footage (capped at 5 per video), mean luminance reduced
    over the actual 768-byte frame slice at circular offset
    (frame x 997) mod len — the shot-detection / thumbnail-strip scan.
    Completes the modality matrix: image (decode+resample), audio
    (PCM stats), video (frame decode) all with bit-exact oracles."""
    from gibbon_spark.operators import multimodal as mm

    (docs,) = _prep(spark, sf_dir, "documents")
    media = mm.documents_as_mixed_media(docs)
    out = mm.sample_frame_luma(media, every_ms=2000, max_frames=5)
    return out.select(
        "media_id",
        "frame_idx",
        "frame_ts_ms",
        F.round(F.col("frame_mean_luma") + F.lit(1e-9), 6).alias(
            "frame_mean_luma"
        ),
    )


def _lang_confusion_oracle_sql() -> str:
    base = _lang_oracle_sql()
    return f"""
    WITH pred AS ({base}),
    cm AS (
      SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY lang, pred_lang
    ),
    tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cm GROUP BY lang)
    SELECT cm.lang, cm.pred_lang, cm.n, tot.n_lang,
           round(CAST(cm.n AS DOUBLE) / tot.n_lang + 1e-9, 6) AS share
    FROM cm JOIN tot ON tot.lang = cm.lang
    """


@query("lang_id_confusion", _lang_confusion_oracle_sql())
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the (true lang x predicted lang)
    confusion matrix with per-true-language shares — the accuracy
    report a curator reads before trusting the classifier to route a
    100 TB corpus. Reuses lang_id's expression-only argmax (same
    LANG_PROFILES on both engines) so the matrix is oracle-exact.

    Scale posture: one scan with the per-language score expressions,
    one (lang, pred) count with map-side combine (25 cells max), and a
    broadcast join against the 5-row per-language totals."""
    (docs,) = _prep(spark, sf_dir, "documents")
    scores = {lang: F.round(c, 6) for lang, c in tx.lang_scores("text").items()}
    ranked = F.array(
        *[
            F.struct(
                scores[lang].alias("score"),
                F.lit(-i).alias("rank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(scores))
        ]
    )
    pred = docs.select(
        "lang", F.array_max(ranked).getField("lang").alias("pred_lang")
    )
    cm = pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))
    tot = cm.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_lang"))
    return cm.join(F.broadcast(tot), "lang").select(
        "lang",
        "pred_lang",
        "n",
        "n_lang",
        F.round(
            F.col("n").cast("double") / F.col("n_lang") + F.lit(1e-9), 6
        ).alias("share"),
    )


@query(
    "multimodal_ahash_dedup",
    """
    WITH m AS (
      SELECT doc_id AS media_id, text, octet_length(encode(text)) AS L,
             CAST(16 + octet_length(encode(text)) % 320 AS INT) AS w,
             CAST(16 + (octet_length(encode(text)) * 7) % 240 AS INT) AS h
      FROM documents WHERE doc_id % 3 = 0
    ),
    px AS (
      SELECT media_id,
             list_transform(range(0, 64),
               j -> ord(substr(text,
                 CAST((((((j // 8) * h) // 8) * w
                        + (((j % 8) * w) // 8)) % L) AS INT) + 1, 1))) AS ps
      FROM m
    ),
    hs AS (
      SELECT media_id,
             array_to_string(list_transform(ps,
               p -> CASE WHEN p * 64 > list_sum(ps) THEN '1' ELSE '0' END),
               '') AS ahash
      FROM px
    ),
    grp AS (SELECT ahash, count(*) AS n_shared FROM hs GROUP BY ahash)
    SELECT hs.media_id, hs.ahash, grp.n_shared,
           CASE WHEN grp.n_shared > 1 THEN 1 ELSE 0 END AS is_dup
    FROM hs JOIN grp USING (ahash)
    """,
)
def q_multimodal_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup: every gsraw image gets a 64-bit average
    hash (8x8 nearest-neighbor downsample of the decoded bitmap, bit =
    pixel*64 > sum — strict integer compare, no float), and images
    sharing a hash are flagged as perceptual duplicates. Unlike
    byte-level dedup_exact, the hash survives small pixel edits — the
    image-side analog of MinHash for text, with the same "hash once,
    groupBy the sketch" scale shape: one mapInPandas decode pass, one
    hash-keyed aggregate, one keyed join back. The pixel sampling uses
    the SAME index arithmetic as multimodal_decode_resize, so the
    DuckDB oracle replays the full decode->downsample->threshold
    pipeline bit-for-bit (operators/multimodal.py:image_ahash)."""
    from gibbon_spark.operators import multimodal as mm

    (docs,) = _prep(spark, sf_dir, "documents")
    media = mm.documents_as_mixed_media(docs)
    hashed = mm.image_ahash(media)
    grp = hashed.groupBy("ahash").agg(F.count(F.lit(1)).alias("n_shared"))
    return hashed.join(grp, "ahash").select(
        "media_id",
        "ahash",
        "n_shared",
        (F.col("n_shared") > 1).cast("int").alias("is_dup"),
    )


# =========================================================================
# Inverted index build (posting lists)
# =========================================================================


@query(
    "inverted_index_terms",
    """
    WITH t AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      FROM documents
    ),
    tp AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      FROM documents
    ),
    stats AS (
      SELECT term, count(*) AS n_postings FROM tp GROUP BY term
    ),
    head AS (
      SELECT term,
             count(*) AS df,
             array_to_string(list_sort(list(doc_id))[1:12], ',') AS posting_head
      FROM (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
        FROM t
      ) WHERE rk <= 12 GROUP BY term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM t GROUP BY term)
    SELECT d.term, d.df, s.n_postings, h.posting_head
    FROM dfreq d JOIN stats s ON d.term = s.term JOIN head h ON d.term = h.term
    ORDER BY d.df DESC, d.term LIMIT 40
    """,
)
def q_inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the search/decontamination backbone):
    per term, document frequency, total postings, and the first 12
    doc_ids of the sorted posting list. The posting head is truncated
    BEFORE any collect — a row_number window capped at 12 (Spark pushes
    the cap into WindowGroupLimit partial evaluation) — so a stopword
    with a 10⁹-doc posting list never materializes as one array on one
    task; df/posting counts come from plain hash aggregates. Three keyed
    shuffles on ``term``, all AQE-coalesced; no unbounded per-key
    state anywhere."""
    (docs,) = _prep(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tx.tokens("text")).alias("term"))
    stats = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_postings"))
    td = toks.distinct()
    dfreq = td.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("term").orderBy("doc_id")
    head = (
        td.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 12)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("posting_head")
        )
    )
    return (
        dfreq.join(stats, "term")
        .join(head, "term")
        .select("term", "df", "n_postings", "posting_head")
        .orderBy(F.col("df").desc(), "term")
        .limit(40)
    )


# =========================================================================
# Token-distribution drift between dataset splits
# =========================================================================


@query(
    "token_drift_splits",
    """
    WITH s AS (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
                       % 100 < 80 THEN 'train' ELSE 'val' END AS split,
             unnest(string_split_regex(text, '\\s+')) AS token
      FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 100 < 90
    ),
    c AS (
      SELECT token,
             count(CASE WHEN split = 'train' THEN 1 END) AS n_train,
             count(CASE WHEN split = 'val' THEN 1 END) AS n_val
      FROM s GROUP BY token
    ),
    tot AS (
      SELECT sum(n_train) AS t_train, sum(n_val) AS t_val FROM c
    )
    SELECT token, n_train, n_val,
           round(CAST(n_train AS DOUBLE) / CAST(t_train AS DOUBLE) + 1e-9, 8)
             AS p_train,
           round(CAST(n_val AS DOUBLE) / CAST(t_val AS DOUBLE) + 1e-9, 8) AS p_val,
           round(abs(CAST(n_train AS DOUBLE) / CAST(t_train AS DOUBLE)
                     - CAST(n_val AS DOUBLE) / CAST(t_val AS DOUBLE)) + 1e-9, 8)
             AS tv_component
    FROM c, tot
    ORDER BY n_train + n_val DESC, token LIMIT 30
    """,
)
def q_token_drift_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between the deterministic train/val
    splits (same md5-mod split as sample_split_hash): per top-30 token,
    relative frequency in each split and the total-variation component
    |p_train − p_val|. This is the dataset-shift / contamination check a
    training pipeline runs before trusting a validation set. All
    arithmetic is ratios of exact BIGINT counts (libm-free, same
    discipline as tfidf_top_terms), so both engines produce identical
    doubles. One tokenize scan → one hash aggregate; the two split
    totals ride along as a 1-row broadcast (allow-listed scalar
    nested-loop, O(n) like the BM25 corpus stats)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    toks = (
        docs.select(bucket.alias("bucket"), "text")
        .filter(F.col("bucket") < 90)
        .select(
            F.when(F.col("bucket") < 80, "train").otherwise("val").alias("split"),
            F.explode(tx.tokens("text")).alias("token"),
        )
    )
    c = toks.groupBy("token").agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "val", 1)).alias("n_val"),
    )
    tot = c.agg(
        F.sum("n_train").alias("t_train"), F.sum("n_val").alias("t_val")
    )
    p_train = F.col("n_train").cast("double") / F.col("t_train").cast("double")
    p_val = F.col("n_val").cast("double") / F.col("t_val").cast("double")
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "n_train",
            "n_val",
            F.round(p_train + F.lit(1e-9), 8).alias("p_train"),
            F.round(p_val + F.lit(1e-9), 8).alias("p_val"),
            F.round(F.abs(p_train - p_val) + F.lit(1e-9), 8).alias("tv_component"),
        )
        .orderBy((F.col("n_train") + F.col("n_val")).desc(), "token")
        .limit(30)
    )


# =========================================================================
# Quality-filter audit report (C4/Gopher-style rule breakdown)
# =========================================================================


_QF_STOPWORDS = ("the", "a", "of", "and")


def _quality_filter_oracle_sql() -> str:
    sw = ", ".join(f"'{w}'" for w in _QF_STOPWORDS)
    rules = {
        "min_tokens": "n_tokens < 30",
        "digit_noise": "digit_frac > 0.02",
        "low_stopword": "stop_frac < 0.05",
        "short_tokens": "chars_per_token < 4.0",
    }
    arms = []
    for rule, cond in rules.items():
        arms.append(
            f"SELECT '{rule}' AS rule, count(CASE WHEN {cond} THEN 1 END) AS n_fail,"
            f" count(*) AS n_docs,"
            f" round(CAST(count(CASE WHEN {cond} THEN 1 END) AS DOUBLE)"
            f" / CAST(count(*) AS DOUBLE) + 1e-9, 6) AS fail_rate FROM m"
        )
    return f"""
    WITH m AS (
      SELECT doc_id,
             len(string_split_regex(text, '\\s+')) AS n_tokens,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS digit_frac,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t IN ({sw}))) AS DOUBLE)
               / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS stop_frac,
             CAST(length(text) AS DOUBLE)
               / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE)
               AS chars_per_token
      FROM documents
    )
    {" UNION ALL ".join(arms)}
    ORDER BY rule
    """


@query("quality_filter_report", _quality_filter_oracle_sql())
def q_quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter AUDIT: per-rule failure counts for a C4/Gopher-
    style rule set (min token count, digit-noise ratio, stopword floor,
    mean token length) — the report a data curator reads before
    applying a destructive corpus filter. All four rules are computed
    in ONE scan as codegen expressions (token counts, char-class
    ratios), aggregated once, then fanned out to one row per rule; the
    fail rates are exact integer-count ratios, bit-identical on both
    engines. At 100 TB: map-side expressions + a 1-row aggregate —
    nothing scales with corpus size but the scan."""
    (docs,) = _prep(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    n_tokens = F.size(toks)
    digit_frac = (
        F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast("double")
        / F.length(F.col("text")).cast("double")
    )
    stop_frac = F.size(
        F.filter(toks, lambda t: t.isin(*_QF_STOPWORDS))
    ).cast("double") / n_tokens.cast("double")
    chars_per_token = F.length(F.col("text")).cast("double") / n_tokens.cast(
        "double"
    )
    m = docs.select(
        n_tokens.alias("n_tokens"),
        digit_frac.alias("digit_frac"),
        stop_frac.alias("stop_frac"),
        chars_per_token.alias("chars_per_token"),
    )
    rules = {
        "min_tokens": F.col("n_tokens") < 30,
        "digit_noise": F.col("digit_frac") > 0.02,
        "low_stopword": F.col("stop_frac") < 0.05,
        "short_tokens": F.col("chars_per_token") < 4.0,
    }
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for rule, cond in rules.items():
        aggs.append(F.count(F.when(cond, 1)).alias(f"fail_{rule}"))
    row = m.agg(*aggs)
    arms = [
        F.struct(
            F.lit(rule).alias("rule"),
            F.col(f"fail_{rule}").alias("n_fail"),
            F.col("n_docs").alias("n_docs"),
            F.round(
                F.col(f"fail_{rule}").cast("double")
                / F.col("n_docs").cast("double")
                + F.lit(1e-9),
                6,
            ).alias("fail_rate"),
        )
        for rule in rules
    ]
    return (
        row.select(F.explode(F.array(*arms)).alias("r"))
        .select("r.rule", "r.n_fail", "r.n_docs", "r.fail_rate")
        .orderBy("rule")
    )


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
# Unigram-LM fluency scoring (rational arithmetic, no libm)
# =========================================================================


@query(
    "text_unigram_fluency",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS total FROM toks)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           CAST(sum(cnt.c) AS BIGINT) AS sum_freq,
           round(CAST(sum(cnt.c) AS DOUBLE)
                 / (count(*) * (SELECT total FROM n)) + 1e-9, 6)
             AS fluency
    FROM toks t JOIN cnt USING (tok)
    GROUP BY t.doc_id
    """,
)
def q_text_unigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM fluency score per document: the mean corpus
    frequency of the document's tokens, normalized by the corpus token
    count — the likelihood-under-a-unigram-LM quality signal
    (rare-token-heavy documents score low), kept RATIONAL (integer
    count sums, one final division) so no libm log/exp enters the
    oracle-paired path — the same no-libm discipline as
    tfidf_top_terms' rational idf.

    Scale posture: explode → token-keyed count → token-keyed join back
    → doc-keyed sum: every shuffle is keyed, the hot-token join is
    per-occurrence against a ONE-ROW-per-token count table (no
    replication blow-up), and the corpus total is a one-row broadcast
    (allow-listed scalar fan-out)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = toks.agg(F.count(F.lit(1)).alias("total"))
    return (
        toks.join(cnt, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("c").alias("sum_freq"))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "n_tokens",
            "sum_freq",
            F.round(
                F.col("sum_freq").cast("double")
                / (F.col("n_tokens") * F.col("total"))
                + F.lit(1e-9),
                6,
            ).alias("fluency"),
        )
    )


# =========================================================================
# RAKE-style keyword extraction (islands segmentation + rational scores)
# =========================================================================


_RAKE_STOPWORDS = ("a", "the")
_RAKE_TOP_K = 20


@query(
    "text_rake_keywords",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1)
               AS pos
      FROM documents
    ),
    ns AS (
      SELECT doc_id, pos, tok,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM tok WHERE tok NOT IN {_RAKE_STOPWORDS!r}
    ),
    phrases AS (
      SELECT doc_id, grp,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM ns GROUP BY doc_id, grp
    ),
    pw AS (
      SELECT tok, plen FROM ns JOIN phrases USING (doc_id, grp)
    ),
    ws AS (
      SELECT tok, round(CAST(sum(plen) AS DOUBLE) / count(*) + 1e-9, 6)
               AS word_score
      FROM pw GROUP BY tok
    ),
    dp AS (SELECT phrase, count(*) AS n_occurrences FROM phrases GROUP BY phrase),
    dpw AS (
      SELECT phrase, unnest(regexp_split_to_array(phrase, ' ')) AS tok FROM dp
    ),
    scored AS (
      SELECT dpw.phrase,
             {money_sum_sql("ws.word_score", 4)}
               AS rake_score
      FROM dpw JOIN ws USING (tok)
      GROUP BY dpw.phrase
    )
    SELECT s.phrase, s.rake_score, dp.n_occurrences
    FROM scored s JOIN dp USING (phrase)
    ORDER BY s.rake_score DESC, s.phrase
    LIMIT {_RAKE_TOP_K}
    """,
)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyword extraction: candidate phrases are maximal
    stopword-free token runs (segmented with the pos − row_number
    islands trick — consecutive surviving positions share a group, no
    gap-flag pass needed); each word scores degree/frequency (degree =
    summed length of the phrases it appears in), and a phrase scores
    the sum of its words' scores. Top-20 phrases corpus-wide.

    Parity discipline: word scores are rational (integer degree /
    integer frequency), quantized at 4 dp before the order-free decimal
    sum per phrase — no libm, no float accumulation order.

    Scale posture: tokenization is a narrow posexplode; segmentation is
    ONE doc-keyed window; word stats and phrase scores are
    vocabulary-sized keyed aggregates (the phrase→word explode runs
    over DISTINCT phrases, not occurrences); the global top-20 is
    TakeOrdered. No all-pairs anything."""
    (docs,) = _prep(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    # ns feeds the phrase build AND the word-degree join; phrases feeds
    # that join AND the distinct-phrase counts; dp feeds the phrase
    # explode AND the final join. Checkpoint each once so the corpus
    # tokenization + doc-keyed window run once (dedup.py:150 rationale;
    # ns is token-stream-sized — the same linear-table trade as the
    # dedup shingle checkpoint).
    ns = tok.where(~F.col("tok").isin(*_RAKE_STOPWORDS)).withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    ).transform(materialize, eager=False)
    phrases = ns.groupBy("doc_id", "grp").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))),"
            " s -> s.tok))"
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    ).transform(materialize, eager=False)
    pw = ns.join(phrases, ["doc_id", "grp"]).select("tok", "plen")
    ws = pw.groupBy("tok").agg(
        F.round(
            F.sum("plen").cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 6
        ).alias("word_score")
    )
    dp = (
        phrases.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .transform(materialize, eager=False)
    )
    dpw = dp.select("phrase", F.explode(F.split("phrase", " ")).alias("tok"))
    scored = (
        dpw.join(ws, "tok")
        .groupBy("phrase")
        .agg(
            F.round(
                F.sum(money4(F.col("word_score"))),
                4,
            ).cast("double").alias("rake_score")
        )
    )
    return (
        scored.join(dp, "phrase")
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOP_K)
        .select("phrase", "rake_score", "n_occurrences")
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
