"""LLM-data-pipeline queries (north-star additions): text analysis,
dedup, similarity search. Registered into the same registry as
gibbon_spark.queries (imported from there).

Oracle strategy: every operator here — including MinHash-LSH, SimHash
and hyperplane-LSH, which are normally un-oracle-able — is built on
md5-derived determinism, so the DuckDB oracle replays the exact same
computation and the driver gets full value-hash checks. The simhash and
LSH oracle SQL is *generated from the same Python helpers* the Spark
plans use (gibbon_spark.operators.dedup / similarity), guaranteeing the
two sides can't drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gibbon_spark.codec import oracle_sql as _codec_oracle
from gibbon_spark.functions import text as tx
from gibbon_spark.functions.exact import exact_avg_sql, money4
from gibbon_spark.operators import dedup, similarity
from gibbon_spark.operators.timeseries import _scan_aggs
from gibbon_spark.queries import _prep, query
from gibbon_spark.materialize import materialize

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
# Dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
           min(doc_id) AS representative,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-groupBy on the normalized fingerprint
    with deterministic min-id representative."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs)


_SHINGLE_CTE = """
    WITH d AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                                   i -> array_to_string(t[i:i+2], ' '))) AS shingle
      FROM d
    )
"""


@query(
    "dedup_ngram_jaccard",
    _SHINGLE_CTE
    + """
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_inter / (x.n_sh + y.n_sh - n_inter), 6) AS jaccard
    FROM pairs p
    JOIN sizes x ON p.id_a = x.doc_id
    JOIN sizes y ON p.id_b = y.doc_id
    WHERE n_inter * 1000000 >= 500000 * (x.n_sh + y.n_sh - n_inter)
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via prefix filtering
    (AllPairs/PPJoin): identical results to the naive inverted-index
    join — the oracle is the naive all-pairs SQL — but hot shingles
    are structurally excluded from the join index, so no posting list
    can go quadratic at 100 TB. See jaccard_pairs_prefix for the
    lossless-ness argument."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return dedup.jaccard_pairs_prefix(docs, n=3, threshold=0.5)


@query(
    "dedup_containment",
    _SHINGLE_CTE
    + """
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
             count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_contained, id_container, CAST(n_inter AS BIGINT) AS n_inter,
           x.n_sh AS n_contained, y.n_sh AS n_container,
           round(n_inter / x.n_sh, 6) AS containment
    FROM pairs p
    JOIN sizes x ON p.id_contained = x.doc_id
    JOIN sizes y ON p.id_container = y.doc_id
    WHERE n_inter * 1000000 >= 500000 * x.n_sh
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (C(A→B) = |∩|/|A| ≥ 0.5)
    via the asymmetric prefix filter — the dedup signal Jaccard-based
    passes miss: a short document quoted inside a long one has tiny
    Jaccard (so MinHash-LSH, which recalls by Jaccard, cannot find it)
    but containment ≈ 1. Oracle is the naive all-pairs inverted-index
    SQL; the prefix-filtered plan returns identical rows (lossless-ness
    argument at operators/dedup.py::containment_pairs_prefix)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return dedup.containment_pairs_prefix(docs, n=3, threshold=0.5)


def _minhash_sig_cols(num_hashes: int = 12) -> str:
    """The per-doc signature aggregate columns — shared by the registered
    oracle and the chunked sf10 restatement (tools/sf3_feasible_oracles)
    so the two hash families cannot drift."""
    return ", ".join(
        f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(num_hashes)
    )


def _minhash_band_pieces(
    num_hashes: int, bands: int, max_bucket: int | None
) -> tuple[str, str, str]:
    """(band_keys, bl_body, eq_sum) — the banding/cap/estimate SQL pieces
    downstream of the ``sigs`` relation, shared by every minhash-family
    oracle generator."""
    r = num_hashes // bands
    band_keys = ", ".join(
        "md5(" + " || '|' || ".join(f"sig_{b * r + j}" for j in range(r)) + f") AS band_{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT id, {b} AS band, band_{b} AS key FROM banded" for b in range(bands)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    # Hot-band cap, replaying operators.dedup._cap_buckets exactly:
    # count members per (band, key), keep only buckets <= max_bucket.
    if max_bucket is not None:
        bl_body = f"""bl0 AS ({band_union}),
    bsz AS (SELECT band, key, count(*) AS _bn FROM bl0 GROUP BY band, key),
    bl AS (SELECT bl0.id, bl0.band, bl0.key
           FROM bl0 JOIN bsz ON bl0.band = bsz.band AND bl0.key = bsz.key
           WHERE bsz._bn <= {max_bucket})"""
    else:
        bl_body = f"bl AS ({band_union})"
    return band_keys, bl_body, eq_sum


def _minhash_tail_sql(
    num_hashes: int = 12,
    bands: int = 4,
    min_est: float = 0.5,
    max_bucket: int | None = dedup.LSH_MAX_BUCKET,
) -> str:
    """Everything downstream of a ``sigs`` relation (id, sig_0..sig_n):
    banding, hot-band cap, candidate join, signature-estimated Jaccard.
    The registered oracle prepends the inline sigs CTE; the chunked sf10
    restatement prepends a TEMP-TABLE-backed sigs CTE — same tail, so
    the pair semantics cannot drift between them."""
    band_keys, bl_body, eq_sum = _minhash_band_pieces(num_hashes, bands, max_bucket)
    return f"""banded AS (SELECT id, {band_keys} FROM sigs),
    {bl_body},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bl a JOIN bl b ON a.band = b.band AND a.key = b.key AND a.id < b.id
    )
    SELECT c.id_a, c.id_b,
           round(({eq_sum}) / {num_hashes}.0, 6) AS est_jaccard
    FROM cand c
    JOIN sigs sa ON c.id_a = sa.id
    JOIN sigs sb ON c.id_b = sb.id
    WHERE round(({eq_sum}) / {num_hashes}.0, 6) >= {min_est}
    """


def _minhash_oracle_sql(
    num_hashes: int = 12,
    bands: int = 4,
    min_est: float = 0.5,
    max_bucket: int | None = dedup.LSH_MAX_BUCKET,
) -> str:
    sig_cols = _minhash_sig_cols(num_hashes)
    return (
        _SHINGLE_CTE
        + f"""
    , sigs AS (
      SELECT doc_id AS id, {sig_cols} FROM sh GROUP BY doc_id
    ),
    """
        + _minhash_tail_sql(num_hashes, bands, min_est, max_bucket)
    )


@query("dedup_minhash_lsh", _minhash_oracle_sql())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) + LSH(4 bands × 3 rows) near-dup candidates with
    signature-estimated Jaccard — the 100 TB dedup path: constant-size
    signatures, band-bucket join, no all-pairs comparison. md5-based hash
    family makes the whole pipeline replayable in the DuckDB oracle.

    Runs with the default-on hot-band cap (max_bucket=LSH_MAX_BUCKET=64,
    picked from lsh_band_stats: no tested corpus through sf3 exceeds
    bucket size 38, so the cap changes zero rows on real-shaped data
    while bounding the band join at O(n*bands*64) under adversarial
    duplication skew). The oracle SQL carries the identical
    count-per-(band,key) filter."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, num_hashes=12, bands=4, min_est=0.5,
        max_bucket=dedup.LSH_MAX_BUCKET,
    )


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    nib_cols = ", ".join(
        f"{e} AS n{i}" for i, e in enumerate(dedup.simhash_nibble_cols("h"))
    )
    terms = dedup.simhash_bit_terms()
    term_cols = ", ".join(f"{t} AS b{i}" for i, t in enumerate(terms))
    combine = dedup.simhash_combine_sql([f"b{i}" for i in range(dedup.SIMHASH_BITS)])
    bpc = dedup.SIMHASH_BITS // dedup.SIMHASH_CHUNKS
    mask = (1 << bpc) - 1
    chunk_rows = " UNION ALL ".join(
        f"SELECT id, simhash, {c} AS chunk, (simhash >> {c * bpc}) & {mask} AS val FROM sh"
        for c in range(dedup.SIMHASH_CHUNKS)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    tok AS (
      SELECT doc_id AS id,
             md5(unnest(list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                 i -> array_to_string(t[i:i+2], ' '))))) AS h
      FROM d
    ),
    nib AS (SELECT id, {nib_cols} FROM tok),
    votes AS (SELECT id, {term_cols} FROM nib GROUP BY id),
    sh AS (SELECT id, {combine} AS simhash FROM votes),
    chunks AS ({chunk_rows}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.val = b.val AND a.id < b.id
    )
    SELECT id_a, id_b, bit_count(xor(sh_a::BIGINT, sh_b::BIGINT)) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a::BIGINT, sh_b::BIGINT)) <= {max_hamming}
    """


@query("dedup_simhash", _simhash_oracle_sql())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit over 3-gram shingles, the Manku WWW'07 config)
    near-dup pairs, hamming ≤ 3, banded 4×15-bit join (pigeonhole: ≤3
    flipped bits leave ≥1 chunk intact). The oracle SQL is generated from the same bit-term helpers
    as the Spark plan."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=3)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_SQL = """
      round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            6)
"""


@query(
    "sim_topk_bruteforce",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, b.vec_id AS nbr_id,
             {_COSINE_SQL.replace('a.v', 'q.v').replace('b.v', 'b.v')} AS cosine_sim
      FROM q JOIN e b ON b.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, nbr_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, nbr_id) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, cosine_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors over the corpus —
    broadcast the queries, scan the corpus once, rank per query."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    qs = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(embs, qs, k=5)


def _lsh_bucket_expr(dims: int = 64) -> str:
    """The 16-bit hyperplane bucket as a SQL expression over a
    DOUBLE[] column ``v`` — regenerates the same md5-derived ±1 planes
    as similarity.with_lsh_bucket, so both engines hash identically."""
    signs = similarity.plane_signs(similarity.NUM_PLANES, dims)
    projs = []
    for p in range(similarity.NUM_PLANES):
        terms = "".join(
            ("+" if signs[p][d] > 0 else "-") + f"v[{d + 1}]" for d in range(dims)
        )
        projs.append(
            f"(CASE WHEN ({terms.lstrip('+')}) >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(projs)


def _lsh_band_exprs(dims: int = 64) -> list[str]:
    """Per-band SQL values of the wide near-dup code (NEARDUP_PLANES
    planes split into band_bits-wide bands) over a DOUBLE[] column
    ``v`` — the same md5-derived ±1 planes as similarity.with_lsh_bands,
    so both engines band identically."""
    num_planes = similarity.NEARDUP_PLANES
    band_bits = similarity.NEARDUP_BAND_BITS
    signs = similarity.plane_signs(num_planes, dims)
    exprs = []
    for b in range(num_planes // band_bits):
        parts = []
        for j in range(band_bits):
            p = b * band_bits + j
            terms = "".join(
                ("+" if signs[p][d] > 0 else "-") + f"v[{d + 1}]"
                for d in range(dims)
            )
            parts.append(
                f"(CASE WHEN ({terms.lstrip('+')}) >= 0 THEN {1 << j} ELSE 0 END)"
            )
        exprs.append("(" + " + ".join(parts) + ")")
    return exprs


def _lsh_neardup_oracle_sql(threshold: float = 0.4) -> str:
    band_cols = ", ".join(f"{e} AS band_{i}" for i, e in enumerate(_lsh_band_exprs()))
    n_bands = similarity.NEARDUP_PLANES // similarity.NEARDUP_BAND_BITS
    # long-form per-band hash join, not a 32-way OR join: identical
    # "share >= 1 band" pair set, but spillable (DuckDB runs OR-joins as
    # non-spillable blockwise loops — OOM past ~20k vectors; the same
    # relational restatement the knn oracle got in round 7, promoted to
    # the registered oracle in round 9 so the full sf3 sweep can run it)
    band_long = "\n      UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, band_{b} AS val FROM bk"
        for b in range(n_bands)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bk AS MATERIALIZED (SELECT vec_id, {band_cols} FROM e),
    bl AS MATERIALIZED (
      {band_long}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bl a JOIN bl b
        ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b, {_COSINE_SQL} AS cosine_sim
    FROM cand c
    JOIN e a ON c.id_a = a.vec_id
    JOIN e b ON c.id_b = b.vec_id
    WHERE {_COSINE_SQL} >= {threshold}
    """


@query("sim_embedding_neardup", _lsh_neardup_oracle_sql())
def q_sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, SCALE SEMANTICS: banded hyperplane-LSH
    candidates (share ≥1 of 32 × 16-bit bands of the md5-derived
    512-plane code — widened twice after the sf1/sf3 scale gates
    measured the 16-value and 256-value band spaces going quadratic)
    + exact cosine rerank ≥ 0.4.
    The oracle replays the exact
    same candidate generation in SQL (deterministic planes), so parity
    is bit-for-bit on these semantics. The exact all-pairs contract
    lives on as sim_embedding_neardup_exact — sub-quadratic exact
    threshold-join on dense vectors is impossible in general (see
    lsh_neardup_pairs docstring), so the registered scale query is the
    LSH contract, as in production near-dup pipelines."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    return similarity.lsh_neardup_pairs(embs, threshold=0.4)


@query(
    "sim_embedding_neardup_exact",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_COSINE_SQL} AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COSINE_SQL} >= 0.4
    """,
)
def q_sim_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, EXACT all-pairs contract (cosine ≥ 0.4
    — the corpus is near-orthogonal, max pair sim ≈ 0.6). Blocked-GEMM
    O(N²): the exactness/verification tool for bounded corpora, kept
    alongside the LSH-semantics scale query sim_embedding_neardup —
    same division of labor as jaccard_pairs vs minhash_lsh_pairs."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(embs, threshold=0.4)


def _lsh_bucket_oracle_sql(dims: int = 64) -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT ({_lsh_bucket_expr(dims)}) AS bucket, count(*) AS n
    FROM e GROUP BY 1
    """


@query("sim_lsh_bucket_histogram", _lsh_bucket_oracle_sql())
def q_sim_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram — verifies the md5-derived
    hyperplane hashing is deterministic and engine-independent (the
    oracle regenerates the same ±1 planes)."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    return (
        similarity.with_lsh_bucket(embs)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lsh_topk_oracle_sql(dims: int = 64) -> str:
    """Full SQL replay of lsh_topk: the md5-derived 16-bit bucket, its
    four 4-bit bands, the any-band-shared candidate join, the exact
    cosine rerank, and the deterministic (score DESC, nbr_id) rank —
    candidate generation included, so the hash pins the index itself,
    not just the rerank."""
    n_bands = similarity.NUM_PLANES // 4
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bk AS MATERIALIZED (
      SELECT vec_id, ({_lsh_bucket_expr(dims)}) AS bucket FROM e
    ),
    bv AS (
      SELECT vec_id, band, (bucket >> (band * 4)) & 15 AS val
      FROM bk, (SELECT unnest(range({n_bands})) AS band)
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
      FROM bv q JOIN bv c ON q.band = c.band AND q.val = c.val
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.nbr_id, {_COSINE_SQL} AS cosine_sim
      FROM cand
      JOIN e a ON a.vec_id = cand.query_id
      JOIN e b ON b.vec_id = cand.nbr_id
    ),
    ranked AS (
      SELECT query_id, nbr_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, nbr_id) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, cosine_sim, rank FROM ranked WHERE rank <= 5
    """


@query("sim_topk_lsh", _lsh_topk_oracle_sql())
def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via banded hyperplane-LSH candidates + exact rerank.
    Converted from rows-only to hash-exact in round 8: the planes are
    md5-deterministic (similarity.plane_signs), so the oracle replays
    the IDENTICAL candidate generation (bucket → 4-bit bands →
    any-band-shared join) and rerank in SQL; the output already carries
    a deterministic total order (cosine DESC, nbr_id ASC tiebreak).
    Recall vs brute force is additionally asserted in
    tests/test_similarity.py and the sim_lsh_recall_check twin."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    qs = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk(embs, qs, k=5)


def _ann_recall_check(
    spark: SparkSession, sf_dir: str, topk_fn, floor: float
) -> DataFrame:
    """Shared shape for the ANN invariant twins: run the approximate
    top-5 AND the exact brute-force top-5 for the same 10 queries,
    aggregate recall globally, and emit ``(n_queries, recall_ok)`` —
    the oracle emits the query count and literal TRUE. No cross join:
    both result sets are tagged, unioned, and reduced in one grouped
    aggregation (two keyed shuffles total, corpus-size-independent
    output). Floors sit well under the measured recall band
    (0.46-0.56 across sf0.001/0.01/0.1 on this near-orthogonal
    corpus) so the check pins "the index works" without flaking on
    corpus composition."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    qs = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(embs, qs, k=5).select(
        "query_id", "nbr_id", F.lit(1).alias("is_exact"), F.lit(0).alias("is_approx")
    )
    approx = topk_fn(embs, qs, k=5).select(
        "query_id", "nbr_id", F.lit(0).alias("is_exact"), F.lit(1).alias("is_approx")
    )
    pairs = (
        exact.unionByName(approx)
        .groupBy("query_id", "nbr_id")
        .agg(F.max("is_exact").alias("e"), F.max("is_approx").alias("a"))
    )
    return pairs.agg(
        F.count_distinct(F.when(F.col("e") == 1, F.col("query_id"))).alias(
            "n_queries"
        ),
        (
            F.sum(F.col("e") * F.col("a")) / F.sum("e") >= F.lit(floor)
        ).alias("recall_ok"),
    )


_ANN_CHECK_ORACLE = """
    SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """


@query("sim_lsh_recall_check", _ANN_CHECK_ORACLE)
def q_sim_lsh_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable invariant twin of sim_topk_lsh: banded
    hyperplane-LSH top-5 must recall >= 30% of the exact cosine top-5
    (measured 0.46-0.56). Hash equality proves the candidate
    generation + rerank pipeline finds true neighbors, not noise."""
    return _ann_recall_check(spark, sf_dir, similarity.lsh_topk, 0.3)


@query("sim_ivf_recall_check", _ANN_CHECK_ORACLE)
def q_sim_ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable invariant twin of sim_topk_ivf: IVF (nprobe=4
    of 16 k-means lists) top-5 must recall >= 30% of the exact top-5
    (measured 0.52-0.54)."""
    return _ann_recall_check(spark, sf_dir, similarity.ivf_topk, 0.3)


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
# Gorilla parity codec (SURVEY.md M5) — queries proving the codec is
# transparent: encode → decode → aggregate must equal the plain scan.
# ---------------------------------------------------------------------------


@query(
    "gorilla_roundtrip_summary",
    f"""
    SELECT min(value) AS min_value,
           max(value) AS max_value,
           count(*) AS n_samples,
           {exact_avg_sql("value")} AS avg_value,
           max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts_epoch
    FROM events
    """,
)
def q_gorilla_roundtrip_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode events into bit-exact Gorilla blocks (one per user_id x 2h
    bucket), decode them back, and compute the reference's five
    aggregates (csv_to_packed.rs:36-76). The oracle runs the SAME
    aggregates on the raw table — hash equality proves the codec is
    lossless at seconds granularity, distributed."""
    from gibbon_spark.codec import spark_ops

    (events,) = _prep(spark, sf_dir, "events")
    blocks = spark_ops.encode_timeseries(events, series=["user_id"])
    decoded = spark_ops.decode_timeseries(blocks)
    return decoded.agg(
        *_scan_aggs("value", exact=True), F.max("ts").alias("max_ts_epoch")
    )


@query(
    "gorilla_dual_path_parity",
    """
    SELECT count(*) AS n_samples,
           TRUE AS min_eq, TRUE AS max_eq, TRUE AS count_eq,
           TRUE AS avg_eq, TRUE AS max_ts_eq
    FROM events
    """,
)
def q_gorilla_dual_path_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dual-path self-check as one distributed query
    (``examples/csv_to_packed.rs:79-103`` computes every aggregate once
    from the compressed bits and once from the raw vec and compares):
    encode → decode events, union with the raw scan under a side tag,
    and compute each of the five aggregates per side via conditional
    aggregation in a SINGLE 1-row aggregate — no join, no second scan
    of the result. Emits per-aggregate equality booleans; the oracle
    pins n_samples to the raw count and all five booleans to TRUE, so
    any lossy corner of the codec (a garbled dod, a truncated XOR
    window) flips the hash. avg uses the exact-decimal discipline on
    both sides, making float equality well-defined."""
    from gibbon_spark.codec import spark_ops

    (events,) = _prep(spark, sf_dir, "events")
    decoded = spark_ops.decode_timeseries(
        spark_ops.encode_timeseries(events, series=["user_id"])
    ).select(
        F.lit("d").alias("side"),
        F.col("value"),
        F.col("ts").alias("ts_epoch"),
    )
    raw = events.select(
        F.lit("r").alias("side"),
        F.col("value"),
        F.unix_timestamp("ts").alias("ts_epoch"),
    )
    u = decoded.unionByName(raw)

    def side(tag, col):
        return F.when(F.col("side") == tag, col)

    def dec_sum(tag):
        return F.sum(money4(side(tag, F.col("value"))))

    agg = u.agg(
        F.count(side("r", F.lit(1))).alias("n_samples"),
        (F.min(side("d", F.col("value"))) == F.min(side("r", F.col("value"))))
        .alias("min_eq"),
        (F.max(side("d", F.col("value"))) == F.max(side("r", F.col("value"))))
        .alias("max_eq"),
        (F.count(side("d", F.lit(1))) == F.count(side("r", F.lit(1))))
        .alias("count_eq"),
        (dec_sum("d") == dec_sum("r")).alias("avg_eq"),
        (F.max(side("d", F.col("ts_epoch"))) == F.max(side("r", F.col("ts_epoch"))))
        .alias("max_ts_eq"),
    )
    return agg.select(
        "n_samples", "min_eq", "max_eq", "count_eq", "avg_eq", "max_ts_eq"
    )


@query("gorilla_compression_ratio", _codec_oracle.GORILLA_RATIO_ORACLE)
def q_gorilla_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-stats query (csv_to_packed.rs:107-113) over the
    distributed blocks: compressed vs 16 B/row raw. Converted from
    rows-only to hash-exact in round 8: the oracle independently
    recomputes every block's EXACT bit cost in SQL — stateless dod
    costs (timestamp_stream.rs:29-67) as window functions, the
    shrinking-window XOR value stream (double_stream.rs:33-82) as a
    packed-BIGINT list_reduce fold, payload bytes = ceil(bits/8) — so
    the hash now pins the encoder's byte-level output, not just
    row coverage (codec/oracle_sql.py has the replay details)."""
    from gibbon_spark.codec import spark_ops

    (events,) = _prep(spark, sf_dir, "events")
    blocks = spark_ops.encode_timeseries(events, series=["user_id"])
    return spark_ops.compression_report(blocks)


@query(
    "gorilla_ratio_check",
    """
    SELECT count(*) AS n_samples,
           TRUE AS compressed_smaller,
           TRUE AS payload_nonempty
    FROM events
    """,
)
def q_gorilla_ratio_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable invariant twin of gorilla_compression_ratio:
    the distributed blocks must cover every input row (n_samples ties
    to count(*) of the raw table) and actually compress (payload bytes
    strictly between 0 and the 16 B/row raw size,
    csv_to_packed.rs:107-113). The exact byte count stays rows-only —
    it is a storage artifact, not SQL-derivable."""
    from gibbon_spark.codec import spark_ops

    (events,) = _prep(spark, sf_dir, "events")
    blocks = spark_ops.encode_timeseries(events, series=["user_id"])
    rep = spark_ops.compression_report(blocks)
    return rep.select(
        F.col("rows").alias("n_samples"),
        (F.col("compressed_bytes") < F.col("raw_bytes")).alias(
            "compressed_smaller"
        ),
        (F.col("compressed_bytes") > 0).alias("payload_nonempty"),
    )


@query(
    "dedup_keep_representatives",
    """
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    """,
)
def q_dedup_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *action*: ids kept after dropping exact duplicates
    (deterministic min-id representative per normalized content)."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return dedup.drop_exact_duplicates(docs).select("doc_id")


def _ivf_topk_oracle_sql(
    dims: int = 64,
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    k: int = 5,
    emit: str = "topk",
) -> str:
    """Full SQL replay of ivf_topk (round-9 rows-only → hash-exact
    conversion): the md5-rank-capped train sample, the RNG-free
    k-means++ init (inverse-CDF over md5 uniforms in exact HUGEINT
    arithmetic), the IVF_ITERS unrolled integer Lloyd rounds (argmin =
    min(dist*k + j), centroid update floor(mean + 0.5), empty lists keep
    their previous centroid), the full-corpus integer assignment, the
    nprobe nearest-list probe per query (same metric, (dist, j) ties),
    and the exact cosine rerank — candidate generation INCLUDED, so the
    hash pins the trained codebook itself.

    ``emit="centroids"`` stops after training and returns the final
    (j, i, cv) centroid table — the test hook that lets pytest compare
    the SQL replay against similarity.ivf_train_centroids directly on
    crafted corpora (empty-cluster COALESCE path, cap binding)."""
    q = similarity.IVF_QUANT
    u_const = similarity.IVF_U
    iters = similarity.IVF_ITERS
    max_train = similarity._IVF_MAX_TRAIN
    parts = [
        f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    ei AS MATERIALIZED (
      SELECT vec_id, i, CAST(floor(v[i] * {q} + 0.5) AS BIGINT) AS ev
      FROM e, LATERAL unnest(range(1, {dims} + 1)) AS t(i)
    ),
    train AS MATERIALIZED (
      SELECT vec_id FROM e
      ORDER BY md5('ivf-sample:{seed}:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {max_train}
    ),
    te AS MATERIALIZED (SELECT ei.* FROM ei JOIN train USING (vec_id)),
    p0 AS MATERIALIZED (
      SELECT vec_id FROM train
      ORDER BY md5('ivf-seed:{seed}:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 1
    ),
    nc0 AS MATERIALIZED (
      SELECT te.i, te.ev FROM te JOIN p0 USING (vec_id)
    ),
    b0 AS MATERIALIZED (
      SELECT te.vec_id, sum((te.ev - nc.ev) * (te.ev - nc.ev)) AS best
      FROM te JOIN nc0 nc ON nc.i = te.i
      GROUP BY te.vec_id
    )"""
    ]
    for t in range(1, n_lists):
        u_t = similarity.ivf_pick_u(seed, t)
        parts.append(
            f""",
    p{t} AS MATERIALIZED (
      SELECT vec_id FROM (
        SELECT vec_id,
               sum(best) OVER (ORDER BY vec_id) AS cum,
               sum(best) OVER () AS tot
        FROM b{t - 1})
      WHERE CAST(cum AS HUGEINT) * CAST({u_const} AS HUGEINT)
            > CAST({u_t} AS HUGEINT) * CAST(tot AS HUGEINT)
      ORDER BY vec_id LIMIT 1
    ),
    nc{t} AS MATERIALIZED (
      SELECT te.i, te.ev FROM te JOIN p{t} USING (vec_id)
    ),
    b{t} AS MATERIALIZED (
      SELECT b.vec_id, least(b.best, n.d) AS best
      FROM b{t - 1} b JOIN (
        SELECT te.vec_id, sum((te.ev - nc.ev) * (te.ev - nc.ev)) AS d
        FROM te JOIN nc{t} nc ON nc.i = te.i
        GROUP BY te.vec_id
      ) n USING (vec_id)
    )"""
        )
    seed_rows = "\n      UNION ALL ".join(
        f"SELECT {t} AS j, i, ev AS cv FROM nc{t}" for t in range(n_lists)
    )
    parts.append(f""",
    l0 AS MATERIALIZED ({seed_rows})""")
    prev = "l0"
    for r in range(1, iters + 1):
        parts.append(
            f""",
    a{r} AS MATERIALIZED (
      SELECT vec_id, CAST(min(dist * {n_lists} + j) % {n_lists} AS INT) AS j
      FROM (
        SELECT te.vec_id, c.j,
               sum((te.ev - c.cv) * (te.ev - c.cv)) AS dist
        FROM te JOIN {prev} c ON c.i = te.i GROUP BY te.vec_id, c.j)
      GROUP BY vec_id
    ),
    l{r} AS MATERIALIZED (
      SELECT p.j, p.i, COALESCE(m.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN (
        SELECT a.j, te.i,
               CAST(floor(CAST(sum(te.ev) AS DOUBLE) / count(*) + 0.5)
                    AS BIGINT) AS cv
        FROM a{r} a JOIN te ON te.vec_id = a.vec_id GROUP BY a.j, te.i
      ) m ON m.j = p.j AND m.i = p.i
    )"""
        )
        prev = f"l{r}"
    if emit == "centroids":
        parts.append(f"\n    SELECT j, i, cv FROM {prev} ORDER BY j, i")
        return "".join(parts)
    parts.append(
        f""",
    az AS MATERIALIZED (
      SELECT vec_id,
             CAST(min(dist * {n_lists} + j) % {n_lists} AS INT) AS list_id
      FROM (
        SELECT ei.vec_id, c.j,
               sum((ei.ev - c.cv) * (ei.ev - c.cv)) AS dist
        FROM ei JOIN {prev} c ON c.i = ei.i GROUP BY ei.vec_id, c.j)
      GROUP BY vec_id
    ),
    probes AS (
      SELECT query_id, j AS list_id FROM (
        SELECT query_id, j,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, j) AS rn
        FROM (
          SELECT ei.vec_id AS query_id, c.j,
                 sum((ei.ev - c.cv) * (ei.ev - c.cv)) AS dist
          FROM ei JOIN {prev} c ON c.i = ei.i
          WHERE ei.vec_id < 10 GROUP BY ei.vec_id, c.j))
      WHERE rn <= {nprobe}
    ),
    cand AS (
      SELECT p.query_id, z.vec_id AS nbr_id
      FROM probes p JOIN az z USING (list_id)
      WHERE z.vec_id <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.nbr_id, {_COSINE_SQL} AS cosine_sim
      FROM cand
      JOIN e a ON a.vec_id = cand.query_id
      JOIN e b ON b.vec_id = cand.nbr_id
    ),
    ranked AS (
      SELECT query_id, nbr_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, nbr_id) AS rank
      FROM scored
    )
    SELECT query_id, nbr_id, cosine_sim, rank FROM ranked WHERE rank <= {k}
    """
    )
    return "".join(parts)


@query("sim_topk_ivf", _ivf_topk_oracle_sql())
def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 (k-means coarse quantizer, nprobe=4 of 16 lists)
    — the second scale path for similarity search alongside
    hyperplane-LSH. Converted from rows-only to hash-exact in round 9:
    the codebook now trains RNG-free (md5-derived k-means++ picks,
    integer-exact Lloyd rounds — similarity.ivf_train_centroids), so
    the oracle replays the ENTIRE index in SQL: train sample, codebook,
    corpus assignment, probe selection, rerank. Recall vs brute force
    is additionally asserted in tests/test_similarity.py and the
    sim_ivf_recall_check twin."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    qs = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(embs, qs, k=5)


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
# UDF surface demonstrations (SURVEY.md §2.2 'UDF/UDAF/UDTF'): the three
# extension points a reference user would reach for, each the Arrow-
# optimized variant, each oracle-checked.
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
    "udaf_geometric_mean",
    """
    SELECT lang,
           round(exp(avg(ln(1.0 + length(text)))), 6) AS gmean_len,
           count(*) AS n_docs
    FROM documents
    GROUP BY lang
    """,
)
def q_udaf_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF (grouped-agg pandas_udf): per-language geometric mean
    of document length — an aggregate Spark lacks natively. Arrow ships
    each group's column once; the fold is a numpy reduction."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    (docs,) = _prep(spark, sf_dir, "documents")

    # explicit GROUPED_AGG eval type: `from __future__ import annotations`
    # stringifies type hints, which breaks pandas_udf hint inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def gmean(x):
        import numpy as np

        v = x.to_numpy(dtype="float64")
        return float(np.exp(np.log(1.0 + v).mean()))

    # pandas UDAFs cannot mix with JVM aggregates in one agg(), so the
    # row count is a (cheap) second pandas aggregate over the same group
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def cnt(x):
        return len(x)

    return docs.groupBy("lang").agg(
        F.round(gmean(F.length("text")), 6).alias("gmean_len"),
        cnt(F.lit(1)).alias("n_docs"),
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
# Reproducible sampling / dataset splits
# ---------------------------------------------------------------------------


@query(
    "sample_split_hash",
    """
    WITH h AS (
      SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
               % 100 AS bucket
      FROM documents
    ),
    s AS (
      SELECT lang,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM h
    )
    SELECT lang, split, count(*) AS n_docs
    FROM s GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def q_sample_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: md5(doc_id) -> bucket 0-99 ->
    80/10/10. Hash-mod sampling is the reproducible, cluster-stable way
    to split a 100 TB corpus — no RNG state, no shuffle, membership of a
    doc never changes as the corpus grows, and any engine (here: the
    DuckDB oracle) replays it bit-for-bit. Map-side expression, one
    shuffle for the count rollup."""
    (docs,) = _prep(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


@query(
    "sketch_count_min",
    """
    SELECT r.row_id,
           ('0x' || substr(md5(r.row_id || ':' || CAST(user_id AS VARCHAR)), 1, 4))::INTEGER
             % 256 AS bucket,
           count(*) AS cnt
    FROM events, (SELECT CAST(unnest(generate_series(0, 3)) AS VARCHAR) AS row_id) r
    GROUP BY r.row_id, bucket
    ORDER BY r.row_id, bucket
    """,
)
def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the user_id stream: 4 hash rows x 256
    buckets, row hashes salted with the row id. The sketch is built as
    an ordinary aggregation, so partial sketches combine map-side and
    MERGE across partitions/days for free — the point of CMS at 100 TB
    (point-query an id's frequency upper bound = min over its 4 cells).
    md5-salted bucketing makes it bit-identical in any engine, hence
    oracle-exact — unlike approx_count_distinct's opaque HLL registers."""
    (events,) = _prep(spark, sf_dir, "events")
    rows = F.explode(F.array(*[F.lit(str(i)) for i in range(4)])).alias("row_id")
    cells = events.select("user_id", rows).select(
        "row_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", "row_id", F.col("user_id").cast("string"))),
                    1, 4,
                ),
                16, 10,
            ).cast("int") % 256
        ).alias("bucket"),
    )
    return (
        cells.groupBy("row_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("row_id", "bucket")
    )


def _cc_oracle_sql() -> str:
    """Transitive closure of the MinHash-LSH pair graph in DuckDB via a
    recursive CTE — generated from the SAME pair SQL as dedup_minhash_lsh
    so the edge set cannot drift from the Spark side."""
    return f"""
    WITH RECURSIVE
    pairs AS ({_minhash_oracle_sql()}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    walk(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, walk.label FROM walk JOIN edges e ON e.a = walk.node
      WHERE walk.label < e.b
    ),
    lab AS (SELECT node, min(label) AS component FROM walk GROUP BY node)
    SELECT component, count(*) AS n_members, max(node) AS max_member
    FROM lab GROUP BY component ORDER BY component
    """


@query("dedup_clusters_cc", _cc_oracle_sql())
def q_dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    MinHash-LSH candidate graph (min-label propagation, converges in
    O(cluster diameter) rounds — see operators.dedup.connected_components).
    The iterative Spark algorithm is checked against a recursive-CTE
    transitive closure in DuckDB over the identical md5-deterministic
    edge set."""
    (docs,) = _prep(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=12, bands=4, min_est=0.5,
        max_bucket=dedup.LSH_MAX_BUCKET,
    )
    comp = dedup.connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("node").alias("max_member"),
        )
        .orderBy("component")
    )


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


def _incremental_tail_sql(
    num_hashes: int = 12,
    bands: int = 4,
    min_est: float = 0.5,
    max_bucket: int | None = dedup.LSH_MAX_BUCKET,
) -> str:
    """Everything downstream of the ``split`` and ``sigs`` relations for
    the incremental-dedup oracle — shared with the chunked sf10
    restatement exactly like _minhash_tail_sql.

    The hot-band cap counts the COMBINED (incoming + index) bucket —
    bl bands the whole corpus before the split filter, so counting on
    bl replays lsh_candidate_pairs_cross's unioned-sides semantics."""
    band_keys, bl_body, eq_sum = _minhash_band_pieces(num_hashes, bands, max_bucket)
    return f"""banded AS (SELECT id, {band_keys} FROM sigs),
    {bl_body},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bl a JOIN bl b ON a.band = b.band AND a.key = b.key
      JOIN split pa ON a.id = pa.doc_id
      JOIN split pb ON b.id = pb.doc_id
      WHERE pa.b >= 8 AND pb.b < 8
    ),
    near AS (
      SELECT id_a AS doc_id, count(*) AS n_near
      FROM cand c
      JOIN sigs sa ON c.id_a = sa.id
      JOIN sigs sb ON c.id_b = sb.id
      WHERE round(({eq_sum}) / {num_hashes}.0, 6) >= {min_est}
      GROUP BY 1
    ),
    ch AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
      FROM documents
    ),
    ixh AS (
      SELECT DISTINCT content_hash FROM ch JOIN split USING (doc_id) WHERE b < 8
    ),
    inc AS (
      SELECT ch.doc_id, content_hash FROM ch JOIN split USING (doc_id) WHERE b >= 8
    )
    SELECT inc.doc_id,
           CASE WHEN ixh.content_hash IS NOT NULL THEN 1 ELSE 0 END AS exact_dup,
           coalesce(n.n_near, 0) AS n_near,
           CASE WHEN ixh.content_hash IS NOT NULL THEN 'exact'
                WHEN coalesce(n.n_near, 0) > 0 THEN 'near'
                ELSE 'new' END AS verdict
    FROM inc
    LEFT JOIN ixh ON inc.content_hash = ixh.content_hash
    LEFT JOIN near n ON inc.doc_id = n.doc_id
    ORDER BY inc.doc_id
    """


_INCREMENTAL_SPLIT_CTE = """split AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 10 AS b
      FROM documents
    )"""


def _incremental_oracle_sql(
    num_hashes: int = 12,
    bands: int = 4,
    min_est: float = 0.5,
    max_bucket: int | None = dedup.LSH_MAX_BUCKET,
) -> str:
    """Oracle for incremental dedup: the same md5 MinHash/band pipeline
    as _minhash_oracle_sql, restricted to (incoming × index) pairs by
    the deterministic doc_id hash split, plus the exact content-hash
    membership check. Generated from the same parameters as the Spark
    side so the two cannot drift."""
    sig_cols = _minhash_sig_cols(num_hashes)
    return (
        _SHINGLE_CTE
        + f"""
    , {_INCREMENTAL_SPLIT_CTE},
    sigs AS (SELECT doc_id AS id, {sig_cols} FROM sh GROUP BY doc_id),
    """
        + _incremental_tail_sql(num_hashes, bands, min_est, max_bucket)
    )


@query("dedup_incremental", _incremental_oracle_sql())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an incoming batch against a standing corpus
    index — the production shape: you never re-dedup 100 TB, you dedup
    today's crawl against yesterday's signature index. The deterministic
    md5(doc_id)-mod-10 split (8:2) stands in for index/incoming. Each
    incoming doc is checked (a) exactly, by normalized content hash
    against the index's hash set, and (b) near, by banded MinHash
    collisions against index signatures only
    (operators.dedup.lsh_candidate_pairs_cross — no within-batch or
    within-index pairs). Verdict: exact > near > new.

    The cross band join runs with the default-on hot-band cap
    (max_bucket=LSH_MAX_BUCKET, combined-count semantics — see
    lsh_candidate_pairs_cross), replayed identically in the oracle."""
    (docs,) = _prep(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 10
    )
    # the tagged corpus feeds four consumers (index hashes, incoming
    # hashes, and both signature builds — the cross operator checkpoints
    # signatures but not its callers' scans): materialize the split
    # input once so the text column is read from parquet once, not 4x
    # (dedup.py:150 rationale).
    tagged = docs.withColumn("__b", bucket).transform(materialize, eager=False)
    index = tagged.filter(F.col("__b") < 8)
    incoming = tagged.filter(F.col("__b") >= 8)

    content_hash = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    ix_hashes = index.select(content_hash.alias("content_hash")).distinct()
    inc = incoming.select("doc_id", content_hash.alias("content_hash"))

    # r12 (guide §2.1): signatures were built in TWO separate
    # shingle+12-md5-aggregate passes (one per split side) over disjoint
    # halves of the same corpus. One build over the full tagged corpus
    # costs the same row count in a single pass; the side tag is
    # recomputed from the id (same deterministic md5 bucket as the
    # split) and the table is checkpointed once, so both cross-join
    # sides filter the same stored blocks. Per-side signature sets are
    # byte-identical (the split partitions docs). Interleaved A/B at
    # sf0.1: wins every rep, min 4.09 → 3.02 s, identical 1019 rows.
    sigs_all = dedup.minhash_signatures(tagged)
    sig_bucket = (
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 10
    )
    sigs_all = sigs_all.withColumn("__b", sig_bucket).transform(
        materialize, eager=True
    )
    sigs_in = sigs_all.filter(F.col("__b") >= 8).drop("__b")
    sigs_ix = sigs_all.filter(F.col("__b") < 8).drop("__b")
    near = (
        dedup.lsh_candidate_pairs_cross(
            sigs_in, sigs_ix, max_bucket=dedup.LSH_MAX_BUCKET
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .groupBy(F.col("id_a").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_near"))
    )

    flagged = inc.join(
        ix_hashes.withColumn("__hit", F.lit(1)), "content_hash", "left"
    ).join(near, "doc_id", "left")
    return flagged.select(
        "doc_id",
        F.when(F.col("__hit").isNotNull(), 1).otherwise(0).alias("exact_dup"),
        F.coalesce(F.col("n_near"), F.lit(0)).alias("n_near"),
        F.when(F.col("__hit").isNotNull(), "exact")
        .when(F.coalesce(F.col("n_near"), F.lit(0)) > 0, "near")
        .otherwise("new")
        .alias("verdict"),
    ).orderBy("doc_id")


def _topk_quality_oracle_sql() -> str:
    """Built on the registered text_quality_score oracle so the score
    definition cannot drift between the two queries."""
    from gibbon_spark.queries import _ORACLES

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
    from gibbon_spark.queries import _ORACLES

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
    "embedding_centroids",
    """
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (
      SELECT label, t.dim - 1 AS dim,
             CAST(round(v[t.dim] + 1e-9, 6) AS DECIMAL(24,6)) AS val
      FROM e, unnest(range(1, len(v) + 1)) AS t(dim)
    )
    SELECT label, dim, count(*) AS n,
           round(CAST(sum(val) AS DOUBLE) / count(*) + 1e-9, 6) AS centroid
    FROM ex GROUP BY label, dim ORDER BY label, dim
    """,
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid (elementwise mean), long format —
    the vector aggregate behind nearest-centroid classifiers and IVF
    coarse quantizers. posexplode + hash aggregate: partial (map-side)
    sums shrink the shuffle to classes × dims rows no matter the corpus
    size. Per-row values are rounded to 6 dp and summed as DECIMAL so
    the mean is independent of association order (same discipline as
    money_sum), then replayed exactly by the oracle."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    ex = embs.select("label", F.posexplode("embedding").alias("dim", "v"))
    val = F.round(F.col("v").cast("double") + 1e-9, 6).cast("decimal(24,6)")
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(val).cast("double") / F.count(F.lit(1)) + 1e-9, 6
            ).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


_BLOOM_K = 4
_BLOOM_WORDS = 2048  # 65536 bits in 32-bit words (bit 31 max keeps << in range)


def _bloom_oracle_sql() -> str:
    arms = " UNION ALL ".join(
        f"SELECT ('0x' || substr(md5('{j}:' || k), 1, 4))::INTEGER AS pos FROM k"
        for j in range(_BLOOM_K)
    )
    return f"""
    WITH k AS (
      SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ),
    p AS ({arms})
    SELECT pos >> 5 AS word, bit_or(1::BIGINT << (pos % 32)) AS bits,
           count(*) AS n_sets
    FROM p GROUP BY 1 ORDER BY 1
    """


def _bloom_pos_exprs(key_sql: str) -> list[str]:
    """The k md5-derived bit positions (0..65535) for a key expression —
    single source for the build and probe sides."""
    return [
        f"CAST(conv(substring(md5(concat('{j}:', {key_sql})), 1, 4), 16, 10) AS INT)"
        for j in range(_BLOOM_K)
    ]


def _bloom_words_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = _prep(spark, sf_dir, "customer")
    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").selectExpr(
        "CAST(c_custkey AS STRING) AS k"
    )
    pos = F.explode(F.array(*[F.expr(e) for e in _bloom_pos_exprs("k")])).alias(
        "pos"
    )
    return (
        keys.select(pos)
        .select(
            F.shiftright("pos", 5).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), pos % 32)").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"), F.count(F.lit(1)).alias("n_sets"))
    )


@query("sketch_bloom", _bloom_oracle_sql())
def q_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built as a plain aggregation: k=4 md5-derived bit
    positions per key, OR-ed into 32-bit words with bit_or — partials
    merge map-side and across batches (bit_or is associative and
    commutative), exactly like the count-min sketch. md5 determinism
    makes the filter bit-for-bit oracle-replayable."""
    return _bloom_words_df(spark, sf_dir).orderBy("word")


@query(
    "bloom_prefilter_join",
    """
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with a hand-rolled Bloom pre-filter — the manual
    version of Spark's runtime row-level filtering, exactness
    preserved: the dim side's filter (8 KB of words, collected once and
    constant-folded into the scan) discards most fact rows map-side
    BEFORE the join shuffle; false positives are then removed by the
    real semi join, so the result — and the oracle — is the plain IN
    semantics. At 100 TB the shuffle carries only probable matches
    instead of the whole fact table."""
    words = {r.word: r.bits for r in _bloom_words_df(spark, sf_dir).collect()}
    # ONE array<bigint> literal (a single ArrayData object — NOT a
    # 2048-element CreateArray, which exploded whole-stage-codegen size
    # at 82 s) probed with O(1) element_at. The previous 16 KB hex-string
    # + substring probe cost ~20 s at sf0.1: UTF8String position lookup
    # walks codepoints from the start, so every probe scanned O(pos)
    # bytes of the literal.
    #
    # r12 (guide §1.2 per-task work + measured plan-BUILD cost): the k=4
    # probes are one forall() over the position array, so each md5
    # position expression appears ONCE (the old chained filters expanded
    # each position twice — shift and mask) and the 2048-element literal
    # appears once in one filter instead of four — analyzer/optimizer
    # tree walks copied the 16 KB literal per rule per filter, measured
    # 2-3.8 s of driver plan-build alone. Interleaved A/B (full query):
    # min 2.45 → 1.36 s, wins every rep, row-exact. pmod == % for the
    # non-negative 16-bit positions.
    arr_sql = (
        "array(" + ",".join(f"{words.get(w, 0)}L" for w in range(_BLOOM_WORDS)) + ")"
    )
    pos_arr = "array(" + ",".join(_bloom_pos_exprs("CAST(o_custkey AS STRING)")) + ")"
    (cust, orders) = _prep(spark, sf_dir, "customer", "orders")
    probed = orders.filter(
        F.expr(
            f"forall({pos_arr}, p -> (element_at({arr_sql}, shiftright(p, 5) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), pmod(p, 32))) != 0)"
        )
    )
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        probed.join(dim, probed.o_custkey == dim.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
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
    "embedding_quantize_error",
    """
    WITH q AS (
      SELECT label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127
               AS scale
      FROM embeddings
    ),
    e AS (
      SELECT label,
             CASE WHEN scale = 0 THEN 0.0 ELSE
               list_sum(list_transform(v, x ->
                 (x - floor(x / scale + 0.5) * scale)
                 * (x - floor(x / scale + 0.5) * scale))) / len(v)
             END AS mse
      FROM q
    )
    SELECT label, count(*) AS n_vecs,
           round(CAST(sum(CAST(round(mse + 1e-12, 12) AS DECIMAL(28,12))
                 ) AS DOUBLE) / count(*), 9) AS avg_mse
    FROM e GROUP BY label
    """,
)
def q_embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization error of the embedding column:
    per-vector scale = max|x|/127, q = floor(x/scale + 0.5) (identical
    round-half-up in every engine, unlike round()'s half-up/half-even
    split), per-vector MSE via a sequential left fold (same
    accumulation order as the oracle's list_sum), per-label mean via
    the order-free decimal trick. The per-row array math runs in one
    projection — int8 storage is 4× smaller and the dot-product path
    for ANN (operators/similarity.py) reads it directly at 100 TB."""
    (emb,) = _prep(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x))).cast("double")
        / 127
    )
    q = emb.select("label", v.alias("v"), scale.alias("scale"))
    err = lambda x: (  # noqa: E731
        x - F.floor(x / F.col("scale") + 0.5) * F.col("scale")
    )
    mse = F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
        F.aggregate(
            "v", F.lit(0.0), lambda acc, x: acc + err(x) * err(x)
        )
        / F.size("v")
    )
    e = q.select("label", mse.alias("mse"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(
                F.round(F.col("mse") + F.lit(1e-12), 12).cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("avg_mse"),
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
# Training-corpus assembly: sequence packing and stratified sampling
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


_STRATA_PCT = {"en": 20, "de": 50, "es": 50, "fr": 50, "zh": 80}
_STRATA_DEFAULT_PCT = 100


def _strata_case_sql() -> str:
    arms = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_STRATA_PCT.items())
    )
    return f"CASE {arms} ELSE {_STRATA_DEFAULT_PCT} END"


@query(
    "sample_stratified",
    f"""
    WITH h AS (
      SELECT doc_id, lang, n_chars,
             ('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
               % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, n_chars
    FROM h WHERE bucket < {_strata_case_sql()}
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-language rates — the corpus
    rebalancing step of a training mix (downsample over-represented
    languages, keep the tail). Membership = md5(salt || doc_id) mod 100
    under the stratum's threshold: reproducible on any engine and any
    cluster size, no RNG state, stable as the corpus grows. Pure
    map-side filter — no shuffle at all; at 100 TB this runs at scan
    speed with the filter pushed into the Parquet row-group scan where
    stats allow."""
    (docs,) = _prep(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("strat"), F.col("doc_id").cast("string"))), 1, 4),
            16,
            10,
        ).cast("int")
        % 100
    )
    threshold = F.lit(_STRATA_DEFAULT_PCT)
    for k, v in sorted(_STRATA_PCT.items()):
        threshold = F.when(F.col("lang") == k, v).otherwise(threshold)
    return docs.filter(bucket < threshold).select("doc_id", "lang", "n_chars")


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
