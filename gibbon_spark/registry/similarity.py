"""Similarity queries: exact and near-duplicate detection, ANN search over
embeddings, embedding analytics, and LSH telemetry.

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

from gibbon_spark.materialize import materialize
from gibbon_spark.operators import dedup, similarity
from gibbon_spark.registry import _prep, query
from gibbon_spark.worker import drop_spark_archives


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
# Dedup representatives, IVF top-k, dedup clusters, incremental dedup,
# embedding centroids and quantization error
# ---------------------------------------------------------------------------


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


# =========================================================================
# Semantic dedup: centroid-proximity pruning (SemDeDup-style)
# =========================================================================


_SEMDEDUP_TAU = 0.25


def _semdedup_oracle_sql(tau: float = _SEMDEDUP_TAU) -> str:
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (
      SELECT vec_id, label, t.dim - 1 AS dim, v[t.dim] AS val
      FROM e, unnest(range(1, len(v) + 1)) AS t(dim)
    ),
    cent AS (
      SELECT label, dim,
             round(CAST(sum(CAST(round(val + 1e-9, 6) AS DECIMAL(24,6))) AS DOUBLE)
                   / count(*) + 1e-9, 6) AS c
      FROM ex GROUP BY label, dim
    ),
    j AS (
      SELECT ex.vec_id, ex.label,
             CAST(round(ex.val * cent.c + 1e-9, 10) AS DECIMAL(20,10)) AS vc,
             CAST(round(ex.val * ex.val + 1e-9, 10) AS DECIMAL(20,10)) AS vv,
             CAST(round(cent.c * cent.c + 1e-9, 10) AS DECIMAL(20,10)) AS cc
      FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
    ),
    pv AS (
      SELECT vec_id, label,
             CAST(sum(vc) AS DOUBLE)
               / (sqrt(CAST(sum(vv) AS DOUBLE)) * sqrt(CAST(sum(cc) AS DOUBLE)))
               AS cos
      FROM j GROUP BY vec_id, label
    )
    SELECT label, count(*) AS n_vecs,
           count(CASE WHEN cos >= {tau} THEN 1 END) AS n_redundant,
           round(min(cos) + 1e-9, 6) AS min_cos,
           round(max(cos) + 1e-9, 6) AS max_cos
    FROM pv GROUP BY label ORDER BY label
    """


@query("semdedup_centroid_prune", _semdedup_oracle_sql())
def q_semdedup_centroid_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv
    2303.09540): within each semantic cluster — here the given label,
    in production the IVF/k-means assignment — vectors whose cosine to
    the cluster centroid exceeds tau are semantic redundants; keeping
    one representative of the dense core shrinks web-scale corpora
    30-50% with no quality loss. Plan: posexplode → centroid per
    (label, dim) via exact decimal means (the embedding_centroids
    aggregate), broadcast the classes×dims centroid frame back, one
    keyed aggregate per vec_id for dot/norms from 10-dp decimal terms
    (association-order-free), then a per-label rollup. Every shuffle is
    keyed; centroid frame is tiny at any corpus size. The oracle
    replays the identical quantized arithmetic, so redundancy counts
    are bit-reproducible — unusual for embedding pipelines and exactly
    what an audit of a 100 TB prune decision needs."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    ex = embs.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "vf")
    ).select("vec_id", "label", "dim", F.col("vf").cast("double").alias("val"))
    val6 = F.round(F.col("val") + F.lit(1e-9), 6).cast("decimal(24,6)")
    cent = ex.groupBy("label", "dim").agg(
        F.round(
            F.sum(val6).cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 6
        ).alias("c")
    )

    def dec10(col):
        return F.round(col + F.lit(1e-9), 10).cast("decimal(20,10)")

    j = ex.join(F.broadcast(cent), ["label", "dim"]).select(
        "vec_id",
        "label",
        dec10(F.col("val") * F.col("c")).alias("vc"),
        dec10(F.col("val") * F.col("val")).alias("vv"),
        dec10(F.col("c") * F.col("c")).alias("cc"),
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("nv").cast("double")) * F.sqrt(F.col("nc").cast("double"))
    )
    pv = (
        j.groupBy("vec_id", "label")
        .agg(
            F.sum("vc").alias("dot"),
            F.sum("vv").alias("nv"),
            F.sum("cc").alias("nc"),
        )
        .select("vec_id", "label", cos.alias("cos"))
    )
    return (
        pv.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(F.when(F.col("cos") >= _SEMDEDUP_TAU, 1)).alias("n_redundant"),
            F.round(F.min("cos") + F.lit(1e-9), 6).alias("min_cos"),
            F.round(F.max("cos") + F.lit(1e-9), 6).alias("max_cos"),
        )
        .orderBy("label")
    )


# =========================================================================
# k-NN graph construction over LSH candidates
# =========================================================================


def _knn_graph_oracle_sql(k: int = 3) -> str:
    from gibbon_spark.operators import similarity

    band_cols = ", ".join(
        f"{e} AS band_{i}" for i, e in enumerate(_lsh_band_exprs())
    )
    n_bands = similarity.NEARDUP_PLANES // similarity.NEARDUP_BAND_BITS
    band_eq = " OR ".join(f"a.band_{b} = b.band_{b}" for b in range(n_bands))
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bk AS MATERIALIZED (SELECT vec_id, {band_cols} FROM e),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ({band_eq})
    ),
    sym AS (
      SELECT id_a AS src, id_b AS nbr FROM cand
      UNION ALL
      SELECT id_b AS src, id_a AS nbr FROM cand
    ),
    scored AS (
      SELECT s.src, s.nbr, {_COSINE_SQL} AS cosine_sim
      FROM sym s JOIN e a ON s.src = a.vec_id JOIN e b ON s.nbr = b.vec_id
    )
    SELECT src, nbr, cosine_sim, rank FROM (
      SELECT src, nbr, cosine_sim,
             row_number() OVER (PARTITION BY src
                                ORDER BY cosine_sim DESC, nbr) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("knn_graph_lsh", _knn_graph_oracle_sql())
def q_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH construction (every vector's top-3 neighbors among its
    LSH band candidates) — the build step behind graph-based ANN
    indexes, semantic clustering, and SemDeDup's cluster refinement.
    Unlike sim_topk_* (bounded driver-side query set), here EVERY corpus
    vector is a query, so the plan must stay corpus-shaped: banded
    hyperplane-LSH self-join for candidates (keyed, no replication),
    exact cosine rerank, per-source rank capped at k via
    WindowGroupLimit. The md5-derived planes make the candidate set
    deterministic, so the oracle replays the identical graph — the
    LSH-contract semantics, same division as sim_embedding_neardup."""
    from gibbon_spark.operators import similarity

    (embs,) = _prep(spark, sf_dir, "embeddings")
    pairs = similarity.lsh_neardup_pairs(embs, threshold=-2.0)
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("nbr"), "cosine_sim"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("nbr"), "cosine_sim"
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine_sim").desc(), "nbr")
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("src", "nbr", "cosine_sim", "rank")
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
        drop_spark_archives()
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
            drop_spark_archives()
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
# LSH near-dup end-to-end recall check (oracle-backed invariant twin)
# =========================================================================


def _neardup_check_oracle_sql() -> str:
    from gibbon_spark.operators import similarity

    band_cols = ", ".join(
        f"{e} AS band_{i}" for i, e in enumerate(_lsh_band_exprs())
    )
    n_bands = similarity.NEARDUP_PLANES // similarity.NEARDUP_BAND_BITS
    # candidate generation stated RELATIONALLY (long-form per-band hash
    # join) instead of a 32-way OR join: identical pair set ("share >= 1
    # band"), but DuckDB executes OR-joins as non-spillable blockwise
    # loops that exhaust memory past ~20k vectors (first hit at the sf3
    # sweep), while the long form streams — the same restatement the knn
    # oracle got in round 7
    band_long = "\n      UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, band_{b} AS val FROM bk"
        for b in range(n_bands)
    )
    # deterministic near-copy: v[d] + 0.02 * (md5-uniform(id, d) in [-1, 1))
    perturb = (
        "list_transform(v, x -> x + 0.02 * "
        "((('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || "
        "CAST(list_position(v, x) AS VARCHAR)), 1, 4))::BIGINT % 1000) "
        "/ 500.0 - 1.0))"
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 20
    ),
    copies AS (
      SELECT vec_id + 1000000 AS vec_id, {perturb} AS v FROM base
    ),
    corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL SELECT vec_id, v FROM copies
    ),
    e AS MATERIALIZED (SELECT vec_id, v FROM corpus),
    bk AS MATERIALIZED (SELECT vec_id, {band_cols} FROM e),
    bl AS MATERIALIZED (
      {band_long}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bl a JOIN bl b
        ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b, {_COSINE_SQL} AS cosine_sim
      FROM cand c JOIN e a ON c.id_a = a.vec_id JOIN e b ON c.id_b = b.vec_id
      WHERE {_COSINE_SQL} >= 0.9
    )
    SELECT CAST(20 AS BIGINT) AS n_injected,
           CAST(count(*) AS BIGINT) AS n_recalled,
           count(*) >= 18 AS recall_ok
    FROM pairs WHERE id_b = id_a + 1000000
    """


@query("sim_neardup_recall_check", _neardup_check_oracle_sql())
def q_sim_neardup_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed end-to-end recall proof for the banded-LSH near-dup
    operator: inject 20 deterministic near-copies (md5-derived ±0.02
    perturbations, cos ~0.999 — replayed bit-for-bit by the DuckDB
    oracle) into the corpus and require >= 18 of them back from
    lsh_neardup_pairs at threshold 0.9. Exists because the driver corpus
    is near-orthogonal (no true near-dup pairs), so the plain
    sim_embedding_neardup result is legitimately empty there — this twin
    pins that the operator still FINDS near-dups when they exist, the
    same discipline as sim_lsh_recall_check / gorilla_ratio_check.

    The perturbation indexes each element by value-position (DuckDB's
    list_position), which is exact here because float64 coordinates are
    distinct within a vector with probability 1."""
    from gibbon_spark.operators import similarity

    (embs,) = _prep(spark, sf_dir, "embeddings")
    base = embs.filter(F.col("vec_id") < 20).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # same md5-uniform perturbation as the oracle; element index via
    # array_position over distinct float64 coordinates
    def perturbed(vid, v):
        return F.transform(
            v,
            lambda x: x
            + F.lit(0.02)
            * (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                vid.cast("string"),
                                F.lit(":"),
                                F.array_position(v, x).cast("string"),
                            )
                        ),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 1000
                / F.lit(500.0)
                - F.lit(1.0)
            ),
        )

    copies = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        perturbed(F.col("vec_id"), F.col("v")).alias("v"),
    )
    corpus = embs.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    ).unionByName(copies)
    pairs = similarity.lsh_neardup_pairs(
        corpus, vec_col="v", threshold=0.9
    )
    found = pairs.filter(F.col("id_b") == F.col("id_a") + 1_000_000)
    return found.agg(
        F.lit(20).cast("bigint").alias("n_injected"),
        F.count(F.lit(1)).alias("n_recalled"),
        (F.count(F.lit(1)) >= 18).alias("recall_ok"),
    )


# =========================================================================
# LSH band-bucket telemetry: how an operator picks the MinHash hot-band
# cap (dedup.LSH_MAX_BUCKET) from data instead of a constant
# =========================================================================


_BAND_THRESHOLDS = (4, 16, 64)


def _band_stats_oracle_sql(
    num_hashes: int = 12,
    bands: int = 4,
    thresholds: tuple[int, ...] = _BAND_THRESHOLDS,
) -> str:
    """Generated from the same md5 MinHash/band construction as
    _minhash_oracle_sql so the banding cannot drift from the Spark
    side (operators.dedup._banded)."""
    r = num_hashes // bands
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(num_hashes)
    )
    band_keys = ", ".join(
        "md5(" + " || '|' || ".join(f"sig_{b * r + j}" for j in range(r)) + f") AS band_{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT id, {b} AS band, band_{b} AS key FROM banded" for b in range(bands)
    )
    cut_cols = ", ".join(
        f"CAST(sum(CASE WHEN s > {t} THEN s * (s - 1) // 2 ELSE 0 END) AS BIGINT)"
        f" AS pairs_cut_at_{t}"
        for t in thresholds
    )
    return (
        _SHINGLE_CTE
        + f"""
    , sigs AS (SELECT doc_id AS id, {sig_cols} FROM sh GROUP BY doc_id),
    banded AS (SELECT id, {band_keys} FROM sigs),
    bl AS ({band_union}),
    sizes AS (SELECT band, key, count(*) AS s FROM bl GROUP BY band, key)
    SELECT band,
           count(*) AS n_buckets,
           CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
           CAST(max(s) AS BIGINT) AS max_size,
           CAST(sum(s * (s - 1) // 2) AS BIGINT) AS total_pairs,
           {cut_cols}
    FROM sizes
    GROUP BY band
    ORDER BY band
    """
    )


@query("lsh_band_stats", _band_stats_oracle_sql())
def q_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-band telemetry for the MinHash-LSH dedup path: per band, the
    bucket count, singleton count, max bucket size, total candidate
    pairs the band join would materialize (sum s*(s-1)/2), and the pair
    mass a cap at each threshold would eliminate. This is the profile
    that justifies LSH_MAX_BUCKET=64 (pairs_cut_at_64 == 0 at every
    tested scale through sf3) — the analogue of skew_key_stats for the
    band join. Integer-exact; two hash aggregations, no joins."""
    (docs,) = _prep(spark, sf_dir, "documents")
    return dedup.lsh_band_stats(docs, size_thresholds=_BAND_THRESHOLDS)
