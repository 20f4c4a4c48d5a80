"""Embedding similarity search (north-star addition).

Two tiers, per the standard ANN playbook:

- **brute force** — exact cosine top-k / threshold pairs, computed as
  *blocked matrix products* inside Arrow-batched Pandas UDFs
  (`mapInPandas` / `applyInPandas`). Per-pair expression evaluation —
  even fully codegen'd — is ~100 ns/element on 64-dim vectors; a numpy
  GEMM does the same work at memory bandwidth, ~100× faster. The
  corpus is never collected to the driver; blocks pair up via an
  explode + groupBy, so the plan distributes like any other shuffle.
- **random-hyperplane LSH** — the 100 TB path: 16 md5-derived ±1
  hyperplanes hash each vector to a 16-bit bucket; banded bucket join
  yields candidates, cosine reranks. Hyperplanes are derived from md5
  of (plane, dim), so the pipeline is deterministic and replayable in
  the SQL oracle (no RNG state to ship).

Float discipline: numpy accumulates float64 GEMMs in a different order
than a sequential SQL fold; results agree with the DuckDB oracle to
~1e-15, and every emitted similarity is round()-ed to 6 dp, so the
value-hash comparison is stable unless a similarity sits within 1e-15
of a rounding boundary (measure-zero for real data).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gibbon_spark.worker import drop_spark_archives

NUM_PLANES = 16

_PAIR_SCHEMA = "id_a long, id_b long, cosine_sim double"
_TOPK_SCHEMA = "query_id long, nbr_id long, cosine_sim double"


def _stack(vecs: pd.Series) -> np.ndarray:
    """An array column's values as one float64 matrix, a row per value."""
    return np.stack(vecs.to_numpy()).astype("float64")


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """``mat`` with every row scaled to unit L2 norm (zero rows stay zero)."""
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return mat / norms[:, None]


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best rounded ``cosine_sim`` per query, ties to the lower
    ``nbr_id``, numbered by ``rank``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("nbr_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine_sim", "rank")
    )


def _query_set(queries: DataFrame, query_id_col: str, vec_col: str):
    """The bounded query set on the driver for the top-k paths: (int64
    ids, float64 vectors) with one row per query_id (a duplicated
    query_id keeps its first row), or None when it is empty."""
    q_pdf = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("vec")
    ).toPandas()
    q_pdf = q_pdf.drop_duplicates(subset=["query_id"])
    if not len(q_pdf):
        return None
    return q_pdf["query_id"].to_numpy().astype("int64"), _stack(q_pdf["vec"])


def _no_queries(embeddings: DataFrame) -> DataFrame:
    """The top-k result of an empty query set: no rows, and the columns
    of a non-empty result."""
    return embeddings.sparkSession.createDataFrame([], _TOPK_SCHEMA + ", rank int")


def _rerank_topk(feat: DataFrame, q_ids, q_raw, candidates, k: int) -> DataFrame:
    """Exact-cosine top-k over candidate pairs, in one ``mapInPandas``
    pass over ``feat`` (id, vec). ``candidates(mat)`` maps a batch's
    float64 vectors to the (batch row, query row) index pairs to score;
    a vector never scores against a query with its own id."""
    q_mat = _unit_rows(q_raw)

    def cand_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_spark_archives()
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            mat = _stack(pdf["vec"])
            rows, qrow = candidates(mat)
            keep = ids[rows] != q_ids[qrow]  # self-exclusion
            rows, qrow = rows[keep], qrow[keep]
            if not len(rows):
                continue
            sims = np.einsum("ij,ij->i", _unit_rows(mat[rows]), q_mat[qrow])
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qrow],
                    "nbr_id": ids[rows],
                    "cosine_sim": sims,
                }
            )

    scored = feat.mapInPandas(cand_score, _TOPK_SCHEMA).withColumn(
        "cosine_sim", F.round("cosine_sim", 6)
    )
    return _top_k(scored, k)


# ---------------------------------------------------------------------------
# Brute force
# ---------------------------------------------------------------------------


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    The (small, bounded) query set ships to every task inside the UDF
    closure; the corpus streams through `mapInPandas` once, each Arrow
    batch contributing its local top-k per query via one GEMM; a final
    tiny window merges the per-batch winners. No corpus shuffle at all —
    at 1000 executors this is a pure map + a k×queries-row reduce."""
    qs = _query_set(queries, query_id_col, vec_col)
    if qs is None:
        return _no_queries(embeddings)
    q_ids, q_raw = qs
    q_mat = _unit_rows(q_raw)

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_spark_archives()
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            sims = _unit_rows(_stack(pdf["vec"])) @ q_mat.T  # (batch, n_queries)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                col = sims[:, qi].copy()
                col[ids == q_ids[qi]] = -math.inf
                take = min(k, len(col))
                top = np.argpartition(-col, take - 1)[:take]
                out_q.extend([q_ids[qi]] * take)
                out_n.extend(ids[top])
                out_s.extend(col[top])
            yield pd.DataFrame(
                {"query_id": out_q, "nbr_id": out_n, "cosine_sim": out_s}
            )

    corpus = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    local = corpus.mapInPandas(local_topk, _TOPK_SCHEMA).withColumn(
        "cosine_sim", F.round("cosine_sim", 6)
    )
    return _top_k(local.filter(F.col("cosine_sim") > float("-inf")), k)


def pairwise_cosine_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    num_blocks: int = 8,
    chunk: int = 2048,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold, via blocked GEMM.

    Each row is assigned block b = id % num_blocks and replicated into
    every unordered block pair (p,q) it participates in (~num_blocks
    copies); `applyInPandas` over (p,q) computes the sub-matrix product
    and emits only pairs over threshold. Choose num_blocks so a block
    pair (2·N/B rows × dims doubles) fits executor memory — total work
    stays the honest O(N²); use the LSH candidate path to avoid that at
    100 TB."""
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        (F.col(id_col) % num_blocks).alias("blk"),
    )
    pq = e.select(
        "id",
        "vec",
        "blk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("blk"), F.lit(o)).alias("p"),
                        F.greatest(F.col("blk"), F.lit(o)).alias("q"),
                    )
                    for o in range(num_blocks)
                ]
            )
        ).alias("bp"),
    ).select("id", "vec", "blk", F.col("bp.p").alias("p"), F.col("bp.q").alias("q"))

    def block_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        drop_spark_archives()
        # Row-chunked GEMM: the one-shot sub-matrix product holds an
        # n_p x n_q double sims matrix (450 MB at 7.5k x 7.5k) plus, in
        # the diagonal case, full triu index arrays (~700 MB more) —
        # per-task allocations that large churn the allocator and made
        # repeat runs swing 2x. Chunking rows bounds every intermediate
        # at chunk x n_q (~120 MB) with identical output: each chunk is
        # thresholded immediately (boolean mask scan, no index
        # materialization for the non-matches).
        p, q = key
        ids = pdf["id"].to_numpy()
        unit = _unit_rows(_stack(pdf["vec"]))
        blk = pdf["blk"].to_numpy()
        if p == q:
            ids_a_all = ids_b_all = ids
            a_unit = b_unit = unit
        else:
            am, bm = blk == p, blk == q
            ids_a_all, ids_b_all = ids[am], ids[bm]
            a_unit, b_unit = unit[am], unit[bm]
        out_a, out_b, out_v = [], [], []
        for i0 in range(0, len(a_unit), chunk):
            sims = a_unit[i0 : i0 + chunk] @ b_unit.T
            mask = sims >= threshold - 1e-9
            if p == q:
                # keep strictly-upper pairs only (global row idx < col idx)
                ia, ib = np.nonzero(mask)
                keep = (i0 + ia) < ib
                ia, ib = ia[keep], ib[keep]
            else:
                ia, ib = np.nonzero(mask)
            # ia is CHUNK-LOCAL — always offset by i0 (round-7 fix: the
            # p!=q branch forgot the offset, mislabeling id_a whenever a
            # block side exceeded one chunk, i.e. >2048*num_blocks rows;
            # caught by the sf3 subset oracle, invisible at sf<=0.1)
            out_a.append(ids_a_all[i0 + ia])
            out_b.append(ids_b_all[ib])
            out_v.append(sims[ia, ib])
        id_a = np.concatenate(out_a) if out_a else np.array([], dtype=ids.dtype)
        id_b = np.concatenate(out_b) if out_b else np.array([], dtype=ids.dtype)
        vals = np.concatenate(out_v) if out_v else np.array([], dtype="float64")
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine_sim": vals})

    out = pq.groupBy("p", "q").applyInPandas(block_pairs, _PAIR_SCHEMA)
    return out.withColumn("cosine_sim", F.round("cosine_sim", 6)).filter(
        F.col("cosine_sim") >= threshold
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Near-duplicate embedding pairs (cosine ≥ threshold), EXACT."""
    return pairwise_cosine_pairs(
        embeddings, id_col=id_col, vec_col=vec_col, threshold=threshold
    )


# Self-join banding: 32 bands x 16 bits (512 md5-derived planes).
# Band VALUE SPACE is the quadratic-floor control: a random (cos ~ 0)
# pair collides in a k-bit band with prob 2^-k, so background candidates
# are ~bands * n^2 / 2^k — with 8-bit bands (256 values) the floor is
# n^2/32 and the sf3 scale gate measured the kNN-graph build at 42x cost
# on 3x data; 16-bit bands push the floor to n^2/2048 with avg bucket
# size n/65536 (<1 until ~100k vectors per partition-shard). Recall for
# true near-dups (cos >= 0.9, p = 0.857/plane): 1-(1-0.857^16)^32 = 0.94.
NEARDUP_PLANES = 512
NEARDUP_BAND_BITS = 16


def with_lsh_bands(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    dims: int = 64,
    num_planes: int = NEARDUP_PLANES,
    band_bits: int = NEARDUP_BAND_BITS,
) -> DataFrame:
    """Add a ``bands`` array<int> column: element b packs sign bits of
    planes [b*band_bits, (b+1)*band_bits) — the UNPACKED variant of
    with_lsh_bucket for wide codes (a packed 64-plane code overflows
    signed 64-bit, which both engines' shift/& arithmetic needs). Same
    GEMM-per-Arrow-batch shape; same md5-derived planes as the oracle."""
    n_bands = num_planes // band_bits
    signs = _hyperplanes(num_planes, dims)
    w = 1 << np.arange(band_bits, dtype="int64")

    @F.pandas_udf("array<int>")
    def bands_udf(vecs: pd.Series) -> pd.Series:
        drop_spark_archives()
        if not len(vecs):
            return pd.Series([], dtype="object")
        mat = _stack(vecs)
        bits = (mat @ signs.astype("float64") >= 0).reshape(len(mat), n_bands, band_bits)
        vals = (bits @ w).astype("int32")
        return pd.Series(list(vals))

    return embeddings.withColumn("bands", bands_udf(F.col(vec_col)))


def lsh_neardup_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dims: int = 64,
    num_planes: int = NEARDUP_PLANES,
    band_bits: int = NEARDUP_BAND_BITS,
) -> DataFrame:
    """Near-dup pairs at scale: banded hyperplane-LSH candidates + exact
    cosine rerank. Semantics: a pair is emitted iff it (a) shares at
    least one ``band_bits``-wide band of the ``num_planes``-bit
    hyperplane code AND (b) has exact cosine ≥ threshold after rerank.

    This is NOT result-identical to the exact all-pairs join
    (:func:`pairwise_cosine_pairs`): candidate recall for a pair at
    angle θ is ``1 − (1 − p^r)^b`` with ``p = 1 − θ/π``. No banding
    fixes that at low thresholds — at cos 0.4, p ≈ 0.63, 32×16-bit
    bands recall ~2% of boundary pairs (true near-dups at cos ≥ 0.9
    recall 0.94 — the operating point; boundary-pair recall is the
    price of the sub-quadratic candidate floor, see the NEARDUP_PLANES
    comment). Sub-quadratic exact threshold-join on dense random vectors
    is the orthogonal-vectors problem — conjectured impossible in
    general — which is why production near-dup pipelines run LSH
    semantics. The md5-derived planes make the candidate step
    deterministic and SQL-replayable, so the DuckDB oracle reproduces
    these semantics EXACTLY — the parity check is still bit-for-bit,
    it just checks the LSH contract, not the all-pairs one.

    Band width is the SCALE lever — see the NEARDUP_PLANES comment for
    the measured history (4×4-bit: 29× on 10× data at sf1; 8×8-bit:
    42× on 3× data at sf3; 32×16-bit: the quadratic floor at n²/2048
    with sub-1 average buckets until ~100k vectors).

    Plan shape: one map (bucket GEMM), one keyed self-join on
    (band, band-value) carrying IDS ONLY (the 64-float payloads would
    multiply the candidate shuffle ~30×; measured 3-4× end-to-end),
    int-pair dedup, then two keyed joins hydrate the vectors for a
    fully codegen'd rerank — ``zip_with``+``aggregate`` is a LEFT fold,
    the same accumulation order as DuckDB's ``list_dot_product``, so
    the rerank is bit-identical to the oracle (stronger than the
    previous Arrow/numpy rerank, whose pairwise-summed GEMM only
    agreed to ~1e-15). No block replication, no broadcast of the
    corpus.
    """
    c = with_lsh_bands(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        vec_col="vec",
        dims=dims,
        num_planes=num_planes,
        band_bits=band_bits,
    )
    banded = c.select(
        "id", F.posexplode("bands").alias("band", "val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    def fold_dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z
        )

    # norms fold ONCE per vector (higher-order array expressions are
    # interpreted, not codegen — per-pair norms would triple that cost
    # over the candidate set); the per-pair work is the single dot fold.
    # sqrt(fold(v,v)) here is the same double as the oracle's per-pair
    # sqrt(list_dot_product(b.v, b.v)) — identical fold on the same
    # array — so parity is unaffected.
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vecs = embeddings.select(
        F.col(id_col).alias("_vid"),
        dvec.alias("_v"),
        F.sqrt(fold_dot(dvec, dvec)).alias("_n"),
    )
    hydrated = cand.join(
        vecs.select(
            F.col("_vid").alias("id_a"), F.col("_v").alias("va"), F.col("_n").alias("na")
        ),
        "id_a",
    ).join(
        vecs.select(
            F.col("_vid").alias("id_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
        ),
        "id_b",
    )

    cos = fold_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        hydrated.select("id_a", "id_b", F.round(cos, 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------


def _plane_sign(plane: int, dim: int) -> int:
    """Deterministic ±1 from md5(plane:dim) — identical to the oracle's
    duckdb-side derivation (see registry.similarity._lsh_bucket_oracle_sql)."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()
    return 1 if int(h[0], 16) >= 8 else -1


def plane_signs(num_planes: int, dims: int) -> list[list[int]]:
    return [[_plane_sign(p, d) for d in range(dims)] for p in range(num_planes)]


def _hyperplanes(num_planes: int, dims: int) -> np.ndarray:
    """The ±1 plane signs as an int8 dims × planes matrix. A UDF that
    closes over it ships one byte per sign (32 KB for 512 × 64, not
    256 KB) and upcasts it to float64, exactly, for its GEMM."""
    return np.array(plane_signs(num_planes, dims), dtype="int8").T


def _bucket_code(mat: np.ndarray, signs: np.ndarray) -> np.ndarray:
    """Per row, the int32 code with bit p set iff dot(row, plane_p) >= 0."""
    weights = 1 << np.arange(signs.shape[1], dtype="int64")
    return ((mat @ signs.astype("float64") >= 0) @ weights).astype("int32")


def with_lsh_bucket(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    dims: int = 64,
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """Add a ``bucket`` int column: bit p set iff dot(vec, plane_p) >= 0.
    One (N×dims)@(dims×planes) GEMM per Arrow batch — a pure map, no
    shuffle. (A pure-expression version was tried first: 16×64-term
    codegen overwhelms the JIT and runs interpreted, ~100× slower.)"""
    signs = _hyperplanes(num_planes, dims)

    @F.pandas_udf("int")
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        drop_spark_archives()
        if not len(vecs):
            return pd.Series([], dtype="int32")
        return pd.Series(_bucket_code(_stack(vecs), signs))

    return embeddings.withColumn("bucket", bucket_udf(F.col(vec_col)))


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    dims: int = 64,
    band_bits: int = 4,
) -> DataFrame:
    """ANN top-k: candidates = vectors sharing any band (band_bits-wide
    chunk) of the 16-bit hyperplane bucket with a query, then the same
    batched-GEMM scoring as brute force, restricted to candidates.
    Recall vs brute force is asserted in tests/test_similarity.py.

    r12 (guide §4.1, the ivf_topk fusion): the bounded query set's
    buckets are computable driver-side with the SAME numpy ops as
    with_lsh_bucket, so bucketing, band-membership matching (an OR over
    bands — which also dedups multi-band collisions, replacing the old
    dropDuplicates exchange), and the exact-cosine rerank fuse into ONE
    mapInPandas pass over the corpus. The old shape paid two corpus
    Python passes plus a broadcast band join and a (query, id) dedup
    exchange. Float paths bit-identical; row-exact verified at
    sf0.001/0.01/0.1."""
    n_bands = NUM_PLANES // band_bits
    mask = (1 << band_bits) - 1
    signs = _hyperplanes(NUM_PLANES, dims)

    qs = _query_set(queries, query_id_col, vec_col)
    if qs is None:
        return _no_queries(embeddings)
    q_ids, q_raw = qs
    q_bucket = _bucket_code(q_raw, signs)
    # per-band query values, shape (n_bands, n_queries)
    q_band_vals = np.stack(
        [(q_bucket >> (b * band_bits)) & mask for b in range(n_bands)]
    ).astype("int64")

    def candidates(mat):
        bucket = _bucket_code(mat, signs)
        match = np.zeros((len(mat), len(q_ids)), dtype=bool)
        for b in range(n_bands):
            cv = ((bucket.astype("int64") >> (b * band_bits)) & mask)
            match |= cv[:, None] == q_band_vals[b][None, :]
        return np.nonzero(match)

    feat = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    return _rerank_topk(feat, q_ids, q_raw, candidates, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — k-means coarse quantizer + probed rerank
# ---------------------------------------------------------------------------


_IVF_MAX_TRAIN = 25_600  # FAISS-style bound: codebooks train on a sample
IVF_QUANT = 10_000  # 1e-4 coordinate grid: exact BIGINT distance math
IVF_ITERS = 4  # unrolled Lloyd rounds (a coarse quantizer saturates fast)
IVF_PICK_HEX = 15  # 60-bit md5 uniforms for the k-means++ inverse-CDF
IVF_U = 16**IVF_PICK_HEX


def _quantize(mat: np.ndarray) -> np.ndarray:
    """Coordinates on the 1e-4 integer grid: ``floor(v*IVF_QUANT + 0.5)``."""
    return np.floor(mat * IVF_QUANT + 0.5).astype(np.int64)


def _list_scores(q: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Exact integer ||x-c||^2 per (row, list) less the row-constant
    ||x||^2, so its argmin is the nearest list (np.argmin ties -> the
    lowest list id)."""
    csq = (cent**2).sum(axis=1)
    return csq[None, :] - 2 * (q @ cent.T)


def ivf_pick_u(seed: int, t: int) -> int:
    """The t-th k-means++ selection uniform in [0, IVF_U): the first 15
    hex digits of md5("ivf-pick:{seed}:{t}"). A data-independent
    constant, so the SQL oracle inlines the same literal."""
    import hashlib

    return int(
        hashlib.md5(f"ivf-pick:{seed}:{t}".encode()).hexdigest()[
            :IVF_PICK_HEX
        ],
        16,
    )


def ivf_train_centroids(train_pdf: pd.DataFrame, n_lists: int, seed: int):
    """Deterministic, integer-exact k-means the DuckDB oracle can replay
    verbatim (the kmeans_embeddings discipline applied to the IVF
    codebook — round-9 rows-only→hash-exact conversion):

    - coordinates quantized once to the 1e-4 integer grid
      (``floor(v*10000 + 0.5)``), all distances exact BIGINT sums;
    - k-means++ WITHOUT RNG: the seed point is the min
      (md5("ivf-seed:{seed}:{id}"), id); each further pick is an
      inverse-CDF draw over the best-distance weights with the
      md5-derived uniform ``ivf_pick_u`` — the first id (ascending)
      whose cumulative weight satisfies ``cum * IVF_U > u * tot``,
      evaluated in exact big-int arithmetic (HUGEINT on the SQL side);
    - ``IVF_ITERS`` Lloyd rounds: argmin = min(dist*k + j) (ties to the
      lowest list id), centroid update = floor(mean + 0.5) per
      dimension, empty lists keep their previous centroid.

    ``train_pdf`` must have columns (id, vec); order does not matter
    (picks sort by id internally). Returns int64 centroids on the
    quantized grid, shape (k, dims)."""
    import hashlib

    pdf = train_pdf.sort_values("id").reset_index(drop=True)
    ids = pdf["id"].to_numpy()
    Q = _quantize(_stack(pdf["vec"]))
    k = min(n_lists, len(Q))

    def seed_rank(i: int) -> tuple[str, int]:
        h = hashlib.md5(f"ivf-seed:{seed}:{ids[i]}".encode()).hexdigest()
        return (h, int(ids[i]))

    first = min(range(len(Q)), key=seed_rank)
    cent = Q[[first]].copy()
    best = ((Q - Q[first]) ** 2).sum(axis=1)
    for t in range(1, k):
        tot = int(best.sum())
        # distinct vectors guarantee tot > 0 while #centroids < #points;
        # the SQL replay relies on the same precondition
        assert tot > 0, "k-means++ on fewer distinct vectors than lists"
        u = ivf_pick_u(seed, t)
        # first id with cum * U > u * tot  <=>  cum >= u*tot//U + 1
        target = u * tot // IVF_U + 1
        cum = np.cumsum(best)
        pick = int(np.searchsorted(cum, target, side="left"))
        cent = np.concatenate([cent, Q[[pick]]])
        best = np.minimum(best, ((Q - Q[pick]) ** 2).sum(axis=1))

    xsq = (Q**2).sum(axis=1)
    for _ in range(IVF_ITERS):
        csq = (cent**2).sum(axis=1)
        dists = xsq[:, None] - 2 * (Q @ cent.T) + csq[None, :]
        labels = dists.argmin(axis=1)  # ties -> lowest list id
        for j in range(k):
            pts = Q[labels == j]
            if len(pts):
                cent[j] = np.floor(
                    pts.sum(axis=0).astype("float64") / len(pts) + 0.5
                ).astype(np.int64)
    return cent


def _ivf_codebook(feat: DataFrame, *, n_lists: int, seed: int):
    """Train the IVF coarse quantizer from the deterministic bounded
    sample: the ``_IVF_MAX_TRAIN`` ids with the smallest
    md5("ivf-sample:{seed}:{id}") — a global top-k
    (TakeOrderedAndProject), no full sort, replayed in SQL as
    ORDER BY md5(...) LIMIT. ``feat`` must carry (id, vec)."""
    train_pdf = (
        feat.orderBy(
            F.md5(F.concat(F.lit(f"ivf-sample:{seed}:"), F.col("id").cast("string"))),
            "id",
        )
        .limit(_IVF_MAX_TRAIN)
        .toPandas()
    )
    if not len(train_pdf):
        raise ValueError("cannot build an IVF index over an empty corpus")
    return ivf_train_centroids(train_pdf, n_lists, seed)


def ivf_assign(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
):
    """Train a k-means coarse quantizer and assign every vector to its
    nearest-centroid (euclidean) inverted list.

    The quantizer trains DRIVER-SIDE in numpy on a deterministic
    md5-rank-capped sample (≤ ~25k vectors — the standard IVF practice:
    codebook quality saturates at a few hundred points per centroid, so
    training cost is independent of corpus size; ~13 MB driver state at
    the cap). Training is integer-exact and RNG-free (see
    ivf_train_centroids), so the whole index — sample, codebook,
    assignment — is replayable by the DuckDB oracle. Assignment stays
    distributed: one Arrow-batched integer GEMM pass over the corpus
    with the (k x dims) centroid grid shipped in the closure; argmin
    ties break to the lowest list id on both engines. Returns (assigned
    DataFrame with a ``list_id`` column, int64 centroids on the
    IVF_QUANT grid)."""
    feat = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    cent = _ivf_codebook(feat, n_lists=n_lists, seed=seed)

    def assign(batches):
        drop_spark_archives()
        for pdf in batches:
            if not len(pdf):
                continue
            scores = _list_scores(_quantize(_stack(pdf["vec"])), cent)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "vec": pdf["vec"],
                    "list_id": scores.argmin(axis=1).astype("int32"),
                }
            )

    vec_type = embeddings.schema[vec_col].dataType.simpleString()
    assigned = feat.mapInPandas(
        assign, f"id long, vec {vec_type}, list_id int"
    )
    return assigned, cent


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN top-k: score only the nprobe inverted lists whose
    centroids are nearest each query (exact integer euclidean — the
    SAME metric the assignment uses, so the probe choice is replayable
    in the SQL oracle; ties to the lowest list id), then exact-cosine
    rerank. Candidate fraction ≈ nprobe/n_lists of the corpus; recall
    asserted vs tests/test_similarity.py and the sim_ivf_recall_check
    twin.

    r12 (guide §4.1 "how many columns cross" + §1.2): the codebook and
    every query's probe lists are driver-side constants BEFORE any
    distributed work, so assignment, probe-list membership, and the
    exact-cosine rerank fuse into ONE mapInPandas pass over the corpus
    — the old two-pass shape (assign pass → broadcast probe join →
    rerank pass) shipped every corpus vector through the JVM↔Arrow
    boundary twice. Float paths are bit-identical to the old plan:
    int64 GEMM argmin for assignment, per-row unit-norm + einsum dot
    for the rerank (row-exact verified at sf0.001/0.01/0.1)."""
    feat = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    centroids = _ivf_codebook(feat, n_lists=n_lists, seed=seed)
    qs = _query_set(queries, query_id_col, vec_col)
    if qs is None:
        return _no_queries(embeddings)
    q_ids, q_raw = qs
    dists = _list_scores(_quantize(q_raw), centroids)
    # nprobe nearest lists per query, ties to the lowest list id:
    # lexsort by (dist, j) — exact integers, no float comparisons
    probe_map: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        order = sorted(range(len(centroids)), key=lambda j: (int(dists[qi, j]), j))
        for j in order[:nprobe]:
            probe_map.setdefault(int(j), []).append(qi)

    def candidates(mat):
        # each row's list, as in ivf_assign
        lab = _list_scores(_quantize(mat), centroids).argmin(axis=1)
        rows_l, qrow_l = [], []
        for j, qrows in probe_map.items():
            m = np.nonzero(lab == j)[0]
            for qr in qrows:
                if len(m):
                    rows_l.append(m)
                    qrow_l.append(np.full(len(m), qr, dtype=np.int64))
        if not rows_l:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(rows_l), np.concatenate(qrow_l)

    return _rerank_topk(feat, q_ids, q_raw, candidates, k)
