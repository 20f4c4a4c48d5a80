"""Similarity search: brute force exactness + LSH recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gibbon_spark.operators import similarity
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def embeddings(spark):
    from gibbon_spark.sources.tables import load_table

    return load_table(spark, SF_SMALL, "embeddings").cache()


def test_brute_force_topk_matches_numpy(spark, embeddings):
    import numpy as np

    pdf = embeddings.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    ids = pdf["vec_id"].to_numpy()
    qs = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(embeddings, qs, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.nbr_id, r.cosine_sim))
    norms = np.linalg.norm(mat, axis=1)
    for q in range(3):
        sims = (mat @ mat[q]) / (norms * norms[q])
        sims[ids == q] = -math.inf
        best = np.argsort(-np.round(sims, 6), kind="stable")[:5]
        got = [nbr for _, nbr, _ in sorted(by_q[q])]
        assert got == [int(ids[i]) for i in best]


def test_lsh_recall_vs_brute_force(spark, embeddings):
    """Banded hyperplane LSH with 4-bit bands must recover most of the
    exact top-5 (random near-orthogonal corpus — recall won't be 1.0,
    but must beat random selection by a wide margin)."""
    qs = embeddings.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(embeddings, qs, k=5).collect()
    approx = similarity.lsh_topk(embeddings, qs, k=5).collect()
    exact_set = {(r.query_id, r.nbr_id) for r in exact}
    approx_set = {(r.query_id, r.nbr_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # the corpus is random/near-orthogonal, the worst case for hyperplane
    # LSH (neighbors sit at cos ≈ 0.4, barely off 90°) — recall ~0.45-0.55
    # here; on clustered real embeddings it approaches 1. Assert it beats
    # the ~0.25 a random same-size candidate subset would give.
    assert recall >= 0.35, f"LSH recall {recall:.2f} too low"


def test_lsh_planes_ship_as_int8_with_unchanged_codes():
    """The plane matrix an LSH UDF closes over is int8 (32 KB at 512 x
    64, not 256 KB as float64), and the codes equal a plain per-plane
    dot product over ``plane_signs``."""
    import numpy as np

    signs = similarity._hyperplanes(similarity.NEARDUP_PLANES, 64)
    assert signs.dtype == np.int8 and signs.nbytes == 512 * 64
    mat = np.random.default_rng(0).standard_normal((50, 64))
    mat[0] = 0.0  # every dot product is 0: every bit set
    planes = similarity.plane_signs(similarity.NUM_PLANES, 64)
    expected = [
        sum(1 << p for p, plane in enumerate(planes) if float(np.dot(row, plane)) >= 0) for row in mat
    ]
    codes = similarity._bucket_code(mat, similarity._hyperplanes(similarity.NUM_PLANES, 64))
    assert codes.tolist() == expected and expected[0] == (1 << 16) - 1


def test_lsh_bucket_is_deterministic(spark, embeddings):
    a = similarity.with_lsh_bucket(embeddings).select("vec_id", "bucket")
    b = similarity.with_lsh_bucket(embeddings).select("vec_id", "bucket")
    assert a.exceptAll(b).count() == 0


def test_neardup_threshold(spark, embeddings):
    out = similarity.embedding_neardup_pairs(embeddings, threshold=0.4).collect()
    assert all(r.cosine_sim >= 0.4 for r in out)
    assert all(r.id_a < r.id_b for r in out)


def test_pairwise_cosine_multi_chunk_ids_exact(spark, embeddings):
    """Regression (round 7): with a block side larger than one GEMM row
    chunk, the p!=q branch emitted chunk-LOCAL a-indices without the
    chunk offset, mislabeling id_a for every match beyond the first
    chunk — invisible at sf<=0.1 (blocks fit one 2048-row chunk), caught
    by the sf3 subset oracle (5.7k wrong pairs of 9.1k). Force many
    chunks with chunk=16 and verify every (id_a, id_b, cosine) triple
    against numpy brute force."""
    import numpy as np

    pdf = embeddings.toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    unit = mat / np.linalg.norm(mat, axis=1)[:, None]
    sims = unit @ unit.T
    iu, ju = np.triu_indices(len(ids), k=1)
    # the operator rounds cosine to 6 dp BEFORE the >= threshold filter
    # (documented boundary semantics); build the expected set under the
    # same round-then-compare rule so a pair with raw sim in
    # [0.2999995, 0.3) can't appear on one side only
    mask = np.round(sims[iu, ju], 6) >= 0.3
    lo = np.minimum(ids[iu[mask]], ids[ju[mask]])
    hi = np.maximum(ids[iu[mask]], ids[ju[mask]])
    expected = {
        (int(a), int(b)): float(s)
        for a, b, s in zip(lo, hi, sims[iu[mask], ju[mask]])
    }
    got = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in similarity.pairwise_cosine_pairs(
            embeddings, threshold=0.3, num_blocks=4, chunk=16
        ).collect()
    }
    assert set(got) == set(expected)
    assert all(abs(got[p] - expected[p]) < 1e-6 for p in got)


def test_lsh_neardup_subset_of_exact(spark, embeddings):
    """LSH-candidate near-dup must be a SUBSET of the exact all-pairs
    result (rerank is exact, candidates can only miss, never invent),
    with identical cosine values on the shared pairs, and must find a
    non-trivial fraction of them on this corpus."""
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in similarity.embedding_neardup_pairs(
            embeddings, threshold=0.4
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in similarity.lsh_neardup_pairs(embeddings, threshold=0.4).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(abs(lsh[p] - exact[p]) < 1e-9 for p in lsh)
    # Recall at the operator's OPERATING POINT: 32x16-bit banding
    # recalls ~0.94 of true near-dups (cos >= 0.9) while pairs hovering
    # at the 0.4 boundary recall ~2% BY DESIGN — the wide bands are what
    # keep candidates sub-quadratic (see the NEARDUP_PLANES comment; the
    # 4x4-bit and 8x8-bit configs recalled more boundary pairs and went
    # quadratic at sf1/sf3 respectively). This corpus has no true
    # near-dups, so recall is asserted on injected near-copies in
    # test_lsh_neardup_finds_injected_near_copy below.


def test_lsh_neardup_finds_injected_near_copy(spark, embeddings):
    """True near-dups (the pairs the operator exists for) must be
    recalled: inject near-copies (cos ~0.999) of 20 corpus vectors and
    require >= 90% of them back."""
    import numpy as np

    pdf = embeddings.toPandas().sort_values("vec_id").head(20)
    rng = np.random.default_rng(7)
    rows = []
    for _, r in pdf.iterrows():
        v = np.asarray(r.embedding, dtype="float64")
        v = v + 0.02 * rng.normal(size=len(v))
        rows.append((int(r.vec_id) + 1_000_000, [float(x) for x in v]))
    injected = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = embeddings.select("vec_id", "embedding").unionByName(injected)
    got = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_neardup_pairs(corpus, threshold=0.9).collect()
    }
    want = {(int(r.vec_id), int(r.vec_id) + 1_000_000) for _, r in pdf.iterrows()}
    assert len(got & want) >= 18


def test_ivf_recall_vs_brute_force(spark, embeddings):
    """IVF with nprobe=4/16 scores ~25% of the corpus; on this
    random/near-orthogonal data k-means lists are weak, but recall must
    still beat the 25% a random same-size candidate subset gives."""
    qs = embeddings.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(embeddings, qs, k=5).collect()
    approx = similarity.ivf_topk(embeddings, qs, k=5).collect()
    exact_set = {(r.query_id, r.nbr_id) for r in exact}
    approx_set = {(r.query_id, r.nbr_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"IVF recall {recall:.2f} not above random baseline"
    assert all(r.rank <= 5 for r in approx)


def test_topk_degenerate_query_inputs(spark, embeddings):
    """Advisor r12: an empty query set must return an empty frame (not
    crash in np.stack), and duplicate query_id rows must not produce
    duplicate scored rows under the fused single-pass shape."""
    empty = embeddings.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert similarity.lsh_topk(embeddings, empty, k=5).count() == 0
    assert similarity.ivf_topk(embeddings, empty, k=5).count() == 0

    one = embeddings.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    doubled = one.unionAll(one)
    for topk in (similarity.brute_force_topk, similarity.lsh_topk):
        base = topk(embeddings, one, k=5).collect()
        dup = topk(embeddings, doubled, k=5).collect()
        assert sorted(map(tuple, dup)) == sorted(map(tuple, base))


@pytest.mark.parametrize(
    "topk", [similarity.brute_force_topk, similarity.lsh_topk, similarity.ivf_topk]
)
def test_topk_empty_query_set_keeps_result_columns(spark, embeddings, topk):
    """An empty query set returns no rows and the columns of a non-empty
    result (``rank`` included), from each of the three top-k paths."""
    qs = embeddings.select(F.col("vec_id").alias("query_id"), "embedding")
    empty = topk(embeddings, qs.limit(0), k=5)
    assert empty.count() == 0
    assert empty.columns == topk(embeddings, qs.limit(2), k=5).columns
