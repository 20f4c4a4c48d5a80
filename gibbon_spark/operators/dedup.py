"""Deduplication operators for LLM data pipelines (north-star additions):

- exact dedup: hash-groupBy on a normalized fingerprint;
- n-gram Jaccard: exact set similarity via shingle inverted-index join;
- MinHash + LSH: the 100 TB path — constant-size signatures, banded
  bucket join, no all-pairs comparison;
- SimHash: 60-bit simhash with banded hamming join (4×15-bit chunks).

Hash-function choice: md5 (via ``F.md5``) keyed by a seed prefix. md5 is
available with identical semantics in Spark and DuckDB, which makes every
operator here *bit-deterministic across engines* — the DuckDB oracle can
replay the exact same MinHash/SimHash computation, so even the
probabilistic operators get full value-hash correctness checks (most
LSH implementations can only be rows-checked).

MinHash variant: "min of k independent hashes", taking the lexicographic
min of the hex digest per seed — any total order over a uniform hash
family yields the classic unbiased Jaccard estimator.

Scale notes: exact Jaccard runs through PREFIX FILTERING
(:func:`jaccard_pairs_prefix` — lossless, hot shingles structurally
excluded from the join index); the naive inverted-index join
(:func:`jaccard_pairs`) is kept only as the semantics reference and is
quadratic in hot shingles. The LSH band join shuffles each doc k/r
times by band key and meets only true candidates — that is the
operator to run when approximate candidates are acceptable at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gibbon_spark.functions.text import fingerprint, tokens
from gibbon_spark.materialize import materialize
from gibbon_spark.session import pin_shuffle_partitions

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group by normalized-text fingerprint; one row per distinct content
    with the representative (min id) and copy count. ``dropDuplicates``
    semantics, but keeps the evidence columns. One shuffle on the hash."""
    return (
        docs.withColumn("content_hash", fingerprint(text_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("representative"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-id representative per content hash (deterministic,
    unlike dropDuplicates which keeps an arbitrary row)."""
    w_hash = fingerprint(text_col)
    tagged = docs.withColumn("content_hash", w_hash)
    reps = tagged.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return tagged.join(reps, ["content_hash", id_col], "inner").drop("content_hash")


# ---------------------------------------------------------------------------
# Shingles + exact n-gram Jaccard
# ---------------------------------------------------------------------------


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams as an array column."""
    toks = tokens(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def shingle_table(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) inverted-index rows, distinct per doc.

    Formulated as posexplode + lead() over a per-doc window instead of
    the equivalent array expression ``transform(sequence, i ->
    concat_ws(slice(toks, i, n)))``: higher-order array functions
    evaluate interpreted (CodegenFallback) and slice-per-position is
    O(len²) per doc, measured ~25× slower than this whole-stage-codegen
    window at sf0.1. Costs one extra shuffle on doc id — bounded,
    shingle rows ≈ tokens, and the downstream groupBy/join reuses the
    clustering. Semantics (incl. short docs: a single shingle of
    whatever tokens exist) match the oracle's slice-based SQL exactly."""
    toks = tokens(text_col)
    base = docs.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    nexts = [F.lead("tok", i).over(w) for i in range(1, n)]
    shingle = F.concat_ws(" ", F.col("tok"), *nexts)  # skips trailing nulls
    keep = (
        nexts[-1].isNotNull() | (F.col("pos") == 0) if nexts else F.lit(True)
    )
    return (
        base.select("id", shingle.alias("shingle"), keep.alias("keep"))
        .filter("keep")
        .select("id", "shingle")
        .distinct()
    )


def _verify_elem(sh: DataFrame) -> Column:
    """Element expression for the per-doc verify arrays (r12): shingle
    STRINGS carry ~25 B each and array_intersect hashes every string
    per candidate pair — the verify joins ship GBs of array payload for
    an |∩| that only needs element IDENTITY. xxhash64(shingle) is an
    8-byte element whose array_intersect is exact WHENEVER the hash is
    injective on this corpus's distinct-shingle vocabulary, which one
    vocabulary-sized aggregate proves per run (exact by proof, not by
    probability: any 64-bit collision between distinct shingles falls
    back to the string path, which is always exact). Interleaved A/B on
    dedup_containment's verify at sf0.1: min 4.42 → 2.66 s, wins every
    rep, identical 512 pairs. At very large vocabularies (≈1e12
    distinct shingles) a collision becomes likely (~3%) and the
    fallback simply keeps the exact slower path — correctness is
    data-independent. The isEmpty() probe is one tiny action over the
    already-checkpointed shingle table; its cost is O(vocabulary) (a
    full distinct-shingle aggregate), paid eagerly even if the caller
    never consumes the operator's result. ``sh`` must be a
    ``materialize``d table, so the probe and the verify arrays read the
    same shingles."""
    injective = (
        sh.groupBy(F.xxhash64("shingle").alias("h"))
        .agg(F.count_distinct("shingle").alias("d"))
        .filter(F.col("d") > 1)
        .isEmpty()
    )
    return F.xxhash64("shingle") if injective else F.col("shingle")


def jaccard_pairs_prefix(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold via PREFIX FILTERING — the
    lossless scale path (AllPairs/PPJoin family, Bayardo et al. WWW'07;
    Xiao et al. WWW'08).

    Order every doc's shingles by global document frequency (rarest
    first, shingle text as tiebreak). For Jaccard ≥ t, a pair must share
    ≥ ⌈t·|A|⌉ shingles, so the smallest shared shingle (in that global
    order) sits within the first ``|A| − ⌈t·|A|⌉ + 1`` shingles of BOTH
    docs — index only those prefixes and no qualifying pair is lost.
    The boilerplate shingle that detonates the naive inverted-index
    join ("all rights reserved …", df ≈ corpus size) sorts LAST and
    never enters the index, so hot-key quadratic blowup is structurally
    impossible unless a doc consists mostly of boilerplate (and then
    its prefix is still ≤ (1−t)·|doc| rows). Candidates then get exact
    |∩| from the full inverted index restricted to candidate pairs —
    every join keyed, no block replication. Results are IDENTICAL to
    the naive all-pairs join; only the plan changes.

    The size-ratio prune (t·|A| ≤ |B| ≤ |A|/t, applied inside the
    candidate join) is also exact: |∩| ≤ min, |∪| ≥ max, so
    J ≤ min/max < t for any pair outside the band.
    """
    t = float(threshold)
    # The shingle subtree (scan → tokenize → posexplode → lead window →
    # distinct) feeds FIVE consumers below: df table, prefix build, and
    # both sides of the verify join. Without a materialization Spark
    # replays the whole subtree per consumer (ReuseExchange doesn't fire
    # — each use projects/filters differently). localCheckpoint stores
    # the computed partitions as raw blocks at first use and truncates
    # lineage. Interleaved A/B at sf0.1 (fresh DFs, one session, 4
    # pairs): dedup_containment min 7.2 s → 5.7 s with every ON rep
    # under the OFF median; dedup_ngram_jaccard within noise on min
    # (3.5 vs 3.7) but the ON spread tightens 3.5-9.8 → 3.7-5.8.
    # (.persist(MEMORY_AND_DISK) was tried first and was 3× WORSE than
    # no cache at all — the columnar cache build + lost whole-stage
    # pipelining cost more than the four recomputes.) Cluster tradeoff:
    # truncated lineage means a lost executor can't recompute these
    # blocks — materialize() routes this site (and every other shared
    # subtree) to a durable DataFrame.checkpoint when
    # spark.gibbon.checkpoint.mode=reliable (docs/API.md "Deploying at
    # 100 TB"); the table is ~tokens-sized, linear.
    sh = shingle_table(docs, id_col=id_col, text_col=text_col, n=n).transform(materialize, eager=False)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_pos = Window.partitionBy("id").orderBy("df", "shingle")
    w_doc = Window.partitionBy("id")
    # the −1e-9 keeps float ceil() from overshooting the exact product
    # (ceil(0.7·20) must be 14, not 15) — overshoot would SHORTEN the
    # prefix and lose pairs; undershoot only widens it (still lossless).
    min_overlap = F.ceil(F.lit(t) * F.col("n_sh") - F.lit(1e-9))
    prefix = (
        sh.join(freq, "shingle")
        .withColumn("pos", F.row_number().over(w_pos))
        .withColumn("n_sh", F.count(F.lit(1)).over(w_doc))
        .filter(F.col("pos") <= F.col("n_sh") - min_overlap + 1)
        .select("id", "shingle", "n_sh", "pos")
    )
    # PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2; r12, guide
    # §3.2 "reduce the big side before shuffling"): J(A,B) >= t implies
    # |∩| >= α = ⌈t·(|A|+|B|)/(1+t)⌉, and for a shared prefix shingle
    # at rarity-order positions (pA, pB) the overlap is bounded by
    # 1 + min(|A|−pA, |B|−pB) — everything shared must sit at or after
    # the first shared shingle in BOTH docs' global orderings. Pairs
    # whose bound can't reach α are pruned BEFORE the distinct and the
    # verify join. Lossless: a qualifying pair always survives via its
    # first shared shingle row, where the bound is >= the true |∩|.
    # α is computed in exact integer arithmetic (t as parts-per-million;
    # floor((x + d − 1) / d) = ceil(x/d) for positive ints). Measured at
    # sf0.1: candidates 310k → 125k, verify-stage output identical
    # (256 pairs), full-operator interleaved A/B min 5.07 → 3.09 s.
    _t_ppm = int(round(t * 1_000_000))
    _alpha_x = F.lit(_t_ppm) * (F.col("a.n_sh") + F.col("b.n_sh"))
    _alpha_d = 1_000_000 + _t_ppm
    _alpha = F.floor((_alpha_x + F.lit(_alpha_d - 1)) / F.lit(_alpha_d))
    _pos_ub = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.pos"), F.col("b.n_sh") - F.col("b.pos")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a.n_sh"), F.col("b.n_sh"))
                >= F.ceil(
                    F.lit(t) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
                    - F.lit(1e-9)
                )
            )
            & (_pos_ub >= _alpha),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .distinct()
    )
    # Exact-|∩| verify on per-doc shingle ARRAYS (r12): the old verify
    # re-exploded the inverted index under the candidates — cand ⋈ sh_a
    # ⋈ sh_b materialized Σ_cand |A| rows (measured 50M rows for 810k
    # candidates at sf0.1) into a giant pair-keyed count. Joining each
    # candidate to the two docs' collected shingle arrays instead and
    # taking size(array_intersect(...)) computes the same |∩| (arrays
    # are the docs' DISTINCT shingle sets, so set-semantics intersect
    # is exact) with pair-count-sized joins — interleaved A/B at sf0.1
    # won every rep (min 6.0 vs 7.6 s full-query, tails 10 vs 45 s).
    # arrs groups the checkpointed sh without a shuffle (id-clustered);
    # per-row memory is bounded by the largest doc's shingle set, the
    # same class as the source text column itself (~3x text bytes).
    # Elements are injectivity-checked xxhash64 ids (see _verify_elem).
    arrs = sh.groupBy("id").agg(F.collect_list(_verify_elem(sh)).alias("_arr"))
    out = (
        cand.join(
            arrs.select(F.col("id").alias("id_a"), F.col("_arr").alias("_arr_a")),
            "id_a",
        )
        .join(
            arrs.select(F.col("id").alias("id_b"), F.col("_arr").alias("_arr_b")),
            "id_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("_arr_a", "_arr_b")))
        .drop("_arr_a", "_arr_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
    )
    # Integer-exact threshold: n_inter/(n_a+n_b-n_inter) >= t compared in
    # integers (t in parts-per-million). The prefix only guarantees pairs
    # whose UNROUNDED ratio >= t; filtering on round(j, 6) >= t could admit
    # a pair in [t - 5e-7, t) that the prefix never generated (reachable
    # only past ~2M distinct shingles/doc, but exactness is free here).
    t_ppm = int(round(t * 1_000_000))
    return out.filter(
        F.col("n_inter") * F.lit(1_000_000)
        >= F.lit(t_ppm) * (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    ).select("id_a", "id_b", "jaccard")


def containment_pairs_prefix(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs ≥ threshold (Broder containment
    C(A→B) = |S(A)∩S(B)| / |S(A)|) via the ASYMMETRIC prefix filter.

    Containment is the dedup signal Jaccard misses: a short document
    fully quoted inside a much longer one has Jaccard ≈ |A|/|B| (tiny)
    but containment 1.0 — and MinHash-LSH, which recalls by Jaccard,
    structurally cannot find such pairs. The asymmetric prefix filter
    can, losslessly: if C(A→B) ≥ t then A shares ≥ ⌈t·|A|⌉ shingles
    with B, so at least one shared shingle lies among A's first
    |A| − ⌈t·|A|⌉ + 1 shingles in global rarest-first order. Probing
    the FULL index with only that prefix of the contained side finds
    every qualifying pair; results are identical to the naive
    all-pairs join (the oracle).

    Scale posture: the probe side carries only each doc's RAREST
    shingles (bounded by (1−t)·|doc|+1 rows), so hot boilerplate
    shingles never enter the probe; posting-list blowup on the index
    side is bounded by df(rarest probe shingle). The exact-intersection
    verify joins candidates back to the inverted index keyed on
    (id, shingle) — every shuffle keyed, no replication."""
    t = float(threshold)
    # Same five-consumer reuse as jaccard_pairs_prefix (see the measured
    # rationale there): materialize the shingle subtree once — freq,
    # the positioned table, and both verify sides read the checkpointed
    # blocks.
    sh = shingle_table(docs, id_col=id_col, text_col=text_col, n=n).transform(materialize, eager=False)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_pos = Window.partitionBy("id").orderBy("df", "shingle")
    w_doc = Window.partitionBy("id")
    # −1e-9 guard as in jaccard_pairs_prefix: float ceil() must not
    # overshoot (a shorter prefix would lose pairs)
    min_shared = F.ceil(F.lit(t) * F.col("n_sh") - F.lit(1e-9))
    # ONE positioned table feeds both join sides (r13). The r12 shape
    # positioned only the probe and gave the index side its own count
    # window; r12's rejected positional-filter attempt then re-paid the
    # freq join + rank window on the FULL index side. Sharing the
    # positioned table gets index-side positions for free — the index's
    # old count window is replaced by this rank+count window over the
    # same exchange, and the probe is now a filter of the same
    # checkpointed frame instead of its own window pass.
    pos_tbl = (
        sh.join(freq, "shingle")
        .withColumn("pos", F.row_number().over(w_pos))
        .withColumn("n_sh", F.count(F.lit(1)).over(w_doc))
        .select("id", "shingle", "pos", "n_sh")
        .transform(materialize, eager=False)
    )
    probe = pos_tbl.filter(F.col("pos") <= F.col("n_sh") - min_shared + 1)
    # Asymmetric positional filter (r13, guide §3.4; the containment
    # twin of jaccard's PPJoin filter): for C(A→B) ≥ t the pair needs
    # |∩| ≥ α = ⌈t·|A|⌉, and every shared shingle sorts at or after the
    # FIRST shared shingle in the global (df, shingle) order — in both
    # docs — so a join row at positions (pA, pB) bounds the achievable
    # overlap by 1 + min(|A|−pA, |B|−pB). A qualifying pair always
    # survives via its first-shared-shingle row (where the bound ≥ the
    # true |∩|), so pruning rows below α is lossless. α in exact integer
    # arithmetic (t as parts-per-million, ⌈x/d⌉ = ⌊(x+d−1)/d⌋ for
    # positive ints). Measured at sf0.1: candidates 809,749 → 660,346
    # (−18%), identical 512 pairs, full-query interleaved A/B min
    # 2.12 → 1.88 s winning every rep.
    _t_ppm = int(round(t * 1_000_000))
    _alpha = F.floor(
        (F.lit(_t_ppm) * F.col("a.n_sh") + F.lit(999_999)) / F.lit(1_000_000)
    )
    _pos_ub = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.pos"), F.col("b.n_sh") - F.col("b.pos")
    )
    # The index side keeps the exact size prune: C(A→B) >= t implies
    # |∩| >= ⌈t·|A|⌉ and |∩| <= |B|, so any container with
    # |B| < ⌈t·|A|⌉ cannot qualify — pruned BEFORE the verify join.
    cand = (
        probe.alias("a")
        .join(
            pos_tbl.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") != F.col("b.id"))
            & (
                F.col("b.n_sh")
                >= F.ceil(F.lit(t) * F.col("a.n_sh") - F.lit(1e-9))
            )
            & (_pos_ub >= _alpha),
        )
        .select(
            F.col("a.id").alias("id_contained"),
            F.col("b.id").alias("id_container"),
            F.col("a.n_sh").alias("n_contained"),
            F.col("b.n_sh").alias("n_container"),
        )
        .distinct()
    )
    # Integer-exact threshold (same reasoning as jaccard_pairs_prefix):
    # the prefix guarantees candidates with UNROUNDED C >= t, so the final
    # filter must not use round(C, 6) — a ratio in [t - 5e-7, t) that
    # rounds up would pass a rounded filter without ever being generated.
    t_ppm = int(round(t * 1_000_000))
    # per-doc-array verify, same rationale and exactness argument as
    # jaccard_pairs_prefix (r12): size(array_intersect) over the two
    # docs' distinct-shingle arrays replaces the 50M-row re-explosion.
    # Elements are injectivity-checked xxhash64 ids (see _verify_elem).
    arrs = sh.groupBy("id").agg(F.collect_list(_verify_elem(sh)).alias("_arr"))
    out = (
        cand.join(
            arrs.select(
                F.col("id").alias("id_contained"), F.col("_arr").alias("_arr_a")
            ),
            "id_contained",
        )
        .join(
            arrs.select(
                F.col("id").alias("id_container"), F.col("_arr").alias("_arr_b")
            ),
            "id_container",
        )
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("_arr_a", "_arr_b")).cast("long"),
        )
        .drop("_arr_a", "_arr_b")
        .withColumn(
            "containment", F.round(F.col("n_inter") / F.col("n_contained"), 6)
        )
        .filter(
            F.col("n_inter") * F.lit(1_000_000)
            >= F.lit(t_ppm) * F.col("n_contained")
        )
        .select(
            "id_contained",
            "id_container",
            "n_inter",
            "n_contained",
            "n_container",
            "containment",
        )
    )
    return out


def jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing ≥1 shingle — the
    NAIVE inverted-index join, kept as the semantics reference.

    Explodes on hot shingles (quadratic in the hottest posting list);
    use :func:`jaccard_pairs_prefix` for the same exact results with a
    prefix-filtered index, or :func:`minhash_lsh_pairs` when
    approximate candidates are acceptable.
    """
    sh = shingle_table(docs, id_col=id_col, text_col=text_col, n=n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
    )
    # integer-exact threshold, identical to jaccard_pairs_prefix
    t_ppm = int(round(float(threshold) * 1_000_000))
    return out.filter(
        F.col("n_inter") * F.lit(1_000_000)
        >= F.lit(t_ppm) * (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    ).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """k MinHash components per doc: for seed i, min over shingles of
    md5(i || ':' || shingle) (lexicographic min of hex digests). One
    explode + one groupBy; signature size is O(k) regardless of doc size."""
    sh = shingle_table(docs, id_col=id_col, text_col=text_col, n=n)
    # The k md5s per shingle row are CPU-bound, but they evaluate in the
    # partial-agg stage right after shingle_table's distinct exchange —
    # whose width AQE coalesces by BYTE size (~64 MB advisory), blind to
    # downstream CPU cost. A small corpus then hashes on 1-3 tasks while
    # the rest of the cluster idles. Repartitioning by id to the
    # session's declared shuffle width (explicit numPartitions => AQE
    # leaves it alone) pins the hash stage wide; the groupBy(id) reuses
    # the partitioning, so no extra exchange follows. Cost: one shuffle
    # of the (id, shingle) table — bytes-bound, trivial next to k md5s
    # per row. On a real cluster shuffle.partitions is sized to the
    # fleet, so the same rule holds at 100 TB.
    width = int(sh.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = sh.repartition(width, "id")
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def _banded(sigs: DataFrame, *, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig, band, key) rows: each doc emits `bands` rows keyed by
    (band_idx, md5-of-band-slice) — the LSH bucket key."""
    r = num_hashes // bands
    assert r * bands == num_hashes, "bands must divide num_hashes"
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(num_hashes)])
    return sigs.select(
        F.col("id"),
        sig_arr.alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col(f"sig_{b * r + j}") for j in range(r)]
                            )
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _est_jaccard(num_hashes: int) -> Column:
    """Fraction of equal signature components between sig_a and sig_b
    (the unbiased Jaccard estimate)."""
    return F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(float(num_hashes))


def _rejoin_sigs_est(
    cand: DataFrame,
    sigs_a: DataFrame,
    *,
    sigs_b: DataFrame | None = None,
    num_hashes: int,
) -> DataFrame:
    """Hydrate deduped (id_a, id_b) candidates with their signatures
    (two keyed joins against the O(docs)-row signature tables) and emit
    the component-equality Jaccard estimate."""
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(num_hashes)])
    sa = sigs_a.select(F.col("id").alias("id_a"), sig_arr.alias("sig_a"))
    sb = (sigs_b if sigs_b is not None else sigs_a).select(
        F.col("id").alias("id_b"), sig_arr.alias("sig_b")
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(_est_jaccard(num_hashes), 6).alias("est_jaccard"),
        )
    )


# Default hot-band cap for the REGISTERED MinHash-LSH queries. Picked
# from lsh_band_stats measurements (round 4): the driver-shaped corpora
# top out at bucket size 4 (sf0.1, 5k docs) and the generated scale
# corpora at 38 (sf3, 150k docs), so 64 preserves every candidate pair
# on real-shaped data through sf3 (pairs_cut_at_64 == 0 at every scale)
# while bounding the band self-join at O(n*bands*64) under adversarial
# duplication skew — the hot-band quadratic cannot occur. The identical
# count-per-(band,key) filter is emitted into every generated oracle
# SQL, so capped queries stay oracle-exact by construction.
LSH_MAX_BUCKET = 64


def _cap_buckets(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    """HOT-BAND mitigation: drop band buckets with more than
    ``max_bucket`` members before the self-join.

    MinHash signatures ride the corpus's hottest shingles by definition
    of min(), so a boilerplate shingle that is the global minimum for a
    hash seed collects every doc containing it into ONE bucket — the
    sf3 scale gate measured the resulting band join going quadratic at
    high duplication skew (SCALE.md). Candidates from a giant bucket
    add no dedup precision (doc groups that large are caught by the
    exact-hash dedup pass first), and the cap bounds the band join at
    O(n·bands·max_bucket). Deterministic and SQL-replayable (count per
    (band, key), filter), so a capped query can still be oracle-exact.
    The registered queries run with ``max_bucket=LSH_MAX_BUCKET``;
    ``None`` disables the cap."""
    if max_bucket is None:
        return banded
    # r12 (guide §2.4 "two operations keyed the same way can share one
    # exchange"): the cap used a (band, key) aggregate joined back onto
    # the band rows — an extra pass over the band table. A window count
    # over (band, key) computes the same per-bucket size in one pass
    # AND leaves the rows hash-partitioned by exactly the band join's
    # key, so the self-join downstream reuses the exchange. Interleaved
    # A/B on dedup_minhash_lsh at sf0.1: min 2.86 → 2.31 s, identical
    # 256 pairs. Bucket sizes are bounded (that is this function's
    # job), so the window never sees an unbounded partition... except
    # on the pre-cap table — bounded in turn by the hottest bucket,
    # the same row set the old aggregate had to group anyway.
    w = Window.partitionBy("band", "key")
    return (
        banded.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature (bands × rows_per_band = num_hashes); docs
    sharing any full band become candidates. est_sim = fraction of equal
    signature components (the unbiased Jaccard estimate).

    Shuffle profile at scale: each doc emits `bands` rows keyed by
    (band_idx, band_hash) carrying the ID ONLY — the O(k·32B) signature
    payload would otherwise ride every band row, the join, and the
    pair dedup (k/r× the bytes for zero information; the id→sig map is
    joined back once on the deduped pairs instead). Join meets only
    same-bucket docs; pass ``max_bucket`` to also skip hot buckets
    (see :func:`_cap_buckets`) when the corpus has heavy duplication
    skew. No O(n²)."""
    # Materialize the signature table once. The plan references it up
    # to 6x (cap size profile, both self-join sides, two rejoin
    # probes); Catalyst's ReuseExchange covers the SYMMETRIC self-join
    # case (A/B at sf0.1/sf1: checkpoint neutral here), but NOT the
    # asymmetric cross variant below, where the union-of-both-sides
    # size profile perturbs every subtree — measured 10x at sf3
    # (dedup_incremental 21 s with checkpoint, 215 s without).
    # Checkpointing both variants keeps the two code paths identical
    # in shape and costs one small O(docs·k·32B) materialization.
    sigs = sigs.transform(materialize, eager=True)
    banded = _cap_buckets(
        _banded(sigs, num_hashes=num_hashes, bands=bands).select(
            "id", "band", "key"
        ),
        max_bucket,
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _rejoin_sigs_est(cand, sigs, num_hashes=num_hashes)


def lsh_candidate_pairs_cross(
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates BETWEEN two signature sets — the incremental-dedup
    join: ``sigs_a`` is the incoming batch, ``sigs_b`` the standing
    corpus index. Asymmetric on purpose (no ``id <`` constraint, no
    within-set pairs): every (incoming, index) bucket collision is a
    candidate, so an incoming doc is flagged even when its twin has a
    smaller id. At scale the incoming side is a day's crawl and the
    index side a pre-computed signature table — the band join touches
    only colliding buckets; the full corpus text is never re-shingled.
    Band rows carry ids only (see lsh_candidate_pairs); signatures
    rejoin on the deduped pairs.

    ``max_bucket`` caps hot band buckets by the COMBINED
    (incoming + index) member count per (band, key) — the blowup is
    |A_bucket|x|B_bucket|, so the hot-bucket notion spans both sides,
    and the combined count is what the oracle SQL (which bands the
    whole corpus before the split filter) naturally replays."""
    # Materialize both signature tables once — see lsh_candidate_pairs.
    # Decisive HERE: each side feeds its banding, the combined
    # (union-of-sides) size profile, and a rejoin probe, and the
    # asymmetric subtrees defeat ReuseExchange — measured 21 s -> 215 s
    # at sf3 without the checkpoints.
    sigs_a = sigs_a.transform(materialize, eager=True)
    sigs_b = sigs_b.transform(materialize, eager=True)
    a = _banded(sigs_a, num_hashes=num_hashes, bands=bands).select(
        "id", "band", "key"
    )
    b = _banded(sigs_b, num_hashes=num_hashes, bands=bands).select(
        "id", "band", "key"
    )
    if max_bucket is not None:
        # r12: same one-pass window cap as _cap_buckets, applied to the
        # COMBINED count — union the two sides with a side marker,
        # window-count per (band, key), then split back. One exchange
        # of the union (which also pre-partitions both join sides by
        # the band join key) instead of an aggregate + two join-backs.
        w = Window.partitionBy("band", "key")
        u = (
            a.withColumn("_side", F.lit("a"))
            .unionByName(b.withColumn("_side", F.lit("b")))
            .withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
        )
        a = u.filter(F.col("_side") == "a").drop("_bn", "_side")
        b = u.filter(F.col("_side") == "b").drop("_bn", "_side")
    a, b = a.alias("a"), b.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _rejoin_sigs_est(cand, sigs_a, sigs_b=sigs_b, num_hashes=num_hashes)


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_est: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    sigs = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes
    )
    pairs = lsh_candidate_pairs(
        sigs, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket
    )
    return pairs.filter(F.col("est_jaccard") >= min_est)


def lsh_band_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    size_thresholds: Sequence[int] = (4, 16, 64),
) -> DataFrame:
    """Per-band profile of LSH bucket sizes — the telemetry a 100-TB
    operator reads to pick ``max_bucket`` from data instead of a
    constant (the band-join cost is sum over buckets of s*(s-1)/2, and
    this query shows exactly how much of that pair mass the largest
    buckets carry).

    One row per band: bucket count, singleton count, max size, total
    candidate pairs the band join would materialize, and for each
    threshold t in ``size_thresholds`` the number of pairs that a
    ``max_bucket=t`` cap would eliminate. All integer-exact (BIGINT
    sums of s*(s-1)/2), so the DuckDB oracle replays it bit-for-bit.

    Scale posture: signatures are O(docs); the profile is two hash
    aggregations (docs*bands band rows -> bucket sizes -> per-band
    rollup). No joins, no quadratic term — safe to run on the full
    corpus BEFORE committing to a cap."""
    sigs = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes
    )
    sizes = (
        _banded(sigs, num_hashes=num_hashes, bands=bands)
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    # integer DIV, not float /: exact for any bucket size (a double
    # round-trip would round above 2^53 pair counts)
    pairs = F.expr("s * (s - 1) DIV 2").cast("bigint")
    aggs = [
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n_singleton"),
        F.max("s").alias("max_size"),
        F.sum(pairs).alias("total_pairs"),
    ]
    for t in size_thresholds:
        aggs.append(
            F.sum(F.when(F.col("s") > t, pairs).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"pairs_cut_at_{t}")
        )
    return sizes.groupBy("band").agg(*aggs).orderBy("band")


# ---------------------------------------------------------------------------
# SimHash (60-bit over 3-gram shingles, md5-nibble construction shared
# with the SQL oracle)
# ---------------------------------------------------------------------------

# 60 bits / 4 chunks of 15 bits — the near-dup config of Manku et al.
# (WWW'07: 64-bit simhash, hamming <= 3), trimmed to 60 bits so the
# combined value and every chunk shift stay inside SIGNED 64-bit range on
# both engines (DuckDB's BIGINT xor/bit_count take signed args).
# Chunk width is the scale lever: a RANDOM (non-dup) pair collides in a
# chunk with prob 2^-width, and the banded join materializes every
# colliding pair, so candidates ~ CHUNKS * n^2 / 2^width. The first cut
# used 32 bits / 8-bit chunks — fine at 5k docs, but 4*n^2/512 made the
# sf1 scale gate flag it at 50k docs (measured 31x on 10x data);
# 15-bit chunks put the same corpus at ~76k candidates. The pigeonhole
# guarantee (hamming <= CHUNKS-1 leaves >= 1 intact chunk) is unchanged.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 4 chunks × 15 bits


def _hexval_sql(char_expr: str) -> str:
    """SQL for hex-digit value 0-15 — valid in both Spark SQL and DuckDB."""
    return (
        f"(CASE WHEN {char_expr} BETWEEN '0' AND '9' "
        f"THEN ascii({char_expr}) - 48 ELSE ascii({char_expr}) - 87 END)"
    )


def simhash_nibble_cols(
    hash_expr: str = "h", bits: int = SIMHASH_BITS
) -> list[str]:
    """SQL exprs (dialect-portable: substr/ascii/CASE) for the integer
    value 0-15 of each leading hex char of the hash. Hoisted into a
    projection ONCE per row so the per-bit vote terms below are plain
    integer ops — inlining the char decode into all 32 aggregate terms
    would re-evaluate substr+ascii 32× per row (common-subexpression
    elimination does not span separate aggregate expressions)."""
    return [
        _hexval_sql(f"substr({hash_expr}, {i + 1}, 1)")
        for i in range(bits // 4)
    ]


def simhash_bit_terms(
    nibble_prefix: str = "n", bits: int = SIMHASH_BITS
) -> list[str]:
    """SQL sum-terms (one per bit, MSB first), each counting +1/-1 per
    token by the corresponding bit of the pre-projected nibble columns
    (``{prefix}0`` … — see :func:`simhash_nibble_cols`). Identical
    strings run in Spark and in the DuckDB oracle.

    Hashed over shingles (not raw tokens): shingle sets separate
    non-duplicate docs far better than token sets. 60 bits keeps
    birthday collisions negligible for millions of docs while the
    combine still fits comfortably in a signed 64-bit int."""
    terms = []
    for bit in range(bits):
        mask = 8 >> (bit % 4)
        v = f"{nibble_prefix}{bit // 4}"
        terms.append(f"sum(CASE WHEN ({v} & {mask}) <> 0 THEN 1 ELSE -1 END)")
    return terms


def simhash_combine_sql(term_cols: Sequence[str]) -> str:
    """Combine per-bit vote sums (MSB first) into the simhash integer."""
    bits = len(term_cols)
    parts = [
        f"(CASE WHEN {c} >= 0 THEN {1 << (bits - 1 - i)} ELSE 0 END)"
        for i, c in enumerate(term_cols)
    ]
    return "(" + " + ".join(parts) + ")"


def simhash(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, simhash) — majority vote per bit over distinct n-gram shingles."""
    tok = shingle_table(docs, id_col=id_col, text_col=text_col, n=n).select(
        "id", F.md5("shingle").alias("h")
    )
    nibs = tok.select(
        "id",
        *[
            F.expr(e).alias(f"n{i}")
            for i, e in enumerate(simhash_nibble_cols("h"))
        ],
    )
    agg = nibs.groupBy("id").agg(
        *[F.expr(t).alias(f"b{i}") for i, t in enumerate(simhash_bit_terms())]
    )
    combine = simhash_combine_sql([f"b{i}" for i in range(SIMHASH_BITS)])
    return agg.select("id", F.expr(combine).cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming.

    Banded join, not all-pairs: the 60-bit hash splits into 4 chunks of
    15 bits; hamming ≤ 3 flips bits in at most 3 chunks, so every true
    pair shares at least one intact chunk (pigeonhole) — join on
    (chunk_idx, chunk_val), then verify with bit_count(xor). Each row
    emits 4 band rows, and a random non-dup pair only meets with prob
    4/2^15 — the constant that keeps the band join sub-quadratic
    (measured: the 8-bit-chunk variant went 31x on 10x data at sf1).

    The pigeonhole guarantee only holds for ``max_hamming <=
    SIMHASH_CHUNKS - 1``: at hamming = CHUNKS every chunk can carry one
    flipped bit and a true pair may share NO intact chunk, so the banded
    join silently under-recalls (per-chunk chance collision is 2^-15 —
    negligible, not a guarantee). Manku et al. (WWW'07) derive chunks =
    max_hamming + 1 for exactly this reason; rather than silently
    widening the banding we reject the unsupported radius."""
    if max_hamming > SIMHASH_CHUNKS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"the {SIMHASH_CHUNKS}-chunk banding (supports max_hamming <= "
            f"{SIMHASH_CHUNKS - 1}); pairs beyond that would be silently "
            "missed. Use a chunk count of max_hamming + 1 (Manku WWW'07)."
        )
    bits_per_chunk = SIMHASH_BITS // SIMHASH_CHUNKS
    chunk_mask = (1 << bits_per_chunk) - 1
    # r12 (guide §2.1 shared subtrees): the banded self-join references
    # the simhash table on BOTH sides, and the broadcast build side
    # replayed the whole 60-term aggregate + shingle window a second
    # time. The table is O(docs) rows of (id, long) — materialize it
    # once; interleaved A/B at sf0.1: min 2.49 → 1.68 s, wins every
    # rep, identical 135 pairs.
    sh = simhash(docs, id_col=id_col, text_col=text_col, n=n).transform(
        materialize, eager=True
    )
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * bits_per_chunk)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ck"),
    ).select("id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# Connected components (near-dup cluster formation)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 15,
) -> DataFrame:
    """Distributed connected components by min-label propagation:
    ``(node, component)`` where component = min node id reachable.

    LSH emits pairwise candidates, but dedup needs *clusters* — A~B and
    B~C must put A,B,C in one group even though (A,C) was never emitted.
    Each round: every node takes the min of its own label and its
    neighbors' labels (one join + one min-aggregate, both shuffles on
    node id); converges in O(cluster diameter) rounds — near-dup
    clusters are shallow (diameter ≤ ~3), so this is 3-4 rounds, NOT
    O(n). ``localCheckpoint`` truncates the growing lineage each round
    (the standard guard against plan-explosion in iterative DataFrame
    algorithms). Stops early at a fixpoint: when no label changed.
    """
    # persist the edge input FIRST: sym reads it twice (both directions),
    # and without the cache the upstream plan (e.g. the whole MinHash-LSH
    # pipeline) would execute twice.
    edges = edges.select(id_a, id_b).persist()
    # Size the loop's parallelism from the edge COUNT, not the upstream
    # partition count: the LSH pipeline leaves its cache partitioning
    # (e.g. 64 partitions for a few hundred pairs), and every round then
    # schedules 64-task stages whose task overhead dwarfs the work
    # (measured ~3 s/round for 512 rows). ~100k edges per partition
    # keeps tiny graphs single-task and 1e9-edge graphs at 10k tasks.
    n_edges = edges.count()
    parts = int(max(1, min(4096, (n_edges + 99_999) // 100_000)))
    sym = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    # coalesce can only DOWNSIZE; when the computed width exceeds the
    # upstream cache's partition count (the 1e9-edge case), pay one
    # shuffle up front so the first union pass and initial label scan
    # run at full width too — not just the post-shuffle rounds.
    if parts > sym.rdd.getNumPartitions():
        sym = sym.repartition(parts)
    else:
        sym = sym.coalesce(parts)
    sym = sym.persist()
    labels = (
        sym.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .transform(materialize, eager=True)
    )
    # Size the loop's shuffles from the materialized edge table, not the
    # session's spark.sql.shuffle.partitions: the label state is O(nodes
    # in the pair graph), so a vanilla 200-partition session would
    # schedule 200-task stages per round for what is usually a tiny
    # frame, and localCheckpoint pins partitioning before AQE can
    # coalesce. sym's partition count is already data-proportional
    # (AQE sized it when the cache materialized).
    with pin_shuffle_partitions(edges.sparkSession, parts):
        labels = _cc_loop(sym, labels, max_iter)
    sym.unpersist()
    edges.unpersist()
    return labels.select("node", F.col("label").alias("component"))


def _cc_loop(sym: DataFrame, labels: DataFrame, max_iter: int) -> DataFrame:
    # The convergence check rides the label aggregation itself: self rows
    # carry their old label in a second column, so after the min-agg each
    # node holds (new, old) and "did anything change" is a filter+count
    # on the already-materialized checkpoint — no extra join job per
    # round (the previous new⋈old comparison join roughly doubled
    # per-round wall time).
    label_dt = labels.schema["label"].dataType
    for _ in range(max_iter):
        prop = sym.join(labels, sym.dst == labels.node).select(
            F.col("src").alias("node"),
            "label",
            F.lit(None).cast(label_dt).alias("self_label"),
        )
        new_labels = (
            labels.select("node", "label", F.col("label").alias("self_label"))
            .unionByName(prop)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min("self_label").alias("old_label"),
            )
            .transform(materialize, eager=True)
        )
        changed = (
            new_labels.filter(F.col("label") != F.col("old_label"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels
