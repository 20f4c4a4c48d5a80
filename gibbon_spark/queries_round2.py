"""Round-2 registry additions — incremental-maintenance, statistics,
indexing, drift, streaming-join, and semantic-dedup operators.

Same contract as :mod:`gibbon_spark.queries`: every entry pairs a Spark
DataFrame plan with a DuckDB oracle that replays the identical
arithmetic (decimal-exact sums, +1e-9 half-boundary nudge, identical
aliases), so the driver's value-hash compare is deterministic at any
parallelism.

Reference scope note: the reference (johshoff/gibbon) is a time-series
codec library (``src/timestamp_stream.rs``, ``src/double_stream.rs``);
none of these operators exist there. They are part of the requested
engine surface beyond the reference — SURVEY.md §2.2 categories
(aggregations, streaming, LLM-pipeline dedup/similarity/text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gibbon_spark.functions import text as tx
from gibbon_spark.functions.exact import money4, money4_sql, money_sum, money_sum_sql
from gibbon_spark.queries import (
    _finite_replay,
    _replay_parts,
    _events_stream,
    _prep,
    _replay_width,
    query,
)
from gibbon_spark.streaming.joins import stream_interval_join
from gibbon_spark.materialize import materialize

# =========================================================================
# Incremental materialized-view maintenance (partial-aggregate merge)
# =========================================================================

_MV_CUTOFF = "2001-01-01 00:00:00"


@query(
    "mv_incremental_refresh",
    f"""
    SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
           count(*) AS n_orders,
           {money_sum_sql("o_totalprice")} AS revenue
    FROM orders
    GROUP BY 1
    """,
)
def q_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the daily-revenue MV is
    maintained as MERGEABLE partial aggregates (count + exact decimal
    sum), so refreshing after new data lands costs one pass over the
    DELTA plus a merge keyed on the (tiny) day frame — never a full
    recompute. Here the base (< cutoff) and the delta (>= cutoff) are
    pre-aggregated independently and merged; the oracle IS the full
    recompute, proving merge(base_partial, delta_partial) == full. At
    100 TB this is the difference between an O(delta) nightly refresh
    and an O(corpus) one; correctness rests on count/decimal-sum being
    associative-commutative monoids, which the decimal (not double) sum
    guarantees (money_sum discipline)."""
    (orders,) = _prep(spark, sf_dir, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(money4(F.col("o_totalprice"))).alias("ps"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("pn").alias("n_orders"),
            F.round(F.sum("ps"), 2).cast("double").alias("revenue"),
        )
    )


# =========================================================================
# Correlation / covariance matrix from exact decimal moments
# =========================================================================

_CORR_VARS = {"qty": "l_quantity", "price": "l_extendedprice", "disc": "l_discount"}
_CORR_PAIRS = [("qty", "price"), ("qty", "disc"), ("price", "disc")]


def _corr_matrix_oracle_sql() -> str:
    def dec(expr: str) -> str:
        return f"CAST(round(({expr}) + 1e-9, 4) AS DECIMAL(18,4))"

    def r4(expr: str) -> str:
        return f"round(({expr}) + 1e-9, 4)"

    def decprod(a: str, b: str) -> str:
        # product quantized in DOUBLE space (identical IEEE bits on both
        # engines), then summed as decimal — decimal*decimal overflows
        # DuckDB's multiply width at this precision
        return f"CAST(round({r4(a)} * {r4(b)} + 1e-9, 8) AS DECIMAL(30,8))"

    sums = ["count(*) AS n"]
    for k, c in _CORR_VARS.items():
        sums.append(f"sum({dec(c)}) AS s_{k}")
        sums.append(f"sum({decprod(c, c)}) AS ss_{k}")
    for a, b in _CORR_PAIRS:
        sums.append(
            f"sum({decprod(_CORR_VARS[a], _CORR_VARS[b])}) AS sp_{a}_{b}"
        )
    arms = []
    for a, b in _CORR_PAIRS:
        cov_n = (
            f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        var = (
            "(CAST(n AS DOUBLE) * CAST(ss_{v} AS DOUBLE)"
            " - CAST(s_{v} AS DOUBLE) * CAST(s_{v} AS DOUBLE))"
        )
        arms.append(
            f"SELECT '{a}_{b}' AS pair, n, "
            f"round({cov_n} / sqrt({var.format(v=a)} * {var.format(v=b)}) + 1e-9, 6)"
            f" AS corr, "
            f"round({cov_n} / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) + 1e-9, 4)"
            f" AS cov_pop FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(arms)
        + "\nORDER BY pair"
    )


@query("corr_matrix_lineitem", _corr_matrix_oracle_sql())
def q_corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance matrix over the
    lineitem measures, computed from exact decimal moments (n, Σx, Σx²,
    Σxy with per-row values 4-dp-quantized) in ONE aggregate pass — the
    textbook one-pass moment formulation, association-order-free because
    the sums are decimal. Built-in corr()/covar_pop() accumulate doubles
    whose pairing differs between engines and runs; this form is
    bit-reproducible (decimal moments → one deterministic double
    expression per pair, IEEE sqrt/divide are correctly rounded). Scale
    shape: map-side partial moments, a single 1-row frame, expression
    fan-out to 3 rows — no second scan per pair. The 9 decimal
    quantizations per row are CPU-bound and a small parquet file scans
    1-3 tasks wide, so when the scan is narrower than the session's
    declared width the pruned 3-column frame repartitions first and the
    moment pass uses the whole machine (measured 4-8 s -> 1.3-2 s at
    sf0.1; at 100 TB the scan is already wide and the guard no-ops)."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    li = li.select(*_CORR_VARS.values())
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if li.rdd.getNumPartitions() < width:
        li = li.repartition(width)

    def dec(c: str):
        return F.round(F.col(c) + F.lit(1e-9), 4).cast("decimal(18,4)")

    def r4(c: str):
        return F.round(F.col(c) + F.lit(1e-9), 4)

    def decprod(a: str, b: str):
        return F.round(r4(a) * r4(b) + F.lit(1e-9), 8).cast("decimal(30,8)")

    aggs = [F.count(F.lit(1)).alias("n")]
    for k, c in _CORR_VARS.items():
        aggs.append(F.sum(dec(c)).alias(f"s_{k}"))
        aggs.append(F.sum(decprod(c, c)).alias(f"ss_{k}"))
    for a, b in _CORR_PAIRS:
        aggs.append(
            F.sum(decprod(_CORR_VARS[a], _CORR_VARS[b])).alias(f"sp_{a}_{b}")
        )
    s = li.agg(*aggs)

    nd = F.col("n").cast("double")

    def d(name: str):
        return F.col(name).cast("double")

    arms = []
    for a, b in _CORR_PAIRS:
        cov_n = nd * d(f"sp_{a}_{b}") - d(f"s_{a}") * d(f"s_{b}")
        var_a = nd * d(f"ss_{a}") - d(f"s_{a}") * d(f"s_{a}")
        var_b = nd * d(f"ss_{b}") - d(f"s_{b}") * d(f"s_{b}")
        arms.append(
            F.struct(
                F.lit(f"{a}_{b}").alias("pair"),
                F.round(cov_n / F.sqrt(var_a * var_b) + F.lit(1e-9), 6).alias(
                    "corr"
                ),
                F.round(cov_n / (nd * nd) + F.lit(1e-9), 4).alias("cov_pop"),
            )
        )
    return (
        s.select("n", F.explode(F.array(*arms)).alias("r"))
        .select(F.col("r.pair").alias("pair"), "n", "r.corr", "r.cov_pop")
        .orderBy("pair")
    )


# =========================================================================
# Deterministic per-group reservoir sampling
# =========================================================================


@query(
    "sample_reservoir_per_group",
    """
    WITH h AS (
      SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents
    )
    SELECT lang, rk, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
      FROM h
    ) WHERE rk <= 8
    """,
)
def q_sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-per-group sample with reservoir semantics but NO RNG
    state: rank by md5(doc_id) within each group and keep the first k.
    The md5 order is a uniform permutation, membership is reproducible
    on any engine/cluster size, and the plan is one keyed shuffle whose
    per-task state Spark's WindowGroupLimit caps at k rows per group
    BEFORE the final sort — the scalable replacement for
    driver-side reservoir loops."""
    (docs,) = _prep(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        docs.select(
            "lang", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hk")
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 8)
        .select("lang", "rk", "doc_id")
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
# Stream-stream interval join (availableNow replay vs batch oracle)
# =========================================================================


@query(
    "streaming_interval_join",
    """
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p
    JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join replayed with availableNow and
    checked against the batch oracle: purchases matched to same-user
    clicks within the preceding 10 minutes. Both streams carry a
    10-minute watermark and the join condition bounds event time on
    both sides (streaming/joins.py), so state per key is O(rows within
    the horizon) — the only shape under which a stream-stream join can
    run indefinitely. Inner-join matches are emitted as they occur
    (watermarks gate state EVICTION, not inner-join output), so the
    replay's final table equals the batch join exactly, whatever the
    micro-batching. The reference has no streaming join (synchronous
    single writer, examples/csv_to_packed.rs:23-27); SURVEY §2.2
    streaming category."""
    s1 = _events_stream(spark, sf_dir)
    s2 = _events_stream(spark, sf_dir)
    # withWatermark requires TIMESTAMP (LTZ); the parquet stores NTZ.
    # _events_stream pins the session tz to UTC, so the cast is value-preserving.
    purchases = s1.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    clicks = s2.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    joined = stream_interval_join(
        purchases, clicks, on=["user_id"], within="10 minutes"
    ).select(
        "user_id", "purchase_id", F.col("click_id_right").alias("click_id")
    )
    with _replay_width(spark, _replay_parts(spark, sf_dir)):
        out = _finite_replay(spark, joined, mode="append")
    return out


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
# Window distribution functions (ntile / percent_rank / cume_dist / lead)
# =========================================================================


@query(
    "window_distribution_gallery",
    """
    SELECT o_orderkey, o_orderpriority,
           ntile(4) OVER w AS price_quartile,
           round(percent_rank() OVER w + 1e-9, 8) AS pct_rank,
           round(cume_dist() OVER w + 1e-9, 8) AS cume,
           round(lead(o_totalprice, 1, -1.0) OVER w + 1e-9, 2) AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_distribution_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-family window functions in one spec: ntile quartile,
    percent_rank, cume_dist, and lead-with-default, partitioned by order
    priority. The ORDER BY carries the unique o_orderkey tiebreak, so
    rank-derived ratios are deterministic (percent_rank/cume_dist are
    exact integer ratios — identical IEEE doubles on both engines). One
    window shuffle on a bounded-cardinality key; all four functions ride
    the same sort."""
    (orders,) = _prep(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w) + F.lit(1e-9), 8).alias("pct_rank"),
        F.round(F.cume_dist().over(w) + F.lit(1e-9), 8).alias("cume"),
        F.round(F.lead("o_totalprice", 1, -1.0).over(w) + F.lit(1e-9), 2).alias(
            "next_price"
        ),
    )


# =========================================================================
# Equi-depth binning via broadcast quantile boundaries
# =========================================================================


@query(
    "equi_depth_bins",
    f"""
    WITH b AS (
      SELECT quantile_cont(o_totalprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
      FROM orders
    )
    SELECT len(list_filter(b.bs, x -> x <= o_totalprice)) AS bucket,
           count(*) AS n,
           round(min(o_totalprice) + 1e-9, 2) AS min_price,
           round(max(o_totalprice) + 1e-9, 2) AS max_price,
           {money_sum_sql("o_totalprice")} AS sum_price
    FROM orders, b
    GROUP BY 1 ORDER BY 1
    """,
)
def q_equi_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) binning by BROADCAST BOUNDARIES: compute the
    9 interior decile boundaries once, ship them to every task, assign
    each row map-side by counting boundaries <= value, then aggregate
    per bin — the standard two-phase histogram that replaces a global
    sort/ntile (whose single-partition window cannot scale). Boundary
    computation here is Spark's exact interpolated percentile (matches
    DuckDB quantile_cont bit-for-bit; one holistic reduce over the
    numeric column — at 100 TB swap in approx_percentile's t-digest,
    same plan shape, as percentiles_by_group_approx demonstrates). The
    assignment pass is pure codegen expressions; one aggregate shuffle
    of 10 groups."""
    (orders,) = _prep(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.expr(
            "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("bs")
    )
    bucket = F.size(
        F.filter(F.col("bs"), lambda x: x <= F.col("o_totalprice"))
    ).alias("bucket")
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select("o_totalprice", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice") + F.lit(1e-9), 2).alias("min_price"),
            F.round(F.max("o_totalprice") + F.lit(1e-9), 2).alias("max_price"),
            money_sum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy("bucket")
    )


# =========================================================================
# Stream-static enrichment join (availableNow replay vs batch oracle)
# =========================================================================


@query(
    "streaming_static_enrich",
    f"""
    SELECT c.c_mktsegment, count(*) AS n_events,
           {money_sum_sql("e.value")} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static ENRICHMENT join: the event stream joins a static
    dimension (customer) micro-batch by micro-batch — the standard
    pattern for decorating a firehose with slowly-changing reference
    data. The dim side is a bounded batch DataFrame, so Spark
    broadcasts it into every micro-batch (no stream state at all,
    unlike stream-stream joins); the rollup then aggregates in complete
    mode and the availableNow replay's final table hash-matches the
    batch join oracle. At 100 TB/day the same plan holds: the stream
    shuffles only for the final aggregate, the dim re-broadcasts per
    trigger (refreshable without restart)."""
    from gibbon_spark.sources.tables import load_table

    s = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = s.join(
        F.broadcast(cust), s.user_id == cust.c_custkey, "inner"
    )
    rolled = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum(F.col("value")).alias("sum_value"),
    )
    with _replay_width(spark, _replay_parts(spark, sf_dir)):
        out = _finite_replay(spark, rolled, mode="complete")
    return out


# =========================================================================
# k-NN graph construction over LSH candidates
# =========================================================================


def _knn_graph_oracle_sql(k: int = 3) -> str:
    from gibbon_spark.operators import similarity
    from gibbon_spark.queries_llm import _COSINE_SQL, _lsh_band_exprs

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
# Global running total without a whole-frame window
# =========================================================================


@query(
    "running_total_orders",
    f"""
    SELECT o_orderkey, o_orderdate,
           CAST(round(sum({money4_sql("o_totalprice")}) OVER (ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_revenue
    FROM orders
    """,
)
def q_running_total_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global cumulative revenue in (orderdate, orderkey) order — the
    oracle's single ``sum() OVER (ORDER BY ...)`` window, reproduced
    with NO whole-frame window via operators.ranking.global_running_sum
    (repartitionByRange → per-partition running sums → P-row broadcast
    offsets). The decimal value column makes the two-level association
    order irrelevant, so the result is bit-identical to the serial
    scan at any partition count — the pattern that keeps ordered
    analytics alive at 10^10 rows where a global window dies on one
    task."""
    from gibbon_spark.operators.ranking import global_running_sum

    (orders,) = _prep(spark, sf_dir, "orders")
    val = money4(F.col("o_totalprice"))
    out = global_running_sum(
        orders.select("o_orderkey", "o_orderdate", "o_totalprice"),
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        val,
        out_col="_run",
    )
    return out.select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("_run"), 2).cast("double").alias("running_revenue"),
    )


# =========================================================================
# Higher-order array functions gallery
# =========================================================================


@query(
    "array_hof_gallery",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           round(list_reduce(v, (a, b) -> a + b) + 1e-9, 6) AS sum_fold,
           round(list_reduce(list_transform(v, x -> abs(x)), (a, b) -> a + b)
                 + 1e-9, 6) AS l1_norm,
           len(list_filter(v, x -> x > 0)) AS n_pos,
           round(list_max(v) + 1e-9, 6) AS max_v,
           round(list_reduce(list_transform(range(1, len(v) + 1),
                                            i -> v[i] * v[len(v) - i + 1]),
                             (a, b) -> a + b) + 1e-9, 6) AS rev_dot
    FROM e
    """,
)
def q_array_hof_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions in one pass over the embedding
    column: aggregate (left fold — same association order as DuckDB's
    list_reduce, so the doubles are bit-identical), transform+fold (L1
    norm), filter+size, array_max, and zip_with against the reversed
    vector (a self-convolution term). All pure codegen expressions —
    the vector math stays JVM-side with zero shuffles; the scan is the
    whole plan."""
    (embs,) = _prep(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    zero = F.lit(0.0)
    sum_fold = F.aggregate(v, zero, lambda acc, x: acc + x)
    l1 = F.aggregate(F.transform(v, lambda x: F.abs(x)), zero, lambda a, x: a + x)
    rev_dot = F.aggregate(
        F.zip_with(v, F.reverse(v), lambda x, y: x * y), zero, lambda a, x: a + x
    )
    return embs.select(
        "vec_id",
        F.round(sum_fold + F.lit(1e-9), 6).alias("sum_fold"),
        F.round(l1 + F.lit(1e-9), 6).alias("l1_norm"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max(v) + F.lit(1e-9), 6).alias("max_v"),
        F.round(rev_dot + F.lit(1e-9), 6).alias("rev_dot"),
    )


# =========================================================================
# Changepoint detection: per-series CUSUM alarms
# =========================================================================


@query(
    "ts_cusum_changepoints",
    f"""
    WITH r AS (
      SELECT event_id, user_id, ts,
             {money4_sql("value")} AS r4
      FROM events
    ),
    st AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(r4) AS DOUBLE) AS s,
             CAST(sum(CAST(round(CAST(r4 AS DOUBLE) * CAST(r4 AS DOUBLE)
                                 + 1e-9, 8) AS DECIMAL(30,8))) AS DOUBLE) AS ss
      FROM r GROUP BY user_id
    ),
    dev AS (
      SELECT r.event_id, r.user_id, r.ts,
             CAST(r.r4 AS DOUBLE) - st.s / CAST(st.n AS DOUBLE) AS d,
             sqrt(greatest(st.ss / CAST(st.n AS DOUBLE)
                           - (st.s / CAST(st.n AS DOUBLE))
                             * (st.s / CAST(st.n AS DOUBLE)), 0.0)) AS sigma
      FROM r JOIN st ON r.user_id = st.user_id
    ),
    cu AS (
      SELECT event_id, user_id, ts, sigma,
             sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cusum
      FROM dev
    )
    SELECT user_id, event_id, ts,
           round(cusum + 1e-9, 6) AS cusum,
           round(cusum / sigma + 1e-9, 6) AS cusum_sigmas
    FROM cu
    WHERE abs(cusum) > 3 * sigma AND sigma > 0
    """,
)
def q_ts_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per series: cumulative sum of
    deviations from the series mean, alarming where |CUSUM| exceeds
    3 sigma — the classic Page (1954) drift detector, the streaming-
    monitoring sibling of ts_anomaly_zscore (pointwise) and
    ts_threshold_crossings (level-based). Per-series moments come from
    exact decimal sums (one keyed aggregate, broadcast back); the
    running sum is a per-series ordered window whose sequential
    accumulation order is identical on both engines, so the doubles
    match bit-for-bit. Plan: one aggregate + one keyed window shuffle —
    both on user_id, reusable partitioning, no whole-frame operator."""
    (events,) = _prep(spark, sf_dir, "events")
    r4 = money4(F.col("value"))
    r = events.select("event_id", "user_id", "ts", r4.alias("r4"))
    rd = F.col("r4").cast("double")
    sq = F.round(rd * rd + F.lit(1e-9), 8).cast("decimal(30,8)")
    st = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r4").cast("double").alias("s"),
        F.sum(sq).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n").cast("double")
    sigma = F.sqrt(
        F.greatest(
            F.col("ss") / F.col("n").cast("double") - mean * mean, F.lit(0.0)
        )
    )
    dev = r.join(st, "user_id").select(
        "event_id",
        "user_id",
        "ts",
        (F.col("r4").cast("double") - mean).alias("d"),
        sigma.alias("sigma"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cu = dev.select(
        "event_id", "user_id", "ts", "sigma", F.sum("d").over(w).alias("cusum")
    )
    return cu.filter(
        (F.abs(F.col("cusum")) > 3 * F.col("sigma")) & (F.col("sigma") > 0)
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("cusum") + F.lit(1e-9), 6).alias("cusum"),
        F.round(F.col("cusum") / F.col("sigma") + F.lit(1e-9), 6).alias(
            "cusum_sigmas"
        ),
    )


# =========================================================================
# spark.sql surface: the same engine through ANSI SQL over temp views
# =========================================================================


@query(
    "sql_api_nation_revenue",
    f"""
    SELECT n.n_name,
           count(DISTINCT o.o_custkey) AS n_buyers,
           {money_sum_sql("o.o_totalprice")}
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def q_sql_api_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL facade: this query is executed as a literal
    ``spark.sql`` string over registered temp views — not a DataFrame
    chain — demonstrating that every operator in the engine is equally
    reachable through ANSI SQL (same Catalyst plan either way; the
    oracle is nearly the identical text, modulo DuckDB's cast syntax).
    Users porting warehouse SQL onto this engine use exactly this
    entry point."""
    names = ("orders", "customer", "nation")
    for name, df in zip(names, _prep(spark, sf_dir, *names)):
        df.createOrReplaceTempView(f"gs_{name}")
    return spark.sql(
        f"""
        SELECT n.n_name,
               count(DISTINCT o.o_custkey) AS n_buyers,
               {money_sum_sql("o.o_totalprice")}
                 AS revenue
        FROM gs_orders o
        JOIN gs_customer c ON o.o_custkey = c.c_custkey
        JOIN gs_nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name
        """
    )


# =========================================================================
# Data-quality constraint report (Deequ-style validation)
# =========================================================================


@query(
    "dq_constraint_report",
    """
    WITH pk AS (
      SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys,
             count(o_custkey) AS nn_cust,
             count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS n_nonpos,
             count(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                          OR o_orderdate >= TIMESTAMP '2010-01-01'
                        THEN 1 END) AS n_bad_date
      FROM orders
    ),
    fk AS (
      SELECT count(*) AS n_orphans
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL
    )
    SELECT chk.check_name, chk.observed, chk.threshold,
           CASE WHEN chk.observed <= chk.threshold THEN 'pass'
                ELSE 'fail' END AS status
    FROM (
      SELECT 'pk_unique_orderkey' AS check_name,
             n_rows - n_keys AS observed, 0 AS threshold FROM pk
      UNION ALL
      SELECT 'custkey_not_null', n_rows - nn_cust, 0 FROM pk
      UNION ALL
      SELECT 'totalprice_positive', n_nonpos, 0 FROM pk
      UNION ALL
      SELECT 'orderdate_in_range', n_bad_date, 0 FROM pk
      UNION ALL
      SELECT 'fk_orders_customer', n_orphans, 0 FROM fk
    ) chk
    ORDER BY chk.check_name
    """,
)
def q_dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint validation (the Deequ/Great-Expectations
    pattern): primary-key uniqueness, NOT NULL, value-range, date-range,
    and referential-integrity checks, emitted as one (check, observed,
    threshold, status) report. The four column constraints share ONE
    scan-and-aggregate (conditional counts); the FK check is a left-anti
    count — a keyed join that broadcasts the dim at test SF and
    sort-merges at 100 TB. The report a pipeline gates ingestion on;
    all metrics are exact integer counts, trivially engine-identical."""
    from gibbon_spark.sources.tables import load_table

    (orders,) = _prep(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    # ONE left join + ONE aggregate computes all five metrics (the FK
    # orphan count is a conditional count over the join's null side), so
    # no 1-row × 1-row combine join is needed at the end — a constant-key
    # or cross join there would plan as a nested loop.
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left"
    )
    pk = joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_keys"),
        F.count("o_custkey").alias("nn_cust"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n_nonpos"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2010-01-01").cast("timestamp")),
                1,
            )
        ).alias("n_bad_date"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_orphans"),
    )
    checks = pk.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("pk_unique_orderkey").alias("check_name"),
                    (F.col("n_rows") - F.col("n_keys")).alias("observed"),
                    F.lit(0).cast("long").alias("threshold"),
                ),
                F.struct(
                    F.lit("custkey_not_null").alias("check_name"),
                    (F.col("n_rows") - F.col("nn_cust")).alias("observed"),
                    F.lit(0).cast("long").alias("threshold"),
                ),
                F.struct(
                    F.lit("totalprice_positive").alias("check_name"),
                    F.col("n_nonpos").alias("observed"),
                    F.lit(0).cast("long").alias("threshold"),
                ),
                F.struct(
                    F.lit("orderdate_in_range").alias("check_name"),
                    F.col("n_bad_date").alias("observed"),
                    F.lit(0).cast("long").alias("threshold"),
                ),
                F.struct(
                    F.lit("fk_orders_customer").alias("check_name"),
                    F.col("n_orphans").alias("observed"),
                    F.lit(0).cast("long").alias("threshold"),
                ),
            )
        ).alias("r")
    )
    return (
        checks.select(
            "r.check_name",
            "r.observed",
            "r.threshold",
            F.when(F.col("r.observed") <= F.col("r.threshold"), "pass")
            .otherwise("fail")
            .alias("status"),
        )
        .orderBy("check_name")
    )


# =========================================================================
# Training-data mixture sampling (weighted source quotas)
# =========================================================================


@query(
    "sample_mixture_sources",
    """
    WITH pool AS (
      SELECT source, CAST(substr(source, 4) AS INT) AS src_idx,
             count(*) AS n_pool
      FROM documents GROUP BY source
    ),
    quota1 AS (
      SELECT source, n_pool, 20 - src_idx AS w,
             sum(20 - src_idx) OVER () AS w_sum
      FROM pool
    ),
    quota AS (
      SELECT source, n_pool, w, w_sum,
             min((n_pool * w_sum) // w) OVER () AS n_mix
      FROM quota1
    ),
    q2 AS (
      SELECT source, n_pool, w,
             CAST((w * n_mix) // w_sum AS BIGINT) AS k_quota
      FROM quota
    ),
    ranked AS (
      SELECT d.source, d.doc_id,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                         d.doc_id) AS rk
      FROM documents d
    )
    SELECT q2.source, q2.n_pool, q2.w, q2.k_quota,
           count(CASE WHEN r.rk <= q2.k_quota THEN 1 END) AS n_kept
    FROM q2 JOIN ranked r ON q2.source = r.source
    GROUP BY q2.source, q2.n_pool, q2.w, q2.k_quota
    ORDER BY q2.source
    """,
)
def q_sample_mixture_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data MIXTURE application: given per-source integer
    weights (here w = 20 − source index), compute the largest feasible
    mixture N = min_i floor(n_i·W/w_i), per-source quotas
    k_i = floor(w_i·N/W), and select exactly k_i docs per source by
    md5-rank — the DoReMi-style reweighting step that turns mixture
    weights into an actual deterministic sample. ALL arithmetic is
    integer (exact under any aggregation order — no float share in
    sight), so quotas replay bit-for-bit. Plan: a source-count
    aggregate, two whole-frame windows over the SOURCE frame (bounded
    by the source catalog, ~dozens of rows at any corpus size),
    broadcast back, one ranked window with WindowGroupLimit capping
    per-task state at k."""
    (docs,) = _prep(spark, sf_dir, "documents")
    src_idx = F.substring("source", 4, 10).cast("int")
    pool = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_pool"))
    pool = pool.withColumn("w", F.lit(20) - src_idx)
    w_all = Window.partitionBy()
    # NB: Spark's resolver is case-insensitive — "W" would collide with
    # "w", so the totals get distinct names.
    quota = (
        pool.withColumn("w_sum", F.sum("w").over(w_all))
        .withColumn(
            "n_mix",
            F.min(
                F.floor(F.col("n_pool") * F.col("w_sum") / F.col("w")).cast(
                    "long"
                )
            ).over(w_all),
        )
        .withColumn(
            "k_quota",
            F.floor(F.col("w") * F.col("n_mix") / F.col("w_sum")).cast("long"),
        )
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "source", "doc_id", F.row_number().over(w_rank).alias("rk")
    )
    return (
        quota.select("source", "n_pool", "w", "k_quota")
        .join(ranked, "source")
        .groupBy("source", "n_pool", "w", "k_quota")
        .agg(
            F.count(F.when(F.col("rk") <= F.col("k_quota"), 1)).alias("n_kept")
        )
        .orderBy("source")
    )


# =========================================================================
# Time-weighted average (irregular-sample TSDB aggregate)
# =========================================================================


@query(
    "ts_time_weighted_avg",
    f"""
    WITH w AS (
      SELECT user_id, ts, value,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    seg AS (
      SELECT user_id,
             CAST(date_diff('second', ts, nxt) AS BIGINT) AS dt,
             {money4_sql("value")} AS v4
      FROM w WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_segments,
           CAST(sum(dt) AS BIGINT) AS covered_s,
           round(CAST(sum(v4 * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE)
                 + 1e-9, 6) AS twa
    FROM seg
    WHERE dt > 0
    GROUP BY user_id
    """,
)
def q_ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average per series (TimescaleDB's flagship
    irregular-sample aggregate): each observation holds until the next
    one (LOCF weighting), so the mean is sum(v_i * dt_i) / sum(dt_i) —
    the correct answer when a sensor reports on change, where a plain
    avg() over-weights chatty periods. dt is integer seconds and v is
    4-dp decimal, so the weighted sum is EXACT decimal x integer under
    any aggregation order. One keyed window (lead) + one keyed
    aggregate, both on the series key — at 100 TB they share one
    partitioning."""
    (events,) = _prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        events.select(
            "user_id",
            "ts",
            F.lead("ts").over(w).alias("nxt"),
            money4(F.col("value")).alias("v4"),
        )
        .filter(F.col("nxt").isNotNull())
        .select(
            "user_id",
            "v4",
            (F.unix_timestamp("nxt") - F.unix_timestamp("ts")).alias("dt"),
        )
        .filter(F.col("dt") > 0)
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("dt").alias("covered_s"),
        F.round(
            F.sum(F.col("v4") * F.col("dt")).cast("double")
            / F.sum("dt").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("twa"),
    )


# =========================================================================
# Temporal anti-join: abandonment detection
# =========================================================================


@query(
    "funnel_abandoned_clicks",
    """
    SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts
          AND p.ts <= c.ts + INTERVAL 30 MINUTE
      )
    """,
)
def q_funnel_abandoned_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ANTI-join (the abandonment pattern): clicks with NO
    same-user purchase in the following 30 minutes — the negation
    counterpart of funnel_conversion and streaming_interval_join, and a
    relational shape of its own: LEFT ANTI on an equi key PLUS a range
    conjunct. Spark plans it as a sort-merge anti join on user_id with
    the time predicate evaluated inside the merge — one keyed shuffle
    per side, no nested loop, which is what keeps NOT EXISTS over a
    time window viable at 10^10 events."""
    (events,) = _prep(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (clicks.user_id == purchases.p_user)
        & (purchases.p_ts >= clicks.click_ts)
        & (purchases.p_ts <= clicks.click_ts + F.expr("INTERVAL 30 MINUTES"))
    )
    return clicks.join(purchases, cond, "left_anti").select(
        "user_id", "click_id", "click_ts"
    )


# =========================================================================
# SAX symbolization (symbolic aggregate approximation)
# =========================================================================


@query(
    "ts_sax_words",
    f"""
    WITH r AS (
      SELECT event_id, user_id, ts,
             {money4_sql("value")} AS r4
      FROM events
    ),
    st AS (
      SELECT user_id, count(*) AS n, CAST(sum(r4) AS DOUBLE) AS s,
             CAST(sum(CAST(round(CAST(r4 AS DOUBLE) * CAST(r4 AS DOUBLE)
                                 + 1e-9, 8) AS DECIMAL(30,8))) AS DOUBLE) AS ss
      FROM r GROUP BY user_id
    ),
    z AS (
      SELECT r.user_id,
             ntile(8) OVER (PARTITION BY r.user_id
                            ORDER BY r.ts, r.event_id) AS segment,
             CAST(round(
               (CAST(r.r4 AS DOUBLE) - st.s / CAST(st.n AS DOUBLE))
               / sqrt(greatest(st.ss / CAST(st.n AS DOUBLE)
                               - (st.s / CAST(st.n AS DOUBLE))
                                 * (st.s / CAST(st.n AS DOUBLE)), 1e-12))
               + 1e-9, 6) AS DECIMAL(20,6)) AS z6
      FROM r JOIN st ON r.user_id = st.user_id
    ),
    seg AS (
      SELECT user_id, segment,
             CAST(sum(z6) AS DOUBLE) / count(*) AS seg_mean
      FROM z GROUP BY user_id, segment
    ),
    sym AS (
      SELECT user_id, segment,
             CASE WHEN seg_mean < -0.6745 THEN 'a'
                  WHEN seg_mean < 0.0     THEN 'b'
                  WHEN seg_mean < 0.6745  THEN 'c'
                  ELSE 'd' END AS symbol
      FROM seg
    )
    SELECT user_id, string_agg(symbol, '' ORDER BY segment) AS sax_word
    FROM sym GROUP BY user_id
    """,
)
def q_ts_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin et al. 2003): z-normalize each series
    from exact decimal moments, PAA into 8 equal-count segments
    (ntile over the ordered series), map each segment mean onto the
    4-letter Gaussian-breakpoint alphabet, and emit the per-series SAX
    word — the discretization behind motif discovery and symbolic
    indexing of time series. Per-row z-scores are 6-dp-quantized
    decimals so segment means are association-order-free; breakpoint
    comparison and letter assignment are then deterministic on both
    engines. Two keyed shuffles (stats, window+segment agg) — both on
    the series key."""
    (events,) = _prep(spark, sf_dir, "events")
    r4 = money4(F.col("value"))
    r = events.select("event_id", "user_id", "ts", r4.alias("r4"))
    rd = F.col("r4").cast("double")
    sq = F.round(rd * rd + F.lit(1e-9), 8).cast("decimal(30,8)")
    st = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r4").cast("double").alias("s"),
        F.sum(sq).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n").cast("double")
    var = F.greatest(
        F.col("ss") / F.col("n").cast("double") - mean * mean, F.lit(1e-12)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    z = r.join(st, "user_id").select(
        "user_id",
        F.ntile(8).over(w).alias("segment"),
        F.round(
            (F.col("r4").cast("double") - mean) / F.sqrt(var) + F.lit(1e-9), 6
        )
        .cast("decimal(20,6)")
        .alias("z6"),
    )
    seg = z.groupBy("user_id", "segment").agg(
        (F.sum("z6").cast("double") / F.count(F.lit(1))).alias("seg_mean")
    )
    symbol = (
        F.when(F.col("seg_mean") < -0.6745, "a")
        .when(F.col("seg_mean") < 0.0, "b")
        .when(F.col("seg_mean") < 0.6745, "c")
        .otherwise("d")
    )
    return (
        seg.select("user_id", "segment", symbol.alias("symbol"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("segment", "symbol"))
                    ),
                    lambda x: x.getField("symbol"),
                ),
                "",
            ).alias("sax_word")
        )
    )


# =========================================================================
# Market-basket co-occurrence (apriori-pruned pair mining)
# =========================================================================

_BASKET_MIN_SUPPORT = 3


@query(
    "basket_part_pairs",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    freq AS (
      SELECT part, count(*) AS part_n FROM items GROUP BY part
      HAVING count(*) >= {_BASKET_MIN_SUPPORT}
    ),
    fitems AS (
      SELECT i.okey, i.part, f.part_n FROM items i JOIN freq f USING (part)
    ),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b,
             a.part_n AS n_a, b.part_n AS n_b,
             count(*) AS support
      FROM fitems a JOIN fitems b
        ON a.okey = b.okey AND a.part < b.part
      GROUP BY a.part, b.part, a.part_n, b.part_n
      HAVING count(*) >= {_BASKET_MIN_SUPPORT}
    ),
    tot AS (SELECT count(DISTINCT okey) AS n_orders FROM items)
    SELECT part_a, part_b, support,
           round(CAST(support AS DOUBLE) * CAST(t.n_orders AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) + 1e-9, 6)
             AS lift
    FROM pairs, tot t
    ORDER BY support DESC, part_a, part_b
    LIMIT 50
    """,
)
def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining with APRIORI pruning: parts
    co-purchased in the same order, restricted to items that are
    individually frequent BEFORE the self-join (the apriori property:
    no pair can beat the support floor if either member misses it), so
    the pair join runs on the pruned item table — the pruning is what
    keeps co-occurrence mining feasible when a popular item appears in
    10^8 baskets. Emits support and lift (= support x N / (n_a x n_b),
    exact integer ratios). One basket aggregate, per-basket pair
    generation (no self-join), one frequency aggregate, and a 1-row
    total broadcast; the apriori prune is applied as the inner freq
    join on both endpoints — same pair set, support counts unchanged."""
    (li,) = _prep(spark, sf_dir, "lineitem")
    # r12 (guide §2.3 "aggregate before you shuffle" / §2.4 "remove
    # shuffles outright"): the okey self-join enumerated each basket's
    # pairs by shuffling the item table twice and joining — but a
    # basket is small (TPC-H ≤ 7 distinct parts), so the ordered pairs
    # can be generated INSIDE each basket row from its sorted distinct
    # part set and partially aggregated map-side before one (part_a,
    # part_b) shuffle. Same pair multiset: sorted distinct parts give
    # exactly the a.part < b.part combinations, and support (= orders
    # containing both parts) is unchanged by moving the apriori freq
    # prune AFTER the count — a pair with an infrequent endpoint is
    # dropped by the inner freq join either way. Interleaved A/B at
    # sf0.1: min 3.80 s → 1.81 s, new under old's min on every rep.
    # At 100 TB the per-basket expansion is bounded by the basket size
    # (k·(k−1)/2) exactly as the self-join was; a hot basket would hit
    # both forms identically.
    baskets = (
        li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
        )
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("part")).alias("parts"))
        # feeds the pair explode, the freq explode, and the basket
        # total (3 consumers): checkpoint once (dedup.py:150 rationale)
        .transform(materialize, eager=False)
    )
    pairs_arr = F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = (
        baskets.select(F.explode(pairs_arr).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    freq = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("part_n"))
        .filter(F.col("part_n") >= _BASKET_MIN_SUPPORT)
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        pairs.join(
            freq.select(F.col("part").alias("part_a"), F.col("part_n").alias("n_a")),
            "part_a",
        )
        .join(
            freq.select(F.col("part").alias("part_b"), F.col("part_n").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(
                F.col("support").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
                + F.lit(1e-9),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(50)
    )
