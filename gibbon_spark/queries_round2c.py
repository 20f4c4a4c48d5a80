"""Round-2 batch E registry additions — entity resolution, spatial,
robust statistics, forensic audit, segmentation, and hierarchy:

- ``fuzzy_match_partnames``: blocked fuzzy string matching (vocabulary
  collapse + block key + bounded edit distance) — the entity-resolution
  join pattern,
- ``geo_grid_nearest``: grid-bucketed nearest-neighbor spatial join
  (9-cell neighborhood expansion, exact integer distances),
- ``agg_mad_outliers``: robust per-group outlier detection via median
  absolute deviation (median/MAD quantized for engine parity),
- ``benford_digit_audit``: Benford first-digit forensic audit with
  literal expected frequencies and per-digit chi-square terms,
- ``rfm_segments``: RFM (recency/frequency/monetary) customer
  segmentation via broadcast quintile cuts — no global rank window,
- ``recursive_supplier_chain``: WITH RECURSIVE transitive closure over
  a synthetic reporting hierarchy (Spark 4 recursive CTE == DuckDB).

Same contract as :mod:`gibbon_spark.queries`: every Spark plan is
paired with a DuckDB oracle replaying the identical arithmetic, so the
driver's value-hash compare is deterministic at any parallelism.

Reference scope note: the reference (johshoff/gibbon) is a time-series
codec library (``src/timestamp_stream.rs``, ``src/double_stream.rs``);
none of these operators exist there — they are requested engine
surface beyond the reference (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gibbon_spark.functions.exact import money4, money4_sql, money_sum_sql
from gibbon_spark.queries import _prep, query

# =========================================================================
# Blocked fuzzy string matching (entity resolution)
# =========================================================================

_FUZZ_MAX_DIST = 4


@query(
    "fuzzy_match_partnames",
    f"""
    WITH n AS (
      SELECT p_name, count(*) AS cnt, str_split(p_name, ' ')[-1] AS noun
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
           a.cnt AS n_parts_a, b.cnt AS n_parts_b
    FROM n a JOIN n b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZ_MAX_DIST}
    """,
)
def q_fuzzy_match_partnames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching over part names (the entity-resolution /
    fuzzy-dedup join): collapse the corpus to its name vocabulary with
    counts, block on the last token (the product noun), and emit
    vocabulary pairs within Levenshtein distance 4.

    Scale posture: the corpus is collapsed to DISTINCT names FIRST
    (one map-side-combined aggregate), so the quadratic comparison runs
    on vocabulary size, not corpus size — the standard blocking
    discipline. The pair join is keyed on the block token (no cross
    product), and the edit-distance filter is codegen'd inside the join.
    At 100 TB the vocabulary side is broadcast-sized; row counts never
    enter the pairwise stage. Integer distances → hash-exact parity.
    """
    (part,) = _prep(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("noun", F.element_at(F.split("p_name", " "), -1))
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(dist <= _FUZZ_MAX_DIST)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("int").alias("edit_dist"),
            F.col("a.cnt").alias("n_parts_a"),
            F.col("b.cnt").alias("n_parts_b"),
        )
    )


# =========================================================================
# Grid-bucketed nearest-neighbor spatial join
# =========================================================================

_GEO_RANGE = 10000  # coordinate space [0, 10000)
# Grid resolution is DENSITY-ADAPTIVE: g = floor(sqrt(|supplier|)) cells
# per axis, i.e. ~1 supplier per cell and ~9 per 3x3 neighborhood at any
# data size, so candidate pairs stay ~9 x |customer| — LINEAR. (A first
# cut pinned cell=1000 → a fixed 10x10 grid; per-cell density then grows
# with the data and the sf1 scale gate measured the candidate join going
# quadratic. The fixed-grid shape is only correct when the grid tracks
# density.) sqrt is IEEE-correctly-rounded in both engines, so the
# derived cell width is bit-identical and parity holds at every sf.


@query(
    "geo_grid_nearest",
    f"""
    WITH g AS (
      SELECT greatest(CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 1)
               AS cells
      FROM supplier
    ),
    cellw AS (SELECT {_GEO_RANGE} // cells AS w FROM g),
    c AS (
      SELECT c_custkey,
             ('0x' || substr(md5('gx:' || c_custkey), 1, 8))::BIGINT
               % {_GEO_RANGE} AS cx,
             ('0x' || substr(md5('gy:' || c_custkey), 1, 8))::BIGINT
               % {_GEO_RANGE} AS cy
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             ('0x' || substr(md5('sx:' || s_suppkey), 1, 8))::BIGINT
               % {_GEO_RANGE} AS sx,
             ('0x' || substr(md5('sy:' || s_suppkey), 1, 8))::BIGINT
               % {_GEO_RANGE} AS sy
      FROM supplier
    ),
    se AS (
      SELECT s_suppkey, sx, sy,
             sx // cellw.w + dx.dx AS cellx,
             sy // cellw.w + dy.dy AS celly
      FROM s,
           cellw,
           (SELECT unnest([-1, 0, 1]) AS dx) dx,
           (SELECT unnest([-1, 0, 1]) AS dy) dy
    ),
    cand AS (
      SELECT c.c_custkey, se.s_suppkey,
             (c.cx - se.sx) * (c.cx - se.sx)
               + (c.cy - se.sy) * (c.cy - se.sy) AS d2
      FROM c CROSS JOIN cellw JOIN se
        ON c.cx // cellw.w = se.cellx AND c.cy // cellw.w = se.celly
    ),
    m AS (
      SELECT c_custkey, min(d2) AS min_d2, count(*) AS n_candidates
      FROM cand GROUP BY c_custkey
    )
    SELECT m.c_custkey,
           min(cand.s_suppkey) AS nearest_suppkey,
           m.min_d2 AS dist_sq,
           m.n_candidates
    FROM cand
    JOIN m ON cand.c_custkey = m.c_custkey AND cand.d2 = m.min_d2
    GROUP BY m.c_custkey, m.min_d2, m.n_candidates
    """,
)
def q_geo_grid_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed nearest-neighbor spatial join: every customer and
    supplier gets a deterministic md5-derived integer coordinate on a
    [0, 10000)^2 plane; suppliers are replicated into their 3x3 cell
    neighborhood (cell width adapts to supplier density); the join is EQUI on the cell key,
    and the nearest supplier per customer is resolved with exact
    integer squared distances (ties broken by min supplier key).

    Scale posture: this is the standard spatial-join shape — a bounded
    constant-factor replication (9x) of the SMALL side buys an
    equi-join in place of an all-pairs distance cross product; the
    planner sees plain hash joins on (cellx, celly). The grid is
    DENSITY-ADAPTIVE (cells per axis = floor(sqrt(|supplier|)), derived
    identically in both engines — see the module comment), so expected
    candidates stay ~9 per customer at any data size; the sf1 scale
    gate caught the earlier fixed 10x10 grid going quadratic.
    Nearest-neighbor resolution is two keyed aggregates (min distance,
    then min key at that distance) — deterministic at any parallelism,
    no window over an unbounded frame. All-integer distance math →
    hash-exact parity. Customers with an empty 3x3 neighborhood are not
    emitted (expected e^-9 ≈ 0.01% of customers; the production pattern
    re-queries those at a coarser grid level).
    """
    import math

    cust, supp = _prep(spark, sf_dir, "customer", "supplier")
    # the same scalar both engines derive: one bounded driver-side count
    n_supp = supp.count()
    cell = _GEO_RANGE // max(int(math.floor(math.sqrt(float(n_supp)))), 1)

    def coord(prefix: str, key: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix), F.col(key).cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % _GEO_RANGE
        )

    c = cust.select(
        "c_custkey",
        coord("gx:", "c_custkey").alias("cx"),
        coord("gy:", "c_custkey").alias("cy"),
    )
    s = supp.select(
        "s_suppkey",
        coord("sx:", "s_suppkey").alias("sx"),
        coord("sy:", "s_suppkey").alias("sy"),
    )
    offsets = F.array(F.lit(-1), F.lit(0), F.lit(1))
    se = (
        s.withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.expr(f"sx DIV {cell}") + F.col("dx")).alias("cellx"),
            (F.expr(f"sy DIV {cell}") + F.col("dy")).alias("celly"),
        )
    )
    cand = (
        c.withColumn("cellx", F.expr(f"cx DIV {cell}"))
        .withColumn("celly", F.expr(f"cy DIV {cell}"))
        .join(se, ["cellx", "celly"])
        .select(
            "c_custkey",
            "s_suppkey",
            (
                (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx"))
                + (F.col("cy") - F.col("sy")) * (F.col("cy") - F.col("sy"))
            ).alias("d2"),
        )
    )
    m = cand.groupBy("c_custkey").agg(
        F.min("d2").alias("min_d2"), F.count(F.lit(1)).alias("n_candidates")
    )
    return (
        cand.join(m, "c_custkey")
        .where(F.col("d2") == F.col("min_d2"))
        .groupBy("c_custkey", "min_d2", "n_candidates")
        .agg(F.min("s_suppkey").alias("nearest_suppkey"))
        .select(
            "c_custkey",
            "nearest_suppkey",
            F.col("min_d2").alias("dist_sq"),
            "n_candidates",
        )
    )


# =========================================================================
# Robust outlier detection: median absolute deviation per group
# =========================================================================

_MAD_K = 3.0  # flag |x - median| > K * MAD


@query(
    "agg_mad_outliers",
    f"""
    WITH m AS (
      SELECT o_orderpriority,
             round(quantile_cont(o_totalprice, 0.5) + 1e-9, 4) AS med_q
      FROM orders GROUP BY o_orderpriority
    ),
    d AS (
      SELECT o.o_orderpriority, m.med_q,
             round(abs(o.o_totalprice - m.med_q) + 1e-9, 4) AS ad
      FROM orders o JOIN m USING (o_orderpriority)
    ),
    md AS (
      SELECT o_orderpriority, med_q,
             round(quantile_cont(ad, 0.5) + 1e-9, 4) AS mad_q
      FROM d GROUP BY o_orderpriority, med_q
    )
    SELECT d.o_orderpriority,
           count(*) AS n_orders,
           md.med_q AS median_price,
           md.mad_q AS mad,
           CAST(sum(CASE WHEN d.ad > {_MAD_K} * md.mad_q THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           round(CAST(sum(CASE WHEN d.ad > {_MAD_K} * md.mad_q
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) + 1e-9, 6) AS outlier_frac
    FROM d JOIN md USING (o_orderpriority)
    GROUP BY d.o_orderpriority, md.med_q, md.mad_q
    """,
)
def q_agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median absolute deviation.
    Per order priority: median price, MAD = median(|x - median|), and
    the count/fraction of orders beyond 3 * MAD — the robust z-score
    screen that, unlike mean/stddev, is immune to the outliers it is
    trying to find.

    Parity discipline: the median and MAD are QUANTIZED (round + 1e-9
    at 4 dp) before reuse so both engines thread bit-identical doubles
    through |x - med| and the 3*MAD comparison — derived values are
    never reused un-rounded (SKILL.md).

    Scale posture: group cardinality is bounded (5 priorities), so the
    holistic medians are safe (the documented approx_percentile twin is
    the unbounded-key path, see percentiles_by_group_approx). The two
    median passes are map-side-pruned scans joined back via BROADCAST
    (5-row build side); no global sort, no unbounded window.
    """
    (orders,) = _prep(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)") + F.lit(1e-9), 4).alias(
            "med_q"
        )
    )
    d = orders.join(F.broadcast(med), "o_orderpriority").withColumn(
        "ad", F.round(F.abs(F.col("o_totalprice") - F.col("med_q")) + F.lit(1e-9), 4)
    )
    mad = d.groupBy("o_orderpriority", "med_q").agg(
        F.round(F.expr("percentile(ad, 0.5)") + F.lit(1e-9), 4).alias("mad_q")
    )
    out_flag = (F.col("ad") > F.lit(_MAD_K) * F.col("mad_q")).cast("long")
    return (
        d.drop("med_q")
        .join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority", "med_q", "mad_q")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(out_flag).alias("n_outliers"),
            F.round(
                F.sum(out_flag).cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 6
            ).alias("outlier_frac"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("med_q").alias("median_price"),
            F.col("mad_q").alias("mad"),
            "n_outliers",
            "outlier_frac",
        )
    )


# =========================================================================
# Benford first-digit forensic audit
# =========================================================================

# log10(1 + 1/d) to 6 dp — public constants, identical literals on both
# engines (no libm call at query time).
_BENFORD = {
    1: 0.301030,
    2: 0.176091,
    3: 0.124939,
    4: 0.096910,
    5: 0.079181,
    6: 0.066947,
    7: 0.057992,
    8: 0.051153,
    9: 0.045757,
}

_BENFORD_CASE_SQL = (
    "CAST(CASE digit "
    + " ".join(f"WHEN '{d}' THEN {p}" for d, p in _BENFORD.items())
    + " END AS DOUBLE)"
)


@query(
    "benford_digit_audit",
    f"""
    WITH in_domain AS (
      SELECT o_totalprice FROM orders WHERE o_totalprice >= 1
    ),
    g AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS digit,
             count(*) AS n_orders
      FROM in_domain GROUP BY 1
    ),
    t AS (SELECT count(*) AS total FROM in_domain)
    SELECT g.digit, g.n_orders,
           round(CAST(g.n_orders AS DOUBLE) / t.total + 1e-9, 6) AS share,
           {_BENFORD_CASE_SQL} AS expected_share,
           round(
             (g.n_orders - ({_BENFORD_CASE_SQL}) * t.total)
               * (g.n_orders - ({_BENFORD_CASE_SQL}) * t.total)
               / (({_BENFORD_CASE_SQL}) * t.total) + 1e-9, 6) AS chi_term
    FROM g, t
    """,
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the forensic
    data-quality screen for fabricated or truncated numeric columns.
    Emits, per leading digit, the observed share, the Benford expected
    share (log10(1+1/d) pinned as 6-dp literals so no engine calls
    libm), and the per-digit chi-square term. The synthetic uniform
    price data FAILS Benford loudly (digits 1-4 overrepresented) —
    which is exactly what the audit is for.

    Scale posture: one map-side-combined count per digit (<= 9 groups),
    one scalar total broadcast into the 9-row frame (allow-listed
    O(1)-row nested loop, same pattern as bm25_search's corpus stats).
    Per-digit chi terms are emitted as rows rather than summed so no
    cross-row float accumulation order exists at all.
    """
    (orders,) = _prep(spark, sf_dir, "orders")
    # Restrict to the Benford domain explicitly (leading digit 1-9): values
    # < 1 would yield digit '0' and negatives '-', both outside _BENFORD,
    # silently emitting NULL expected_share/chi_term rows on a changed
    # price domain. Same predicate in the oracle's in_domain CTE.
    orders = orders.filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    )
    g = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    t = orders.agg(F.count(F.lit(1)).alias("total"))
    expected = F.expr(_BENFORD_CASE_SQL)
    dev = F.col("n_orders") - expected * F.col("total")
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n_orders",
            F.round(
                F.col("n_orders").cast("double") / F.col("total") + F.lit(1e-9), 6
            ).alias("share"),
            expected.alias("expected_share"),
            F.round(dev * dev / (expected * F.col("total")) + F.lit(1e-9), 6).alias(
                "chi_term"
            ),
        )
    )


# =========================================================================
# RFM customer segmentation via broadcast quintile cuts
# =========================================================================

_RFM_ANCHOR = "2001-08-02"  # day after the last order date in the corpus


def _rfm_cut_sql(col: str, q: float) -> str:
    return f"round(quantile_cont({col}, {q}) + 1e-9, 6)"


@query(
    "rfm_segments",
    f"""
    WITH per_cust AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       DATE '{_RFM_ANCHOR}') AS r_days,
             count(*) AS freq,
             {money_sum_sql("o_totalprice")}
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT
        {_rfm_cut_sql("r_days", 0.2)} AS r20, {_rfm_cut_sql("r_days", 0.4)} AS r40,
        {_rfm_cut_sql("r_days", 0.6)} AS r60, {_rfm_cut_sql("r_days", 0.8)} AS r80,
        {_rfm_cut_sql("freq", 0.2)} AS f20, {_rfm_cut_sql("freq", 0.4)} AS f40,
        {_rfm_cut_sql("freq", 0.6)} AS f60, {_rfm_cut_sql("freq", 0.8)} AS f80,
        {_rfm_cut_sql("monetary", 0.2)} AS m20, {_rfm_cut_sql("monetary", 0.4)} AS m40,
        {_rfm_cut_sql("monetary", 0.6)} AS m60, {_rfm_cut_sql("monetary", 0.8)} AS m80
      FROM per_cust
    ),
    scored AS (
      SELECT
        1 + CAST(r_days > r20 AS INT) + CAST(r_days > r40 AS INT)
          + CAST(r_days > r60 AS INT) + CAST(r_days > r80 AS INT) AS r_score,
        1 + CAST(freq > f20 AS INT) + CAST(freq > f40 AS INT)
          + CAST(freq > f60 AS INT) + CAST(freq > f80 AS INT) AS f_score,
        1 + CAST(monetary > m20 AS INT) + CAST(monetary > m40 AS INT)
          + CAST(monetary > m60 AS INT) + CAST(monetary > m80 AS INT) AS m_score,
        monetary
      FROM per_cust, cuts
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           round(CAST(sum({money4_sql("monetary")})
                      AS DOUBLE) / count(*) + 1e-9, 6) AS avg_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer compute Recency (days
    from last order to the corpus anchor date), Frequency (order
    count), Monetary (exact-decimal spend), then score each dimension
    1-5 against its exact quintile cuts and aggregate segment sizes.

    Scale posture: the scoring joins ONE broadcast row of 12 quantized
    cut values against the per-customer frame — the scale-safe
    replacement for a global ntile() window (which would be a
    single-partition sort; see equi_depth_bins for the same
    discipline). The per-customer frame is one keyed aggregate of
    orders; quintile cuts are holistic but computed over the ALREADY
    SHRUNK per-customer frame (|customers| << |orders|); at larger
    scale swap in approx_percentile cuts without changing the scoring
    join. Cuts and monetary are quantized (4/6 dp + 1e-9) before
    comparisons so score boundaries are bit-identical in both engines.
    """
    (orders,) = _prep(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"), F.max("o_orderdate").cast("date")
        ).alias("r_days"),
        F.count(F.lit(1)).alias("freq"),
        F.round(
            F.sum(money4(F.col("o_totalprice"))),
            2,
        ).cast("double").alias("monetary"),
    )
    cut_aggs = []
    for col in ("r_days", "freq", "monetary"):
        for q in (20, 40, 60, 80):
            cut_aggs.append(
                F.round(
                    F.expr(f"percentile({col}, 0.{q})") + F.lit(1e-9), 6
                ).alias(f"{col[0]}{q}")
            )
    cuts = per_cust.agg(*cut_aggs)

    def score(col: str, pfx: str):
        s = F.lit(1)
        for q in (20, 40, 60, 80):
            s = s + (F.col(col) > F.col(f"{pfx}{q}")).cast("int")
        return s

    scored = per_cust.crossJoin(F.broadcast(cuts)).select(
        score("r_days", "r").alias("r_score"),
        score("freq", "f").alias("f_score"),
        score("monetary", "m").alias("m_score"),
        "monetary",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum(money4(F.col("monetary"))).cast("double")
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("avg_monetary"),
    )


# =========================================================================
# Recursive CTE: transitive closure over a synthetic reporting hierarchy
# =========================================================================


@query(
    "recursive_supplier_chain",
    """
    WITH RECURSIVE chain AS (
      SELECT s_suppkey, s_suppkey AS root_suppkey, 0 AS depth
      FROM supplier WHERE s_suppkey < 8
      UNION ALL
      SELECT s.s_suppkey, c.root_suppkey, c.depth + 1
      FROM supplier s JOIN chain c ON s.s_suppkey // 8 = c.s_suppkey
      WHERE s.s_suppkey >= 8
    )
    SELECT s_suppkey, root_suppkey, CAST(depth AS INTEGER) AS depth
    FROM chain
    """,
)
def q_recursive_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of a reporting hierarchy via a RECURSIVE CTE
    (Spark 4 ``WITH RECURSIVE`` == DuckDB): supplier s reports to
    supplier ``s DIV 8`` (a synthetic but deterministic forest rooted
    at keys 0-7); the recursion labels every supplier with its root and
    depth. This is the org-chart / BOM-explosion query shape, run
    through the engine's native iterative SQL operator rather than a
    hand-rolled driver loop.

    Scale posture: each recursion step is one equi-join of the frontier
    against the (pruned) supplier scan; depth is O(log_8 N) because the
    parent key strictly decreases — ~7 rounds at 100 TB supplier
    cardinality. Contrast with dedup_clusters_cc, which implements the
    same fixed-point pattern as an explicit driver loop with
    localCheckpoint: the CTE form delegates loop control to the engine.
    All-integer output → hash-exact parity.
    """
    (supp,) = _prep(spark, sf_dir, "supplier")
    supp.select("s_suppkey").createOrReplaceTempView("gs_supplier_rc")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT s_suppkey, s_suppkey AS root_suppkey, 0 AS depth
          FROM gs_supplier_rc WHERE s_suppkey < 8
          UNION ALL
          SELECT s.s_suppkey, c.root_suppkey, c.depth + 1
          FROM gs_supplier_rc s JOIN chain c ON s.s_suppkey DIV 8 = c.s_suppkey
          WHERE s.s_suppkey >= 8
        )
        SELECT s_suppkey, root_suppkey, CAST(depth AS INT) AS depth
        FROM chain
        """
    )
