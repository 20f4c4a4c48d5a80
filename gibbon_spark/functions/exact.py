"""Exact cross-engine money arithmetic: the one owner of the oracle
rounding contract.

The contract every oracle-paired query keeps: round each money-like
value to 4 dp per row with a +1e-9 nudge (which keeps exactly
representable ties off the half boundary, where Spark rounds half-up
and DuckDB half-even), sum exactly, and only then present. Each Spark
helper below has a DuckDB SQL twin that spells the same rule; no other
module writes the rule out inline.

Map (Spark helper → SQL twin → the test in
``tests/test_oracle_parity.py`` that runs both engines on the same
values):

- ``money4`` → ``money4_sql`` → ``test_money4_twins_agree_at_half_boundary``
- ``money_sum`` → ``money_sum_sql`` →
  ``test_money_sum_presents_identically_at_1e13``
- ``exact_avg`` → ``exact_avg_sql`` →
  ``test_exact_avg_twins_agree_at_half_boundary``

``money4`` is the decimal row form and the semantics reference.
``money_sum`` and ``exact_avg`` carry the same exact values as
1e-4-scaled BIGINTs in pure codegen arithmetic (:func:`scaled_long`,
r12: ~3x faster on aggregate-dominated plans, q1 2.3 s → 0.7 s at
sf0.1) summed by the split-long accumulator of
:func:`money_exact_sum` (r13); ``tests/test_money_scale.py`` pins
those building blocks at sf100000-scale sums.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def money4(col):
    """One row rounded to the contract's 4 dp, as ``decimal(24,4)``.

    Agrees with :func:`money4_sql` per row where ``col * 1e4`` is exact
    in a double (|col| < 2^53/1e4 ≈ 9e11, the domain of
    :func:`scaled_long`): past it DuckDB's ``round(double, 4)`` scales
    in binary while Spark's rounds the shortest decimal string."""
    return F.round(col + F.lit(1e-9), 4).cast("decimal(24,4)")


def money4_sql(expr: str) -> str:
    """DuckDB twin of :func:`money4`."""
    return f"CAST(round(({expr}) + 1e-9, 4) AS DECIMAL(24,4))"


def scaled_long(col):
    """``round(col + 1e-9, 4)`` as an exact 1e-4-scaled BIGINT.

    Same value the decimal form :func:`money4` carries, but held as its
    unscaled long, computed with pure codegen arithmetic —
    ``floor(y*10000 + 0.5)`` half-away-from-zero via the sign-symmetric
    branch — instead of a per-row BigDecimal construction.
    ``F.round(double, 4)`` rounds the double's SHORTEST DECIMAL
    representation (BigDecimal.valueOf), while this form rounds its
    exact binary value scaled by 1e4; the two agree everywhere except when ``col + 1e-9`` lands within ~1 ulp of a
    0.00005 boundary, which the +1e-9 nudge (6 orders of magnitude
    above ulp at money magnitudes) keeps off the table. Verified
    row-for-row equal to the decimal form over every money expression
    of the r12 gate data (lineitem qty/price/disc/tax products incl.
    negated, sf0.001-sf1: 0 mismatches) and end-to-end by the full
    oracle gate; the decimal form stays the semantics reference.
    Domain: |col| < 2^53/1e4 ≈ 9e11 per row (money data tops out ~1e7)
    and NaN/Inf-free inputs, both true of every gate table by
    construction."""
    y = col + F.lit(1e-9)
    return (
        F.when(y >= 0, F.floor(y * 10000 + F.lit(0.5)))
        .otherwise(-F.floor(-y * 10000 + F.lit(0.5)))
        .cast("long")
    )


# split radix for the two-level exact money sum below
_SPLIT_M = 1 << 20


def money_exact_sum(col):
    """Exact 1e-4-scaled money sum at 100 TB magnitudes (r13, closing
    the r12 int64 ceiling) — returned as ``decimal(38,0)``.

    The r12 single-long accumulator was exact only through
    |Σ v_scaled| < 2^63 ≈ sf1500 for the largest TPC-H money sums — two
    orders below the 100 TB ≈ sf100000 target, where per-group scaled
    sums reach ~4·10^19; past the ceiling ANSI mode raises
    ARITHMETIC_OVERFLOW and the query DIES (with ANSI off it would wrap
    silently). Fix: split each per-row scaled long ``v`` (still
    :func:`scaled_long`'s pure codegen arithmetic) into
    ``hi = v div 2^20`` and ``lo = v % 2^20`` (truncating div/rem pair,
    so ``hi·2^20 + lo == v`` for negatives too), sum the two LONG
    columns with plain primitive codegen buffers, and recombine
    ``Σhi·2^20 + Σlo`` in ``decimal(38,0)`` once per group AFTER
    aggregation. The per-row div/rem fold into the same codegen stage
    (subexpression elimination shares the one scaled_long): measured
    1.04× the r12 path on q1 at sf0.1, where a decimal(38,0) sum
    buffer costs 2.03×.

    Exactness domain: |Σv| < 2^63·2^20 ≈ 9.7e24 (≈ sf2.4e10) and
    rows-per-group < 2^63/2^20 ≈ 8.8e12 (≈ sf1.5e6 on lineitem's
    biggest group) — three orders past the target on both axes, and a
    breach still raises loudly under ANSI instead of corrupting the
    sum. Verified exact against Python big-int and the DuckDB
    decimal(38,4) oracle form at simulated sf100000 magnitudes, and
    bit-identical to the r12 path at every gate SF."""
    v = scaled_long(col)
    m = F.lit(_SPLIT_M)
    hi = F.sum(F.call_function("div", v, m))
    lo = F.sum(v % m)
    return hi.cast("decimal(38,0)") * m + lo


def exact_avg(col):
    """Association-order-free mean, emitted ready-to-present: exact
    numerator (4 dp pre-round, +1e-9 half-boundary guard, as money_sum)
    over the non-null count, then the SAME +1e-9 nudge and 6 dp round
    the DuckDB oracle applies (:func:`exact_avg_sql` is the oracle
    twin) — callers must not re-round, or the two engines can land on
    opposite sides of a half boundary (the tie-flip class commit
    b83f6d4 eliminated). A raw double avg() can differ by 1 ulp between
    Spark's parallel sum and a serial oracle and flip the 6 dp
    presentation — observed at sf0.1; this form hashes identically at
    any parallelism.

    The numerator is the 1e-4-scaled per-row long of
    :func:`scaled_long` (r12) summed by the split-long accumulator of
    :func:`money_exact_sum` (r13 — the single int64 sum died under ANSI
    at ~sf1500). ``(double)S / 10000.0`` reproduces the reference
    ``decimal(24,4)→double`` cast bit-for-bit (OpenJDK
    BigDecimal.doubleValue computes exactly this for compact values).

    Trade-off (why this is OPT-IN, not the generic contract): the 4 dp
    pre-round quantizes sub-1e-4 magnitudes (values of 2e-5 average to
    0). Fine for the oracle-paired gate queries' 2-dp money data; wrong
    as a default for a generic library operator, which is why the
    time-series ``summary``/``summary_by_series``/``resample`` default
    to plain ``F.avg``.
    """
    return F.round(
        money_exact_sum(col).cast("double") / F.lit(10000.0)
        / F.count(col)
        + F.lit(1e-9),
        6,
    )


def money_sum(col, dp: int = 2):
    """Deterministic money-sum, bit-identical to the DuckDB oracle's
    ``CAST(round(sum(CAST(round((x) + 1e-9, 4) AS DECIMAL(24,4))), dp)
    AS DOUBLE)`` at any magnitude: round each row to 4 dp (+1e-9 keeps
    exactly-representable ties off the half boundary, where Spark rounds
    half-up and DuckDB half-even), sum EXACTLY (order-free), round to
    ``dp`` places in exact integer space, and only then present as a
    double.

    Implementation (r12 optimization): the exact sum is carried as a
    1e-4-scaled BIGINT (:func:`scaled_long`) instead of
    ``decimal(24,4)`` — same exact value per row (verified row-for-row
    on the gate data and end-to-end by the oracle gate), but the
    per-row BigDecimal construction and the non-compact decimal(34,4)
    sum buffer become plain codegen long arithmetic: measured 2.3 s →
    0.7 s on q1's 8-aggregate pass at sf0.1.

    Why not round AFTER a cast to double: at sf10 the big money sums
    reach ~1e13 where a double ULP is ~0.002, and the two engines'
    round(double, 2) disagree on the SAME bit pattern — Spark rounds
    the double's shortest decimal representation (BigDecimal.valueOf →
    Double.toString) while DuckDB rounds its exact binary value, e.g.
    decimal 10116031050223.8550 → double ...223.85499…, Spark .86 vs
    DuckDB .85 (caught by the round-9 sf10 oracle sweep on q1/q7).

    Sum-domain bound (r13, widened): the r12 form summed the scaled
    longs in a single int64, exact only through ~sf1500
    (|Σ·10^4| < 2^63); past that ANSI raises ARITHMETIC_OVERFLOW and
    the query dies — two orders below the 100 TB ≈ sf100000 target.
    The accumulator is now the hi/lo split-long sum of
    :func:`money_exact_sum` (see there for the domain,
    ≈ sf10^10, and the 1.04× measured cost), recombined to an exact
    ``decimal(38,0)`` per group. Post-sum, ``s/10000`` restores the
    true money value exactly (decimal(38,6), scale-6 ≥ the value's
    scale 4, so no rounding), ``round(·, dp)`` is decimal HALF_UP ==
    the oracle's half-away-from-zero on the same exact value == the
    r12 integer-space div trick, and the final decimal→double cast is
    correctly rounded at ANY magnitude (OpenJDK BigDecimal.doubleValue
    falls back to the exact path past 2^52) — bit-identical to the r12
    ``(double)q / 10^dp`` wherever |q| < 2^53, i.e. every gate SF."""
    s = money_exact_sum(col)
    return F.round(s / F.lit(10000), dp).cast("double")


def money_sum_sql(expr: str, dp: int = 2) -> str:
    """DuckDB twin of :func:`money_sum`."""
    return f"CAST(round(sum({money4_sql(expr)}), {dp}) AS DOUBLE)"


def exact_avg_sql(expr: str) -> str:
    """DuckDB twin of :func:`exact_avg`."""
    return f"round(CAST(sum({money4_sql(expr)}) AS DOUBLE) / count({expr}) + 1e-9, 6)"
