"""The r13 money-sum accumulator must stay exact at 100 TB magnitudes.

The r12 single-long accumulator was exact only through |Σ·10^4| < 2^63
(~sf1500); at the declared 100 TB ≈ sf100000 target per-group scaled
sums reach ~4·10^19 and the query DIES with ANSI ARITHMETIC_OVERFLOW
(or wraps silently with ANSI off). These tests pin the widened domain:
simulated sf100000-magnitude sums must come out exact, identical to the
DuckDB decimal oracle form, and the gate-SF presentation must be
bit-identical to the r12 path.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from gibbon_spark.functions import exact as exact_fns
from gibbon_spark.functions.exact import exact_avg, money_sum


def round_scaled_long(s, sc: int):
    """The r12 money path's rounding, kept as the reference: half away
    from zero of a 1e-4-scaled long sum ``s`` to a coarser power-of-ten
    scale ``sc``, in integer arithmetic (SQL ``div`` truncates, and both
    branches divide non-negative values), because a double
    ``floor((s + h)/sc)`` would drift once |s| passes 2^53. Exactly
    BigDecimal HALF_UP on the same exact value."""
    h, d = F.lit(sc // 2), F.lit(sc)
    return F.when(s >= 0, F.call_function("div", s + h, d)).otherwise(
        -F.call_function("div", -s + h, d)
    )


def _py_scaled(v: float) -> int:
    """Python twin of scaled_long (same IEEE double arithmetic)."""
    y = v + 1e-9
    return math.floor(y * 10000 + 0.5) if y >= 0 else -math.floor(-y * 10000 + 0.5)


# per-row values inside scaled_long's domain (|x| < 9e11), summing far
# past the r12 int64 ceiling 2^63/1e4 ≈ 9.2e14 in value units
HUGE = [8.7654e11 + i * 1.0001 for i in range(2000)] + [
    -3.3e11 - i * 0.07 for i in range(500)
]


@pytest.fixture(scope="module")
def huge_df(spark):
    return spark.createDataFrame([(v,) for v in HUGE], "v double")


def test_money_sum_exact_at_sf100000_magnitudes(huge_df):
    exact_scaled = sum(_py_scaled(v) for v in HUGE)
    assert abs(exact_scaled) > 2**63, "fixture no longer exceeds the int64 ceiling"
    expect = float(
        (Decimal(exact_scaled) / 10000).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    )
    got = huge_df.agg(money_sum(F.col("v")).alias("s")).collect()[0]["s"]
    assert got == expect


def test_money_sum_matches_duckdb_decimal_oracle_at_scale(huge_df, duck):
    got_spark = huge_df.agg(money_sum(F.col("v")).alias("s")).collect()[0]["s"]
    got_duck = duck.execute(
        "SELECT CAST(round(sum(CAST(round((v) + 1e-9, 4) AS DECIMAL(38,4))), 2)"
        " AS DOUBLE) FROM (VALUES "
        + ",".join(f"({v!r})" for v in HUGE)
        + ") t(v)"
    ).fetchone()[0]
    assert got_spark == got_duck


def test_old_long_accumulator_would_die_here(huge_df):
    """Prove the fixture bites: the r12 single-long sum overflows on it
    (ANSI raises; with ANSI off it would wrap to a wrong answer)."""
    old = F.sum(exact_fns.scaled_long(F.col("v")))
    with pytest.raises(Exception, match="(?i)overflow"):
        huge_df.agg(old.alias("s")).collect()


def test_split_presentation_identical_to_r12_at_gate_magnitudes(spark):
    """At gate magnitudes (|q| < 2^53) the widened path must present
    bit-identically to the r12 long path, money_sum and exact_avg."""
    vals = [(12345.6789,), (-0.00005,), (9999999.995,), (123.455,), (2.5e7,)]
    df = spark.createDataFrame(vals, "v double")

    def money_sum_r12(col, dp=2):
        s = F.sum(exact_fns.scaled_long(col))
        q = round_scaled_long(s, 10 ** (4 - dp))
        return q.cast("double") / F.lit(float(10**dp))

    def exact_avg_r12(col):
        return F.round(
            F.sum(exact_fns.scaled_long(col)).cast("double")
            / F.lit(10000.0)
            / F.count(col)
            + F.lit(1e-9),
            6,
        )

    row = df.agg(
        money_sum(F.col("v")).alias("new_s"),
        money_sum_r12(F.col("v")).alias("old_s"),
        exact_avg(F.col("v")).alias("new_a"),
        exact_avg_r12(F.col("v")).alias("old_a"),
    ).collect()[0]
    assert row["new_s"] == row["old_s"]
    assert row["new_a"] == row["old_a"]
