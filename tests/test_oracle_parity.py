"""Every registered query must match its DuckDB oracle at sf0.001 —
the same comparison the driver's t2 gate runs at sf0.01."""

from __future__ import annotations

from decimal import Decimal

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE


def _pairs():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return [(name, name in oracles) for name in qs]


@pytest.mark.parametrize("name,has_oracle", _pairs(), ids=[n for n, _ in _pairs()])
def test_query_matches_oracle(spark, duck, name, has_oracle):
    from oracle_check import compare

    fn = entrymod.queries()[name]
    spark_pdf = fn(spark, SF_ORACLE).toPandas()
    if not has_oracle:
        # rows-only check (mirrors the driver's weaker gate)
        assert spark_pdf is not None
        return
    duck_pdf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, "\n".join(problems)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "n_samples" in df.columns


def test_money_sum_presents_identically_at_1e13(spark, duck):
    """Round-in-decimal-space discipline (sf10 sweep find): the exact
    decimal sum 10116031050223.8550 casts to double ...223.85499…, and
    on that SAME bit pattern Spark's round(double, 2) answers .86 (it
    rounds the shortest decimal representation via BigDecimal.valueOf)
    while DuckDB answers .85 (it rounds the exact binary value) — a
    1-cent cross-engine split invisible below ~1e12 magnitudes (q1/q7/
    cube_orders at sf10). money_sum/money_sum_sql must therefore round
    in DECIMAL space and cast to double LAST, which both engines agree
    on at any magnitude."""
    from pyspark.sql import functions as F

    from gibbon_spark.functions.exact import money_sum, money_sum_sql

    sdf = spark.createDataFrame(
        [(10116031050223.0,), (0.855,)], "v double"
    ).agg(money_sum(F.col("v")).alias("s"))
    got_spark = sdf.collect()[0]["s"]
    got_duck = duck.execute(
        "SELECT "
        + money_sum_sql("v")
        + " AS s FROM (VALUES (10116031050223.0), (0.855)) t(v)"
    ).fetchone()[0]
    assert got_spark == got_duck == 10116031050223.86


# Values on and next to a 0.00005 half boundary (where Spark rounds
# half-up and DuckDB half-even without the +1e-9 nudge), and their
# negatives. The nudge keeps the two rounding paths apart from a tie
# only for inputs that are not themselves ~1e-9 from a boundary (money
# data has 2-4 dp), so "next to" here is 1e-7 away. Per row the engines
# also agree only where x * 1e4 is exact in a double, |x| < 2^53 / 1e4
# ~ 9e11 (the domain functions/exact.py documents): past it DuckDB's
# round(double, 4) scales in binary while Spark rounds the shortest
# decimal string (1e13 + 0.5 becomes ...0.4992 in DuckDB). So the 1e13
# row carries an integral value, as in the money_sum test above.
_HALF_BOUNDARY = [
    0.00005, 0.00015, 0.00025, 0.12345, 1.00005, 2.67455, 0.0000499,
    0.0000501, 0.0, 123456789.00005, 10116031050223.0,
]
_HALF_BOUNDARY += [-v for v in _HALF_BOUNDARY]


def _values_sql(rows) -> str:
    return "(VALUES " + ", ".join(f"({g}, {v!r})" for g, v in rows) + ") t(g, v)"


def test_money4_twins_agree_at_half_boundary(spark, duck):
    """money4 (Spark) and money4_sql (DuckDB) round every row to the
    same decimal(24,4) value."""
    from pyspark.sql import functions as F

    from gibbon_spark.functions.exact import money4, money4_sql

    rows = list(enumerate(_HALF_BOUNDARY))
    got_spark = [
        (r["g"], r["r4"])
        for r in spark.createDataFrame(rows, "g long, v double")
        .select("g", money4(F.col("v")).alias("r4"))
        .orderBy("g")
        .collect()
    ]
    got_duck = duck.execute(
        f"SELECT g, {money4_sql('v')} AS r4 FROM {_values_sql(rows)} ORDER BY g"
    ).fetchall()
    assert got_spark == got_duck
    assert dict(got_spark)[1] == Decimal("0.0002")  # 0.00015 nudged up


def test_exact_avg_twins_agree_at_half_boundary(spark, duck):
    """exact_avg (Spark) and exact_avg_sql (DuckDB) present the same
    double per group, including means that land on a 6 dp half boundary
    (0.0001 / 8 = 0.0000125) in both signs."""
    from pyspark.sql import functions as F

    from gibbon_spark.functions.exact import exact_avg, exact_avg_sql

    groups = [
        [0.0001] + [0.0] * 7,
        [-0.0001] + [0.0] * 7,
        [0.00005, 0.00015, 0.00025],
        [-0.00005, -0.00015, -0.00025],
        [0.0000499, 0.0000501],
        [10116031050223.0, 0.855],
        [-10116031050223.0, 0.00005, 0.00015],
        _HALF_BOUNDARY,
    ]
    rows = [(g, v) for g, vs in enumerate(groups) for v in vs]
    got_spark = [
        tuple(r)
        for r in spark.createDataFrame(rows, "g long, v double")
        .groupBy("g")
        .agg(exact_avg(F.col("v")).alias("a"))
        .orderBy("g")
        .collect()
    ]
    got_duck = duck.execute(
        f"SELECT g, {exact_avg_sql('v')} AS a FROM {_values_sql(rows)}"
        " GROUP BY g ORDER BY g"
    ).fetchall()
    assert got_spark == got_duck
    assert got_spark[0][1] == 0.000013 and got_spark[1][1] == -0.000012
