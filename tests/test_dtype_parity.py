"""Schema-level dtype parity between every oracle and its Spark twin.

The driver's correctness gate hashes values dtype-sensitively: DuckDB
returns ``sum(integer)`` as HUGEINT, which pandas widens to float64
(``1764.0``), while Spark's ``F.sum`` stays int64 (``1764``) — equal
values, flipped hash (this is exactly what failed q12_priority_by_status
in rounds 5-6). This test catches the whole class WITHOUT executing:
it compares Spark's analyzed schema against DuckDB's binder types for
every oracle-backed query and fails when one side is an int family and
the other lands in pandas float territory.

The executed companion (which also catches null-induced pandas widening)
is ``tools/oracle_check.py``: its ``compare`` FAILs an int/float
dtype-class mismatch on the executed frames.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tools.oracle_check import TABLES

# DuckDB types that pandas fetchdf() materializes as float64 even when
# the values are integral.
_DUCK_FLOATISH = {"HUGEINT", "FLOAT", "DOUBLE"}
_DUCK_INTISH = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
_SPARK_INTISH = {"byte", "short", "int", "integer", "long", "bigint"}
_SPARK_FLOATISH = {"float", "double"}


@pytest.fixture(scope="module")
def duck_rel_types():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    oracles = entrymod.oracle_sql()

    def types_for(name: str) -> dict[str, str]:
        rel = con.sql(oracles[name])
        return dict(zip(rel.columns, (str(t) for t in rel.types)))

    yield types_for
    con.close()


ORACLE_NAMES = sorted(entrymod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_dtype_class_matches_spark(spark, duck_rel_types, name):
    df = entrymod.queries()[name](spark, SF_SMALL)
    spark_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    duck_types = duck_rel_types(name)
    problems = []
    for col in sorted(set(spark_types) & set(duck_types)):
        st, dt = spark_types[col], duck_types[col].upper()
        dt_base = dt.split("(")[0]
        if st in _SPARK_INTISH and dt_base in _DUCK_FLOATISH:
            problems.append(
                f"{col}: spark {st} vs duck {dt} (pandas float64 — "
                f"CAST(... AS BIGINT) the oracle column)"
            )
        elif st in _SPARK_FLOATISH and dt_base in _DUCK_INTISH:
            problems.append(
                f"{col}: spark {st} vs duck {dt} (spark float vs oracle "
                f"int — cast one side)"
            )
    assert not problems, f"{name}: " + "; ".join(problems)
