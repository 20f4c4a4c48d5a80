"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares: row count, column
names, and values (columns sorted by name, rows sorted by all columns,
exact equality — floats must match bit-for-bit, which the registry's
round() discipline guarantees).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import scratch  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bound the oracle's memory and let it spill: DuckDB's default limit
    # (80% of RAM) plus a concurrent 48g Spark JVM OOM-killed the sf3
    # oracle run (dedup_containment's 150k-doc join reached 102 GB RSS).
    # Spilling makes big oracles slow instead of dead — correctness
    # evidence, not a benchmark.
    # 72GB default: enough for every sf0.01/sf0.1 oracle including the
    # banded-OR recall checks (which OOM at 40GB), while leaving ~50GB
    # for the Spark JVM + OS (the uncapped 80%-of-RAM default reached
    # 102GB RSS and got OOM-killed). Override to 40GB for sf3 runs
    # where the JVM side is also large.
    mem = os.environ.get("GS_ORACLE_DUCK_MEM", "72GB")
    con.execute(f"SET memory_limit='{mem}'")
    # Per-process UNIQUE spill dir, atexit-reaped (round-10 post-mortem:
    # a fixed never-cleaned /tmp/gs_duck_spill accumulated 25 GB across
    # sweep runs and disk-killed the driver's official bench).
    con.execute(f"SET temp_directory='{scratch.spill_dir()}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize tz-aware → naive UTC, and numpy dtypes → python for stable sort
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    s, d = canonicalize(spark_pdf), canonicalize(duck_pdf)
    if list(s.columns) != list(d.columns):
        problems.append(f"columns differ: spark={list(s.columns)} duck={list(d.columns)}")
        return problems
    if len(s) != len(d):
        problems.append(f"row count differs: spark={len(s)} duck={len(d)}")
        return problems
    for c in s.columns:
        sc, dc = s[c], d[c]
        # Dtype-class parity: the driver hashes values dtype-sensitively
        # (DuckDB HUGEINT -> pandas float64 `1764.0` vs Spark int64
        # `1764` flips the hash even though values are equal), so an
        # int-on-one-side / float-on-the-other column is a FAIL here
        # too — coercing both to float64 would mask the whole class.
        s_int = pd.api.types.is_integer_dtype(sc)
        d_int = pd.api.types.is_integer_dtype(dc)
        s_flt = pd.api.types.is_float_dtype(sc)
        d_flt = pd.api.types.is_float_dtype(dc)
        if (s_int and d_flt) or (s_flt and d_int):
            problems.append(
                f"dtype class mismatch col {c}: spark={sc.dtype} duck={dc.dtype}"
                " (int vs float flips the driver hash; CAST the oracle)"
            )
            continue
        if pd.api.types.is_float_dtype(sc) or pd.api.types.is_float_dtype(dc):
            sc = sc.astype("float64")
            dc = dc.astype("float64")
            neq = ~((sc == dc) | (sc.isna() & dc.isna()))
            if neq.any():
                i = neq.idxmax()
                diff = (sc - dc).abs().max()
                problems.append(
                    f"float col {c}: {int(neq.sum())} mismatches, max abs diff "
                    f"{diff!r}, first at row {i}: spark={sc[i]!r} duck={dc[i]!r}"
                )
        else:
            eq = (sc == dc) | (sc.isna() & dc.isna())
            if not eq.all():
                i = (~eq).idxmax()
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, first at row {i}: "
                    f"spark={sc[i]!r} duck={dc[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from gibbon_spark.registry import run
    from gibbon_spark.session import get_spark

    spark = get_spark("oracle_check")
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf, _ = run(spark, name, sf_dir, sink="pandas")
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            # fresh connection per query: a shared connection that once
            # hit its memory limit keeps failing tiny allocations for
            # every LATER query (observed at sf3 — one genuinely
            # infeasible naive oracle poisoned the rest of the run);
            # per-query connections cost milliseconds and isolate each
            # oracle's buffer pool
            con = duck_connection(sf_dir)
            duck_pdf = con.execute(oracles[name]).fetchdf()
            con.close()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            try:
                con.close()
            except Exception:
                pass
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
            for p in problems:
                print(f"     {p}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    try:
        rc = main()
    finally:
        # belt-and-braces with the atexit hook: the spill dir must not
        # survive this process even if main() raised
        scratch.cleanup_spill()
    sys.exit(rc)
