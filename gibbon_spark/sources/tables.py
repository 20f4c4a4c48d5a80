"""Loading the driver's parquet tables and registering SQL views.

Scans are plain ``spark.read.parquet`` so Catalyst gets full predicate
pushdown + column pruning into the parquet reader (check with
``.explain``: ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Parquet columns stored as TIMESTAMP(NANOS) — Spark's reader has no nanos
# timestamp type, so these are read via nanosAsLong and converted to
# microsecond TimestampType JVM-side (`ts div 1000` integer division — no
# double round-trip, no precision loss). DuckDB applies the same
# truncation when casting ns→its µs-native TIMESTAMP, so oracles agree.
_NANOS_TS_COLS = {"events": ["ts"]}


def nanos_ts_to_micros(df: DataFrame, name: str) -> DataFrame:
    """Convert table ``name``'s TIMESTAMP(NANOS) columns, which arrive as
    longs under nanosAsLong, to microsecond timestamps; a column already
    read as a timestamp passes through. Batch and streaming frames alike."""
    for col in _NANOS_TS_COLS.get(name, []):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


# Inferred RAW parquet schema per (sf_dir, table) — METADATA only, the
# catalog role on a real deployment. Schema inference launches a 1-task
# footer-read job per spark.read.parquet call (measured 106 ms vs 14 ms
# with an explicit schema, r12); without this memo a 231-query bench
# pass re-infers the same 10 schemas ~460 times. No DATA is cached:
# every scan still reads the parquet files, and the memo dies with the
# process (nothing persists across bench/oracle invocations).
# The key carries the table file's mtime (one os.stat per call), so a
# table rewritten at the same path is re-inferred instead of being read
# with a stale explicit schema (parquet returns nulls for columns missing
# from a supplied schema instead of erroring).
_SCHEMA_CACHE: dict = {}


def _table_key(sf_dir: str, name: str) -> tuple[str, tuple]:
    """The table's parquet path and its memo key (dir, name, mtime)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return path, (os.path.abspath(sf_dir), name, os.stat(path).st_mtime_ns)


def raw_schema(spark: SparkSession, sf_dir: str, name: str):
    """The stored parquet schema of a table, inferred once per process
    and table version (nanosAsLong pinned first so TIMESTAMP(NANOS)
    columns arrive as longs, matching the conversion in
    nanos_ts_to_micros)."""
    path, key = _table_key(sf_dir, name)
    if key not in _SCHEMA_CACHE:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


# Resolved DataFrame per (session, sf_dir, table) — the r13 sibling of
# the schema memo one level up: plan METADATA, not data. A DataFrame is
# a lazy analyzed plan plus a file index; every action over it still
# scans the parquet files, so sharing one object across the ~460
# load_table calls of a bench pass removes only the per-call
# resolution constant (reader construction, file listing, nanos-ts
# conversion analysis — measured ~10-15 ms/call with the schema memo
# already in place) and nothing else. Keyed on the live SparkSession so
# a stopped/recreated session never hands out stale plans; dies with
# the process; keyed on the table file's mtime like the schema memo.
_DF_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path, table_key = _table_key(sf_dir, name)
    key = (spark, *table_key)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(raw_schema(spark, sf_dir, name)).parquet(path)
    df = _DF_CACHE[key] = nanos_ts_to_micros(df, name)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` plans against it."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
