"""Time-bucketed Parquet storage — the Gorilla block layout, Spark-first.

The reference stores each series as bit-packed blocks keyed by a 2-hour
aligned header time (``src/vec_stream.rs:6-9``, alignment
``examples/csv_to_packed.rs:17``); queries can only skip whole blocks.
Here the same layout is Hive-partitioned Parquet:

    <root>/bucket=2024-01-01 00%3A00%3A00/part-*.parquet

- ``bucket`` = 2-hour tumbling window start → partition pruning gives
  the reader block skipping *plus* parquet row-group stats inside each
  block (strictly better than the reference's addressing);
- Parquet ZSTD + dictionary/delta encodings play the Gorilla codec's
  compression role (SURVEY.md §1.3); ``compression_stats`` reports the
  achieved ratio against the reference's 16 B/row raw-size formula
  (``csv_to_packed.rs:109-113``).

At cluster scale: every store write (``_write_partitioned``) repartitions
by (partition column, series hash) so each task writes one partition
directory (no small-files explosion), and readers get both partition
pruning on time and series co-location for per-series windows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gibbon_spark.codec.gorilla import BLOCK_SECONDS
from gibbon_spark.codec.spark_ops import BLOCK_SCHEMA
from gibbon_spark.operators.timeseries import BUCKET_WIDTH, as_timeseries, with_bucket


def _write_partitioned(
    df: DataFrame, path: str, part: str, files: int, *, order=(), mode: str = "overwrite"
) -> None:
    """The one store write: Hive-partition ``df`` by ``part`` with at
    most ``files`` files per partition directory, each series' rows in
    one file (rows are repartitioned on (part, |hash(series_id) % files|)),
    sorted by ``order`` within each file. The remainder is taken before
    the absolute value, so a series whose hash is -2^31 cannot overflow."""
    h = F.hash("series_id")
    df = df.repartition(F.col(part), F.abs(h % files).alias("sb"))
    if order:
        df = df.sortWithinPartitions(*order)
    df.write.mode(mode).partitionBy(part).parquet(path)


def write_bucketed(
    df: DataFrame,
    path: str,
    *,
    series: list[str] | None = None,
    ts: str = "ts",
    value: str = "value",
    mode: str = "overwrite",
    series_buckets: int = 8,
) -> None:
    """Normalize to the canonical stream schema and write 2-hour-bucketed
    parquet. ``series_buckets`` caps files per time bucket: rows are
    repartitioned on (bucket, hash(series_id) % N) so a 1000-executor
    write still emits N files per bucket, co-locating each series."""
    norm = with_bucket(as_timeseries(df, series=series, ts=ts, value=value))
    _write_partitioned(norm, path, "bucket", series_buckets, mode=mode)


def compact_bucketed(
    spark: SparkSession,
    path: str,
    out_path: str,
    *,
    series_buckets: int = 8,
) -> None:
    """Rewrite a bucketed store with the batch writer's file discipline.

    A long-running streaming sink appends one file per (micro-batch,
    partition) — thousands of small files per bucket after a day, which
    kills scan throughput (file-open overhead, tiny row groups, no
    useful min/max stats). Compaction re-reads the store, repartitions
    back to ``series_buckets`` files per time bucket, and sorts rows by
    (series, ts) *within* each file so parquet row-group stats become
    tight and per-series window scans read sequentially.

    Writes to ``out_path`` (atomically swappable by the caller) rather
    than in place — Spark cannot safely overwrite a path it is reading.
    """
    df = spark.read.parquet(path)
    _write_partitioned(df, out_path, "bucket", series_buckets, order=("series_id", "ts"))


def expire_buckets(path: str, older_than) -> list[str]:
    """Retention: drop the bucket partition directories whose whole
    2-hour span ends at or before the cutoff, so every row at or after
    the cutoff survives (Gorilla keeps a bounded in-memory horizon —
    ``README.md:1-3`` paper context; here retention is a metadata-only
    delete of pruned partitions, no data rewrite). Returns the removed
    bucket values.

    Driver-side directory surgery is correct here because partitions ARE
    the retention unit; nothing scans or shuffles.
    """
    import shutil
    from datetime import datetime, timedelta
    from urllib.parse import unquote

    cutoff = (
        datetime.fromisoformat(older_than)
        if isinstance(older_than, str)
        else older_than
    )
    removed = []
    for d in sorted(os.listdir(path)):
        if not d.startswith("bucket="):
            continue
        val = unquote(d.split("=", 1)[1])
        if datetime.fromisoformat(val) + timedelta(seconds=BLOCK_SECONDS) <= cutoff:
            shutil.rmtree(os.path.join(path, d))
            removed.append(val)
    return removed


def read_bucketed(
    spark: SparkSession,
    path: str,
    *,
    start=None,
    end=None,
) -> DataFrame:
    """Read with time-range predicates expressed on the partition column
    so Catalyst prunes whole buckets before listing row groups. A bucket
    is read when its span overlaps [start, end): it starts before
    ``end`` and ends after ``start``."""
    df = spark.read.parquet(path)
    if start is not None:
        start_ts = F.lit(start).cast("timestamp")
        df = df.filter(F.col("bucket") > start_ts - F.expr(f"interval {BUCKET_WIDTH}"))
        df = df.filter(F.col("ts") >= start_ts)
    if end is not None:
        df = df.filter(F.col("bucket") < F.lit(end).cast("timestamp"))
        df = df.filter(F.col("ts") < F.lit(end).cast("timestamp"))
    return df


DAY = 86400


def write_gorilla_store(
    blocks: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    day_files: int = 4,
) -> None:
    """Persist gorilla-encoded blocks (codec/spark_ops.encode_timeseries
    output: one BinaryType payload per (series, 2h header bucket)) as a
    partitioned on-disk table — the reference's full storage lifecycle
    (``examples/csv_to_packed.rs:15-113`` ingests, packs and stores
    bit-streams keyed by a 2h-aligned header time) as a durable table.

    Layout: one directory per DAY (``bucket_day``) with ``day_files``
    series-hashed files per day, each file sorted by (header_time,
    series_id). A time-range read prunes whole day directories, then
    parquet row-group min/max stats on the sorted ``header_time``
    column skip the 2h blocks inside each file — the reference's block
    skipping at two granularities, with 12x fewer directories/files
    than one-dir-per-2h-bucket (the layout this replaced: 360 dirs of
    one tiny file each at sf0.1, whose per-directory commit + listing
    overhead dominated the store's write AND read wall time). The
    payload stays gorilla-bit-packed; parquet is only the container
    for (key, n_samples, n_bits, payload) rows.

    ``day_files`` caps files per day directory regardless of executor
    count (same discipline as ``write_bucketed``); raise it on a real
    cluster so per-file size stays in the 128 MB-1 GB band at 100 TB."""
    day = blocks.withColumn("bucket_day", F.col("header_time") - F.col("header_time") % DAY)
    order = ("header_time", "series_id")
    _write_partitioned(day, path, "bucket_day", day_files, order=order, mode=mode)


def read_gorilla_store(
    spark: SparkSession,
    path: str,
    *,
    start_epoch: int | None = None,
    end_epoch: int | None = None,
) -> DataFrame:
    """Scan a gorilla block store with two-level time pruning: the
    ``bucket_day`` partition filter never lists pruned day directories,
    and the exact ``header_time`` predicate lands on parquet row-group
    stats (files are written sorted by header_time) — together strictly
    the reference's block skipping. Returns the block frame ready for
    codec/spark_ops.decode_timeseries.

    The schema is given, not inferred: inference costs a footer-reading
    job on every read and would type ``bucket_day`` as int until
    2038-01-19 and as bigint after; it is written as long."""
    df = spark.read.schema(f"{BLOCK_SCHEMA}, bucket_day long").parquet(path)
    if start_epoch is not None:
        # the block holding start_epoch: the first that ends after it
        lo = int(start_epoch) - int(start_epoch) % BLOCK_SECONDS
        df = df.filter(F.col("bucket_day") >= lo - lo % DAY)
        df = df.filter(F.col("header_time") >= lo)
    if end_epoch is not None:
        hi = int(end_epoch)
        df = df.filter(F.col("bucket_day") < hi)
        df = df.filter(F.col("header_time") < hi)
    return df.select("series_id", "header_time", "n_samples", "n_bits", "payload")


def storage_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compression_stats(spark: SparkSession, path: str) -> dict:
    """The reference's compression-stats query (``csv_to_packed.rs:107-113``):
    compressed bytes vs raw 16 B/row (u64 ts + f64 value)."""
    n = spark.read.parquet(path).count()
    compressed = storage_bytes(path)
    raw = n * 16
    return {
        "rows": n,
        "compressed_bytes": compressed,
        "raw_bytes": raw,
        "ratio_pct": round(100.0 * compressed / raw, 2) if raw else None,
    }
