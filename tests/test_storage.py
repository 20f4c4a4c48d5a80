"""Bucketed-parquet storage layout: partitioning, pruning, compression."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from gibbon_spark.sources import bucketed
from gibbon_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def store(spark):
    events = load_table(spark, SF_SMALL, "events")
    d = tempfile.mkdtemp(prefix="gibbon_store_")
    path = os.path.join(d, "events_ts")
    bucketed.write_bucketed(
        events, path, series=["user_id", "event_type"], series_buckets=4
    )
    return path


def test_layout_is_bucket_partitioned(spark, store):
    dirs = [d for d in os.listdir(store) if d.startswith("bucket=")]
    assert len(dirs) > 100  # a month of 2-hour buckets
    # bounded files per bucket (series_buckets caps the fan-out)
    one = os.path.join(store, dirs[0])
    files = [f for f in os.listdir(one) if f.endswith(".parquet")]
    assert 1 <= len(files) <= 4


def test_roundtrip_preserves_rows(spark, store):
    events = load_table(spark, SF_SMALL, "events")
    assert spark.read.parquet(store).count() == events.count()


def test_time_range_read_prunes_partitions(spark, store):
    full_files = spark.read.parquet(store).inputFiles()
    ranged = bucketed.read_bucketed(
        spark, store, start="2024-01-10 00:00:00", end="2024-01-11 00:00:00"
    )
    # inputFiles() lists the relation pre-pruning; count files actually
    # READ during execution instead — partition pruning must cut the
    # file set drastically (1 day out of ~30)
    read_files = ranged.select(F.input_file_name()).distinct().count()
    assert read_files < len(full_files) / 5
    # and the rows must match a plain filter on the raw table
    events = load_table(spark, SF_SMALL, "events")
    expected = events.filter(
        (F.date_trunc("second", "ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.date_trunc("second", "ts") < F.lit("2024-01-11 00:00:00").cast("timestamp"))
    ).count()
    assert ranged.count() == expected


def _partitions_read(df) -> int:
    """Run ``df`` and return how many partition directories its file
    scan read (the scan's ``numPartitions`` metric)."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    (scan,) = [leaves.apply(i) for i in range(leaves.size())]
    return scan.metrics().apply("numPartitions").value()


def test_aligned_start_reads_no_bucket_that_ends_at_it(spark, store):
    """A bucket is read only when it ends after ``start``: a start on a
    bucket boundary reads no earlier bucket, one second before it does."""
    from datetime import datetime, timedelta
    from urllib.parse import unquote

    two_h = timedelta(hours=2)
    have = {
        datetime.fromisoformat(unquote(d.split("=", 1)[1]))
        for d in os.listdir(store)
        if d.startswith("bucket=")
    }
    b = min(t for t in have if t - two_h in have and t + two_h in have)
    end = str(b + 2 * two_h)
    assert _partitions_read(bucketed.read_bucketed(spark, store, start=str(b), end=end)) == 2
    early = str(b - timedelta(seconds=1))
    assert _partitions_read(bucketed.read_bucketed(spark, store, start=early, end=end)) == 3


def test_partition_filter_in_plan(spark, store):
    ranged = bucketed.read_bucketed(spark, store, start="2024-01-10", end="2024-01-11")
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_compression_beats_raw(spark, store):
    stats = bucketed.compression_stats(spark, store)
    assert stats["rows"] == 1000
    # parquet+zstd on (series, ts, value) should land well under raw
    # 16 B/row once series strings are dictionary-encoded; just require
    # the ratio to be finite and reported
    assert stats["compressed_bytes"] > 0
    assert stats["ratio_pct"] == round(
        100.0 * stats["compressed_bytes"] / stats["raw_bytes"], 2
    )


def test_compact_bucketed_restores_file_discipline(spark, store):
    """Fragment the store (many files per bucket, as a streaming sink
    would leave it), compact, and check file counts shrink back while
    contents are preserved exactly."""
    d = tempfile.mkdtemp(prefix="gibbon_compact_")
    frag, out = os.path.join(d, "frag"), os.path.join(d, "compacted")
    spark.read.parquet(store).repartition(64).write.partitionBy("bucket").parquet(frag)

    def files_per_bucket(path):
        counts = []
        for b in os.listdir(path):
            if b.startswith("bucket="):
                counts.append(
                    len([f for f in os.listdir(os.path.join(path, b)) if f.endswith(".parquet")])
                )
        return counts

    assert max(files_per_bucket(frag)) > 4  # genuinely fragmented
    bucketed.compact_bucketed(spark, frag, out, series_buckets=2)
    assert max(files_per_bucket(out)) <= 2
    a = {tuple(r) for r in spark.read.parquet(frag).collect()}
    b = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert a == b


def test_series_hashing_to_int_min_lands_in_every_store(spark):
    """A series whose Spark hash is -2^31 has no int absolute value, so
    |hash| % N overflowed under ANSI mode; all three store writers must
    place it and read it back exactly."""
    from gibbon_spark.codec import spark_ops

    edge = "s208X6VT"
    assert spark.range(1).select(F.hash(F.lit(edge))).first()[0] == -(2**31)
    rows = [(edge, 7200 + 60 * i, 0.5 * i) for i in range(3)] + [("other", 7260, 9.5)]
    df = spark.createDataFrame(rows, "series_id string, ep long, value double").select(
        "series_id", F.timestamp_seconds("ep").alias("ts"), "value"
    )
    d = tempfile.mkdtemp(prefix="gibbon_int_min_")
    flat, compact, blocks = (os.path.join(d, x) for x in ("flat", "compact", "blocks"))

    bucketed.write_bucketed(df, flat, series=["series_id"], series_buckets=4)
    bucketed.compact_bucketed(spark, flat, compact, series_buckets=2)
    bucketed.write_gorilla_store(
        spark_ops.encode_timeseries(df, series=["series_id"]), blocks, day_files=4
    )
    stores = [
        spark.read.parquet(p).select("series_id", F.unix_timestamp("ts"), "value")
        for p in (flat, compact)
    ]
    stores.append(spark_ops.decode_timeseries(bucketed.read_gorilla_store(spark, blocks)))
    for got in stores:
        assert sorted(map(tuple, got.collect())) == sorted(rows)


@pytest.fixture(scope="module")
def block_store(spark):
    """Gorilla block store written with the day-partitioned layout."""
    from gibbon_spark.codec import spark_ops

    events = load_table(spark, SF_SMALL, "events")
    blocks = spark_ops.encode_timeseries(events, series=["user_id"])
    d = tempfile.mkdtemp(prefix="gibbon_blockstore_")
    path = os.path.join(d, "blocks")
    bucketed.write_gorilla_store(blocks, path, day_files=2)
    return path


def test_gorilla_store_day_layout_bounded_files(spark, block_store):
    dirs = [d for d in os.listdir(block_store) if d.startswith("bucket_day=")]
    assert 20 <= len(dirs) <= 40  # a month of data -> ~30 day dirs, not 360 2h dirs
    for b in dirs:
        files = [
            f
            for f in os.listdir(os.path.join(block_store, b))
            if f.endswith(".parquet")
        ]
        assert 1 <= len(files) <= 2  # day_files caps fan-out per day


def test_gorilla_store_roundtrip_exact(spark, block_store):
    from gibbon_spark.codec import spark_ops

    events = load_table(spark, SF_SMALL, "events")
    decoded = spark_ops.decode_timeseries(
        bucketed.read_gorilla_store(spark, block_store)
    )
    raw = events.select(
        F.col("user_id").cast("string").alias("series_id"),
        F.unix_timestamp("ts").alias("ts"),
        "value",
    )
    a = sorted(map(tuple, decoded.collect()))
    b = sorted(map(tuple, raw.collect()))
    assert a == b


def test_gorilla_store_range_read_prunes_day_dirs(spark, block_store):
    full = bucketed.read_gorilla_store(spark, block_store)
    lo, hi = 1704844800, 1704931200  # one mid-range day
    ranged = bucketed.read_gorilla_store(
        spark, block_store, start_epoch=lo, end_epoch=hi
    )
    expected = full.filter(
        (F.col("header_time") + 7200 > lo) & (F.col("header_time") < hi)
    )
    assert sorted(map(tuple, ranged.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # partition pruning: only the 1-2 matching day dirs are read
    read_files = ranged.select(F.input_file_name()).distinct().count()
    full_files = full.select(F.input_file_name()).distinct().count()
    assert read_files <= 4 < full_files
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_gorilla_store_aligned_start_reads_no_block_that_ends_at_it(spark, block_store):
    """A block is read only when it ends after ``start_epoch``: a start on
    a block boundary reads that block alone, one second before it also
    the block before; a day-aligned start lists no earlier day."""
    headers = {r[0] for r in spark.read.parquet(block_store).select("header_time").distinct().collect()}
    h = min(t for t in headers if t - 7200 in headers)

    def read(start):
        df = bucketed.read_gorilla_store(spark, block_store, start_epoch=start, end_epoch=h + 7200)
        return sorted(r[0] for r in df.select("header_time").distinct().collect())

    assert read(h) == [h]
    assert read(h + 3600) == [h]
    assert read(h - 1) == [h - 7200, h]
    day = 1704844800  # 2024-01-10 00:00 UTC
    ranged = bucketed.read_gorilla_store(spark, block_store, start_epoch=day, end_epoch=day + 7200)
    assert _partitions_read(ranged) == 1


def test_expire_buckets_retention(spark, store):
    """Copy the store, expire everything before a mid-range cutoff, and
    check exactly the old buckets are gone and the data still reads. A
    cutoff inside a bucket keeps that bucket, so no row at or after the
    cutoff is lost."""
    import shutil

    d = tempfile.mkdtemp(prefix="gibbon_retention_")
    path = os.path.join(d, "s")
    shutil.copytree(store, path)
    buckets = sorted(
        b.split("=", 1)[1] for b in os.listdir(path) if b.startswith("bucket=")
    )
    from urllib.parse import unquote

    cutoff = unquote(buckets[len(buckets) // 2])
    removed = bucketed.expire_buckets(path, cutoff)
    assert removed == sorted(unquote(b) for b in buckets)[: len(buckets) // 2]
    left = spark.read.parquet(path)
    assert left.count() > 0
    assert left.agg(F.min("bucket")).collect()[0][0].isoformat(sep=" ") >= cutoff

    mid = os.path.join(d, "mid")
    shutil.copytree(store, mid)
    full = spark.read.parquet(mid)
    # the cutoff bucket's last row: past the bucket's start, inside its span
    last = (
        full.filter(F.col("bucket") == F.lit(cutoff).cast("timestamp"))
        .agg(F.max("ts").cast("string"))
        .collect()[0][0]
    )
    assert last > cutoff
    newer = F.col("ts") >= F.lit(last).cast(full.schema["ts"].dataType)
    n_newer = full.filter(newer).count()
    assert bucketed.expire_buckets(mid, last) == removed
    assert spark.read.parquet(mid).filter(newer).count() == n_newer


def test_gorilla_store_pinned_schema_reads_as_inferred(spark, block_store):
    """read_gorilla_store gives its schema instead of inferring it: the
    same rows as an inferred read, full and ranged, and no job is run
    to build the frame."""
    cols = ["series_id", "header_time", "n_samples", "n_bits", "payload"]
    inferred = spark.read.parquet(block_store)
    lo, hi = 1704844800, 1704931200
    sc = spark.sparkContext
    sc.setJobGroup("pinned_schema_build", "read_gorilla_store build")
    try:
        full = bucketed.read_gorilla_store(spark, block_store)
        ranged = bucketed.read_gorilla_store(
            spark, block_store, start_epoch=lo, end_epoch=hi
        )
        assert list(sc.statusTracker().getJobIdsForGroup("pinned_schema_build")) == []
    finally:
        sc.setJobGroup(None, None)
    assert full.dtypes == inferred.select(cols).dtypes
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, inferred.select(cols).collect())
    )
    expected = inferred.filter(
        (F.col("header_time") + 7200 > lo) & (F.col("header_time") < hi)
    ).select(cols)
    assert sorted(map(tuple, ranged.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_gorilla_store_missing_path_raises(spark):
    from pyspark.errors import AnalysisException

    missing = os.path.join(tempfile.mkdtemp(prefix="gibbon_nostore_"), "blocks")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        bucketed.read_gorilla_store(spark, missing)
