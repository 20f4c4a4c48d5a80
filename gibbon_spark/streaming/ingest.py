"""Streaming ingestion — the reference's write path, Spark-first.

The reference ingests synchronously: CSV row → ``TimeAndValueStream::push``
→ bit-packed block per series (``examples/csv_to_packed.rs:23-27``,
``src/time_and_value_stream.rs:20-23``). The Spark equivalent is a
Structured Streaming pipeline:

    readStream (csv/rate/kafka) → normalize to (series_id, ts, value)
      → withWatermark → partitioned parquet sink (2-h bucket dirs)

Documented divergence (SURVEY.md §2.2): gibbon's decoder tolerates
out-of-order deltas (negative dod, ``timestamp_stream.rs:88`` wrapping
add), so late rows are *encoded*, never dropped. Spark's watermark
DROPS rows later than the configured bound for stateful stages; the
plain append sink below never drops (no state), and the windowed
aggregation helper documents the bound it enforces.

Scale: the sink path shuffles once on (bucket, series-hash) so each
micro-batch writes a bounded number of files per bucket; state for the
windowed rollup is per (series, window) and expires with the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gibbon_spark.operators.timeseries import as_timeseries, with_bucket
from gibbon_spark.sources.bucketed import BUCKET_WIDTH


def normalize_stream(
    stream: DataFrame,
    *,
    series: list[str] | None = None,
    ts: str = "ts",
    value: str = "value",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Normalize any streaming source to the canonical watermarked
    stream schema with the storage bucket column."""
    norm = as_timeseries(stream, series=series, ts=ts, value=value)
    return with_bucket(norm.withWatermark("ts", watermark), width=BUCKET_WIDTH)


def start_bucketed_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    *,
    series: list[str] | None = None,
    ts: str = "ts",
    value: str = "value",
    watermark: str = "10 minutes",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the parquet sink: append-only, partitioned by bucket —
    the streaming twin of sources.bucketed.write_bucketed. Exactly-once
    per micro-batch via the checkpoint + file-sink manifest."""
    norm = normalize_stream(
        stream, series=series, ts=ts, value=value, watermark=watermark
    )
    writer = norm.writeStream.format("parquet").option(
        "checkpointLocation", checkpoint
    ).option("path", path).partitionBy("bucket").outputMode("append")
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_rollup(
    stream: DataFrame,
    *,
    series: list[str] | None = None,
    ts: str = "ts",
    value: str = "value",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Streaming tumbling (or sliding) window aggregate per series:
    min/max/count/avg — the reference's five aggregates computed
    incrementally with watermark-expired state. Rows later than the
    watermark are dropped HERE (divergence from gibbon, documented
    above)."""
    norm = as_timeseries(stream, series=series, ts=ts, value=value)
    win = (
        F.window(F.col("ts"), window, slide) if slide else F.window(F.col("ts"), window)
    )
    return (
        norm.withWatermark("ts", watermark)
        .groupBy(F.col("series_id"), win.alias("win"))
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("n_samples"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            "series_id",
            F.col("win").start.alias("window_start"),
            "min_value",
            "max_value",
            "n_samples",
            "avg_value",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    *,
    ts: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with state
    bounded by the watermark (dropDuplicatesWithinWatermark — duplicates
    arriving within the watermark window are suppressed, state for older
    keys is evicted). The streaming twin of
    operators.dedup.drop_exact_duplicates; at 100 TB/day this is the
    at-ingest dedup gate in front of the bucketed store."""
    return stream.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)
