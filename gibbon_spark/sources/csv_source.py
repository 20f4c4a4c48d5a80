"""CSV time-series source — the reference's only ingest format.

``examples/csv_to_packed.rs:15,23-27`` reads headerless CSV rows of
``(u64 epoch-seconds, f64 value)``. This reader accepts that exact
shape (plus an optional series column) and produces the canonical
stream schema. Schema is explicit — no inference pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

GIBBON_CSV_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)


def _canonical(raw: DataFrame, series_id: str) -> DataFrame:
    """(ts, value) CSV rows → (series_id, ts timestamp, value)."""
    return raw.select(
        F.lit(series_id).alias("series_id"),
        F.timestamp_seconds("ts").alias("ts"),
        F.col("value"),
    )


def read_gibbon_csv(
    spark: SparkSession, path: str, *, series_id: str = "default"
) -> DataFrame:
    """Read the reference CSV shape into (series_id, ts timestamp, value).
    Epoch seconds → TimestampType (seconds granularity is inherent)."""
    raw = spark.read.schema(GIBBON_CSV_SCHEMA).csv(path, header=False)
    return _canonical(raw, series_id)


def stream_gibbon_csv(
    spark: SparkSession, path: str, *, series_id: str = "default"
) -> DataFrame:
    """Structured-Streaming variant (directory of CSV files as a stream)."""
    raw = spark.readStream.schema(GIBBON_CSV_SCHEMA).csv(path, header=False)
    return _canonical(raw, series_id)
