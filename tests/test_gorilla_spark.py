"""Distributed Gorilla codec: lossless round-trip, block layout,
deterministic payloads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gibbon_spark.codec import spark_ops
from gibbon_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_SMALL, "events").cache()


def test_roundtrip_is_lossless(spark, events):
    blocks = spark_ops.encode_timeseries(events, series=["user_id"])
    decoded = spark_ops.decode_timeseries(blocks)
    raw = events.select(
        F.col("user_id").cast("string").alias("series_id"),
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("ts"),
        "value",
    )
    sym_diff = decoded.exceptAll(raw).count() + raw.exceptAll(decoded).count()
    assert sym_diff == 0
    assert decoded.count() == events.count()


def test_block_per_series_bucket(spark, events):
    blocks = spark_ops.encode_timeseries(events, series=["user_id"]).cache()
    expected = (
        events.select(
            F.col("user_id").cast("string").alias("s"),
            (F.unix_timestamp("ts") - F.unix_timestamp("ts") % 7200).alias("h"),
        )
        .distinct()
        .count()
    )
    assert blocks.count() == expected
    # block invariants: header 2h-aligned, payload sized to n_bits
    bad = blocks.filter(
        (F.col("header_time") % 7200 != 0)
        | (F.octet_length("payload") != F.ceil(F.col("n_bits") / 8))
    ).count()
    assert bad == 0


def test_encode_is_deterministic(spark, events):
    a = spark_ops.encode_timeseries(events, series=["user_id"])
    b = spark_ops.encode_timeseries(events, series=["user_id"])
    assert a.exceptAll(b).count() == 0


def test_compression_report(spark, events):
    blocks = spark_ops.encode_timeseries(events, series=["user_id"])
    row = spark_ops.compression_report(blocks).collect()[0]
    assert row.rows == events.count()
    assert row.raw_bytes == row.rows * 16
    assert 0 < row.ratio_pct
    # irregular microsecond-jitter data won't hit the paper's 12x, but
    # must still beat raw 16 B/row
    assert row.compressed_bytes < row.raw_bytes

def test_encode_deterministic_under_subsecond_epoch_ties(spark):
    """Regression (round 8, found by the sf1 gorilla_compression_ratio
    oracle): epoch is SECOND-truncated before encoding, so two
    sub-second points can share (series, epoch); with an epoch-only
    sort the xor stream — and the compressed bytes — depended on
    shuffle arrival order (4-byte drift at sf1). The encode sort now
    tiebreaks on value, making the payload reproducible under ANY
    input order. Forced here on small data per the shrink-the-constant
    rule: two ties per second, input presented in opposite orders."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    for i in range(8):
        t = base + dt.timedelta(seconds=60 * i)
        rows.append((1, t + dt.timedelta(microseconds=100), 10.0 + i))
        rows.append((1, t + dt.timedelta(microseconds=900), 90.0 - i))
    fwd = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    rev = spark.createDataFrame(rows[::-1], "user_id int, ts timestamp, value double")

    def payloads(df):
        return sorted(
            (r.series_id, r.header_time, r.n_bits, bytes(r.payload))
            for r in spark_ops.encode_timeseries(
                df.repartition(7), series=["user_id"]
            ).collect()
        )

    assert payloads(fwd) == payloads(rev)


def test_encode_carries_blocks_across_arrow_batches(spark):
    """encode_timeseries streams each sorted partition through
    mapInPandas and carries a block that straddles two Arrow batches
    over to the next batch. Test data never fills a batch, so shrink
    the batch to 7 rows: every block below has more rows than that and
    spans several batches. Each payload must equal the scalar
    encode_block of its block."""
    import random

    from gibbon_spark.codec.gorilla import encode_block

    rng = random.Random(7)
    header0 = 1_700_000_000 - 1_700_000_000 % 7200
    rows = []
    for sid in range(3):
        for b, n in enumerate((9, 23, 41)):
            header = header0 + 7200 * (b + sid)
            t = header + rng.randrange(60)
            for _ in range(n):
                rows.append((sid, t, round(rng.uniform(-50, 50), 2)))
                t += rng.choice((0, 1, 60, 60, 60, 120))
    df = spark.createDataFrame(rows, "user_id int, epoch long, value double")
    df = df.select("user_id", F.timestamp_seconds("epoch").alias("ts"), "value")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        got = spark_ops.encode_timeseries(df, series=["user_id"]).collect()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    blocks: dict = {}
    for sid, t, v in rows:
        blocks.setdefault((str(sid), t - t % 7200), []).append((t, v))
    assert len(got) == len(blocks) == 9
    for r in got:
        pts = sorted(blocks[(r.series_id, r.header_time)])
        payload, nbits = encode_block(
            [t for t, _ in pts], [v for _, v in pts], r.header_time
        )
        assert r.n_samples == len(pts)
        assert (bytes(r.payload), r.n_bits) == (payload, nbits)
