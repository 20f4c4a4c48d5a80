"""Structured Streaming ingestion: file stream → bucketed parquet sink;
windowed rollup with watermark semantics."""

from __future__ import annotations

import os
import tempfile
import time

import pytest

from gibbon_spark.sources.csv_source import read_gibbon_csv, stream_gibbon_csv
from gibbon_spark.streaming import ingest
from gibbon_spark.streaming import replay as replay_mod
from tests.conftest import SF_SMALL

ROWS = [
    (10005, 0.34),
    (10065, 0.35),
    (10124, 0.72),
    (10247, 0.42),
    (10365, 1.12),
    (17205, 2.5),  # next 2-hour bucket
]


@pytest.fixture(scope="module")
def csv_dir():
    d = tempfile.mkdtemp(prefix="gibbon_csv_")
    with open(os.path.join(d, "part1.csv"), "w") as f:
        for ts, v in ROWS[:4]:
            f.write(f"{ts},{v}\n")
    with open(os.path.join(d, "part2.csv"), "w") as f:
        for ts, v in ROWS[4:]:
            f.write(f"{ts},{v}\n")
    return d


def test_csv_batch_read_matches_reference_shape(spark, csv_dir):
    df = read_gibbon_csv(spark, csv_dir)
    assert df.columns == ["series_id", "ts", "value"]
    rows = sorted((r.ts.timestamp(), r.value) for r in df.collect())
    assert rows == sorted((float(t), v) for t, v in ROWS)


def test_stream_to_bucketed_sink_equals_batch(spark, csv_dir):
    """availableNow streaming ingest must land exactly the batch rows,
    partitioned by 2-hour bucket."""
    out = tempfile.mkdtemp(prefix="gibbon_sink_")
    q = ingest.start_bucketed_sink(
        stream_gibbon_csv(spark, csv_dir),
        os.path.join(out, "data"),
        os.path.join(out, "ckpt"),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(os.path.join(out, "data"))
    assert got.count() == len(ROWS)
    buckets = {r.bucket.timestamp() for r in got.select("bucket").distinct().collect()}
    # 10005//7200*7200 = 7200 ; 17205//7200*7200 = 14400
    assert buckets == {7200.0, 14400.0}


def test_bucketed_sink_never_drops_late_rows(spark):
    """The sink is stateless, so rows far behind any watermark still
    land: a second micro-batch 11+ days older than the first is written
    whole."""
    from pyspark.sql import functions as F

    from gibbon_spark.sources.csv_source import GIBBON_CSV_SCHEMA

    d = tempfile.mkdtemp(prefix="gibbon_late_")
    src, out = os.path.join(d, "src"), os.path.join(d, "out")
    os.makedirs(src)
    now = time.time()
    for age, name, rows in ((10, "a.csv", "1000000,1.0\n"), (0, "b.csv", "10,2.0\n20,3.0\n")):
        path = os.path.join(src, name)
        with open(path, "w") as f:
            f.write(rows)
        os.utime(path, (now - age, now - age))  # the file source reads oldest first
    raw = spark.readStream.schema(GIBBON_CSV_SCHEMA).option("maxFilesPerTrigger", 1).csv(src)
    q = ingest.start_bucketed_sink(
        raw.select(F.timestamp_seconds("ts").alias("ts"), "value"),
        os.path.join(out, "data"),
        os.path.join(out, "ckpt"),
    )
    q.awaitTermination(120)
    assert [p["numInputRows"] for p in q.recentProgress] == [1, 2]
    got = spark.read.parquet(os.path.join(out, "data")).select(F.unix_timestamp("ts"))
    assert sorted(r[0] for r in got.collect()) == [10, 20, 1000000]


def test_windowed_rollup_matches_batch_agg(spark, csv_dir):
    """Streaming tumbling-window aggregate (via availableNow + memory
    sink) must equal the batch groupBy over the same window."""
    stream = stream_gibbon_csv(spark, csv_dir)
    rolled = ingest.windowed_rollup(stream, window="1 hour", watermark="1 minute")
    # complete mode: append would (correctly) hold back the final window
    # still open under the watermark when the bounded stream ends
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.timestamp(), r.n_samples, round(r.avg_value, 9))
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    from pyspark.sql import functions as F

    batch = read_gibbon_csv(spark, csv_dir)
    expected = {
        (r.ws.timestamp(), r.n, round(r.avg_value, 9))
        for r in batch.groupBy(F.window("ts", "1 hour").start.alias("ws"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
        .collect()
    }
    assert got == expected


def test_stateful_running_stats_across_restarts(spark):
    """applyInPandasWithState: per-series state must persist across
    separate runs sharing a checkpoint (codec-style running state,
    fault-tolerant)."""
    import shutil

    from gibbon_spark.streaming.stateful import running_series_stats

    d = tempfile.mkdtemp(prefix="gibbon_stateful_")
    src = os.path.join(d, "in")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(src)

    def run_once(qname):
        # foreachBatch sink: the memory sink cannot recover from a
        # checkpoint, which is the very thing this test exercises
        collected = []

        def sink(batch_df, _batch_id):
            collected.extend(batch_df.collect())

        stream = stream_gibbon_csv(spark, src, series_id="s1")
        out = running_series_stats(stream)
        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return collected[-1] if collected else None

    with open(os.path.join(src, "a.csv"), "w") as f:
        f.write("100,1.0\n200,3.0\n")
    r1 = run_once("stateful_run1")
    assert (r1.n_total, r1.sum_value, r1.min_value, r1.max_value) == (2, 4.0, 1.0, 3.0)
    # EMA folds in ts order: 1.0 then 3.0 -> 0.2*3 + 0.8*1 = 1.4
    assert abs(r1.ema - 1.4) < 1e-9

    with open(os.path.join(src, "b.csv"), "w") as f:
        f.write("300,5.0\n")
    r2 = run_once("stateful_run2")
    # state restored from checkpoint: totals span both runs
    assert (r2.n_total, r2.sum_value, r2.max_value) == (3, 9.0, 5.0)
    assert abs(r2.ema - (0.2 * 5.0 + 0.8 * 1.4)) < 1e-9
    shutil.rmtree(d)


def test_streaming_dedup_drops_repeats(spark):
    """dropDuplicatesWithinWatermark: duplicate keys within the
    watermark are suppressed; distinct keys all pass."""
    import shutil

    from gibbon_spark.streaming.ingest import dedup_stream

    d = tempfile.mkdtemp(prefix="gibbon_sdedup_")
    src = os.path.join(d, "in")
    os.makedirs(src)
    # event 100 appears 3x, 200 twice, 300 once (same key = same ts here)
    with open(os.path.join(src, "a.csv"), "w") as f:
        for ts in [100, 100, 100, 200, 200, 300]:
            f.write(f"{ts},1.0\n")
    stream = stream_gibbon_csv(spark, src)
    deduped = dedup_stream(stream, ["series_id", "ts"], watermark="1 hour")
    collected = []
    q = (
        deduped.writeStream.foreachBatch(lambda b, i: collected.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.ts.timestamp() for r in collected) == [100.0, 200.0, 300.0]
    shutil.rmtree(d)


def test_stream_stream_interval_join(spark):
    """Watermarked stream-stream inner join: purchase matches clicks by
    the same user within the 10 minutes before it; state is bounded by
    the range conjunct + watermarks."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gibbon_spark.streaming.joins import stream_interval_join

    d = tempfile.mkdtemp(prefix="gibbon_ssj_")
    clicks_dir = os.path.join(d, "clicks")
    purch_dir = os.path.join(d, "purchases")
    os.makedirs(clicks_dir)
    os.makedirs(purch_dir)
    # epoch-second events; user 1: click 800 -> purchase 1000 (match),
    # click 100 too early (no match); user 2: click 950 AFTER purchase
    # 900 (no match); user 3: purchase with no clicks at all.
    with open(os.path.join(clicks_dir, "c.csv"), "w") as f:
        f.write("1,100\n1,800\n2,950\n")
    with open(os.path.join(purch_dir, "p.csv"), "w") as f:
        f.write("1,1000\n2,900\n3,900\n")
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("sec", T.LongType())]
    )

    def src(path):
        return (
            spark.readStream.schema(schema)
            .csv(path)
            .select("user_id", F.timestamp_seconds("sec").alias("ts"))
        )

    joined = stream_interval_join(
        src(purch_dir), src(clicks_dir), ["user_id"], within="10 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r.user_id, r.ts.timestamp(), r.ts_right.timestamp())
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    ]
    assert sorted(got) == [(1, 1000.0, 800.0)]


def test_foreachbatch_incremental_mv_equals_batch(spark):
    """foreachBatch maintains a materialized view as mergeable partial
    aggregates (count + exact decimal sum) across micro-batches; after
    the availableNow replay the MV equals the batch recompute — the
    streaming face of mv_incremental_refresh's merge(base, delta) ==
    full invariant."""
    import glob as g
    import shutil

    from pyspark.sql import functions as F

    from gibbon_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="gibbon_mv_")
    stream_dir = os.path.join(base, "in")
    os.makedirs(stream_dir)
    mx = ev.agg(F.max("event_id")).collect()[0][0]
    cuts = [(None, mx // 3), (mx // 3, 2 * mx // 3), (2 * mx // 3, None)]
    for i, (lo, hi) in enumerate(cuts):
        df = ev
        if lo is not None:
            df = df.filter(F.col("event_id") > lo)
        if hi is not None:
            df = df.filter(F.col("event_id") <= hi)
        slice_dir = os.path.join(base, f"slice{i}")
        df.coalesce(1).write.mode("overwrite").parquet(slice_dir)
        part = g.glob(os.path.join(slice_dir, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(stream_dir, f"batch{i}.parquet"))

    schema = spark.read.parquet(os.path.join(stream_dir, "batch0.parquet")).schema
    mv_dir = os.path.join(base, "mv")
    dec = F.round(F.col("value") + F.lit(1e-9), 4).cast("decimal(24,4)")

    def merge_mv(bdf, batch_id):
        partial = bdf.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum(dec).alias("s")
        )
        prev_path = os.path.join(mv_dir, f"v{batch_id - 1}")
        if batch_id > 0 and os.path.exists(prev_path):
            prev = bdf.sparkSession.read.parquet(prev_path)
            partial = (
                prev.unionByName(partial)
                .groupBy("event_type")
                .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
            )
        partial.select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("s").cast("decimal(24,4)").alias("s"),
        ).write.mode("overwrite").parquet(os.path.join(mv_dir, f"v{batch_id}"))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
        .writeStream.foreachBatch(merge_mv)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    versions = sorted(g.glob(os.path.join(mv_dir, "v*")))
    assert len(versions) == 3, f"expected 3 micro-batches, got {versions}"
    final = spark.read.parquet(versions[-1])
    expect = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("s")
    )
    got = {r.event_type: (r.n, float(r.s)) for r in final.collect()}
    exp = {r.event_type: (r.n, float(r.s)) for r in expect.collect()}
    assert got == exp


def test_transform_with_state_in_pandas(spark):
    """Spark 4's transformWithStateInPandas (the successor stateful API
    with typed value/list/map state and timers). Its Python state
    server needs google.protobuf, which this container does not ship —
    the test documents the gap and runs the real thing wherever the
    dependency exists (applyInPandasWithState covers the stateful
    surface elsewhere in this suite)."""
    import importlib.util

    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if not has_protobuf:
        pytest.skip("google.protobuf not installed (needed by the "
                    "transformWithState Python state server)")
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    d = tempfile.mkdtemp(prefix="gibbon_tws_")
    src = os.path.join(d, "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.csv"), "w") as f:
        for s, v in [("a", 1.0), ("a", 5.0), ("b", 2.0), ("a", 3.0), ("b", 7.0)]:
            f.write(f"{s},{v}\n")
    schema = StructType(
        [StructField("series", StringType()), StructField("v", DoubleType())]
    )
    stream = spark.readStream.schema(schema).csv(src)
    out_t = StructType(
        [
            StructField("series", StringType()),
            StructField("n", LongType()),
            StructField("vmax", DoubleType()),
        ]
    )

    class RunningMax(StatefulProcessor):
        def init(self, handle):
            self.state = handle.getValueState("agg", "n BIGINT, vmax DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, vmax = (self.state.get() if self.state.exists() else (0, float("-inf")))
            for pdf in rows:
                n += len(pdf)
                vmax = max(vmax, float(pdf["v"].max()))
            self.state.update((n, vmax))
            yield pd.DataFrame({"series": [key[0]], "n": [n], "vmax": [vmax]})

        def close(self):
            pass

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = stream.groupBy("series").transformWithStateInPandas(
            RunningMax(), outputStructType=out_t, outputMode="Update", timeMode="None"
        )
        rows = []
        q = (
            out.writeStream.foreachBatch(lambda b, i: rows.extend(b.collect()))
            .option("checkpointLocation", os.path.join(d, "ck"))
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    final = {r.series: (r.n, r.vmax) for r in rows}
    assert final == {"a": (3, 5.0), "b": (2, 7.0)}


def test_replay_timeout_raises_and_restores_width(spark, monkeypatch):
    """A replay that outlives its timeout is stopped and raises with the
    query's last progress instead of returning the batches so far, and
    the caller's shuffle width is restored on the way out."""
    monkeypatch.setattr(replay_mod, "TIMEOUT_S", 0.001)  # PySpark rejects 0
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    counts = replay_mod.events_stream(spark, SF_SMALL).groupBy("event_type").count()
    with pytest.raises(TimeoutError, match="last progress"):
        replay_mod.replay(counts, SF_SMALL, mode="complete")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert not spark.streams.active
