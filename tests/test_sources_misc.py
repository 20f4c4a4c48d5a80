"""Remaining source surface: JSON with an explicit schema, ORC, nested
types, schema evolution, malformed CSV, binary files, dynamic partition
overwrite, XML and a Python data source."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_json_source_with_explicit_schema(spark):
    d = tempfile.mkdtemp(prefix="gibbon_json_")
    path = os.path.join(d, "data.jsonl")
    rows = [
        {"series_id": "a", "ts": 100, "value": 1.5},
        {"series_id": "a", "ts": 160, "value": 2.5},
        {"series_id": "b", "ts": 100, "value": -1.0},
    ]
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = T.StructType(
        [
            T.StructField("series_id", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    # explicit schema: no inference pass over the data (scale discipline)
    df = spark.read.schema(schema).json(path)
    assert df.count() == 3
    got = df.groupBy("series_id").agg(F.sum("value").alias("s")).collect()
    assert {(r.series_id, r.s) for r in got} == {("a", 4.0), ("b", -1.0)}


def test_orc_sink_and_source_roundtrip(spark):
    """ORC is the other columnar format Spark ships natively; round-trip
    a frame and check predicate pushdown reaches the ORC scan."""
    d = tempfile.mkdtemp(prefix="gibbon_orc_")
    path = os.path.join(d, "t.orc")
    spark.createDataFrame(
        [(i, float(i) * 1.5, f"s{i % 3}") for i in range(100)],
        "id long, value double, tag string",
    ).write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("id") >= 90)
    assert back.count() == 10
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,90)]" in plan


def test_nested_types_parquet_roundtrip(spark):
    """Arrays, maps, and structs (incl. array<struct> and nested struct)
    survive a parquet write/read bit-exactly — the engine's nested-type
    surface goes beyond the reference's fixed (u64, f64) schema."""
    d = tempfile.mkdtemp(prefix="gibbon_nested_")
    path = os.path.join(d, "nested.parquet")
    df = spark.createDataFrame(
        [
            (
                1,
                [1.5, 2.5],
                {"a": 1, "b": 2},
                (7, "x"),
                [(1, "u"), (2, "v")],
                ((3.25, 4), "deep"),
            ),
            (2, [], {}, (8, None), [], ((0.0, 0), None)),
        ],
        "id int, arr array<double>, m map<string,int>, "
        "s struct<k:int,v:string>, "
        "asl array<struct<n:int,t:string>>, "
        "deep struct<inner:struct<f:double,g:int>,label:string>",
    )
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.schema == df.schema
    a = sorted(df.collect(), key=lambda r: r.id)
    b = sorted(back.collect(), key=lambda r: r.id)
    assert a == b


def test_parquet_schema_evolution_mergeschema(spark):
    """Schema evolution across parquet generations: an old write without
    a column and a new write with it must union under mergeSchema, with
    the missing column null-filled — the contract a long-lived 100 TB
    table relies on when producers add fields."""
    d = tempfile.mkdtemp(prefix="gibbon_evolve_")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, value double"
    ).write.parquet(os.path.join(d, "gen=old"))
    spark.createDataFrame(
        [(3, 30.0, "eu"), (4, 40.0, "us")], "id long, value double, region string"
    ).write.parquet(os.path.join(d, "gen=new"))
    df = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(d, "gen=old"), os.path.join(d, "gen=new")
    )
    assert set(df.columns) >= {"id", "value", "region"}
    rows = {r.id: r.region for r in df.collect()}
    assert rows[1] is None and rows[3] == "eu"
    # new-column filters stay pushdown-safe on the merged scan
    assert df.filter(F.col("region") == "eu").count() == 1


def test_csv_malformed_rows_permissive_vs_dropmalformed(spark):
    """Corrupt-row policy on the CSV source: PERMISSIVE null-fills and
    captures the raw line in _corrupt_record; DROPMALFORMED silently
    drops — both must be deterministic, not error out mid-scan."""
    d = tempfile.mkdtemp(prefix="gibbon_csv_bad_")
    path = os.path.join(d, "bad.csv")
    with open(path, "w") as f:
        f.write("a,1,1.5\n")
        f.write("b,not_a_number,2.5\n")
        f.write("c,3,3.5\n")
    schema = T.StructType(
        [
            T.StructField("series_id", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    perm = spark.read.schema(schema).option("mode", "PERMISSIVE").csv(path)
    # caching first is the documented way to observe _corrupt_record
    perm = perm.cache()
    rows = perm.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and bad[0]._corrupt_record.startswith("b,")
    perm.unpersist()
    dropm = spark.read.schema(
        T.StructType(schema.fields[:3])
    ).option("mode", "DROPMALFORMED").csv(path)
    assert {r.series_id for r in dropm.collect()} == {"a", "c"}


def test_binaryfile_source_for_multimodal_ingest(spark):
    """binaryFile is the ingest path for raw media payloads (the
    multimodal operators consume binary columns): reads (path, length,
    content) with a glob filter, never decoding in the scan."""
    d = tempfile.mkdtemp(prefix="gibbon_bin_")
    blobs = {"a.gsraw": b"\x01\x02\x03\x04", "b.gsraw": b"\xff" * 16}
    for name, payload in blobs.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(payload)
    with open(os.path.join(d, "ignore.txt"), "w") as f:
        f.write("not media")
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.gsraw")
        .load(d)
        .select("path", "length", "content")
    )
    rows = {os.path.basename(r.path): r for r in df.collect()}
    assert set(rows) == set(blobs)
    for name, payload in blobs.items():
        assert rows[name].length == len(payload)
        assert bytes(rows[name].content) == payload


def test_dynamic_partition_overwrite(spark):
    """Dynamic partition overwrite: rewriting one day's partition must
    not clobber sibling partitions — the idempotent-backfill contract a
    partitioned 100 TB table depends on."""
    d = os.path.join(tempfile.mkdtemp(prefix="gibbon_dpo_"), "tbl")
    spark.createDataFrame(
        [("2001-01-01", 1), ("2001-01-02", 2)], "day string, v int"
    ).write.partitionBy("day").parquet(d)
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.createDataFrame(
            [("2001-01-02", 20)], "day string, v int"
        ).write.mode("overwrite").partitionBy("day").parquet(d)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    # partition values are type-inferred on read: day comes back as DATE
    got = {(str(r.day), r.v) for r in spark.read.parquet(d).collect()}
    assert got == {("2001-01-01", 1), ("2001-01-02", 20)}


def test_xml_source(spark):
    """Spark 4 ships a native XML source; round-trip a small rowset and
    check schema inference + values."""
    d = tempfile.mkdtemp(prefix="gibbon_xml_")
    with open(os.path.join(d, "data.xml"), "w") as f:
        f.write(
            "<rows>"
            "<row><series>a</series><ts>100</ts><value>1.5</value></row>"
            "<row><series>b</series><ts>160</ts><value>-2.5</value></row>"
            "</rows>"
        )
    df = spark.read.format("xml").option("rowTag", "row").load(d)
    got = {(r.series, r.ts, r.value) for r in df.collect()}
    assert got == {("a", 100, 1.5), ("b", 160, -2.5)}


def test_python_datasource_series_generator(spark):
    """Custom Python DataSource (Spark 4 API) — the analog of the
    reference's Reader trait (stream.rs:6-8): partition-aware
    deterministic series generation; values recomputable in closed
    form, partitions split per series."""
    from gibbon_spark.sources.pyds import GibbonSeriesDataSource

    spark.dataSource.register(GibbonSeriesDataSource)
    df = (
        spark.read.format("gibbon_series")
        .option("n", 200)
        .option("series", 3)
        .option("step", 60)
        .load()
    )
    assert df.count() == 600
    assert df.rdd.getNumPartitions() == 6  # 3 series x 2 splits
    from pyspark.sql import functions as F

    agg = df.groupBy("series_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("s"),
        F.min("ts").alias("t0"),
    ).collect()
    by = {r.series_id: r for r in agg}
    # sum over i of (i % 97) for i in 0..199 = 2*sum(0..96) + 3+...:
    expected_mod = sum(i % 97 for i in range(200))
    for s in range(3):
        r = by[f"s{s}"]
        assert r.n == 200
        assert abs(r.s - (expected_mod + 200 * s / 8.0)) < 1e-6
