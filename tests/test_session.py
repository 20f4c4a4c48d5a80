"""Session factory defaults. The tests without a ``spark`` argument need
no JVM; the others run tiny jobs on the shared ``spark`` fixture."""

from __future__ import annotations

import pytest

from gibbon_spark.session import _cpus, _driver_mem, pin_shuffle_partitions
from gibbon_spark.worker import drop_spark_archives


def test_driver_mem_default_is_half_of_host_capped_at_48g():
    assert _driver_mem(15 << 30) == "7680m"
    assert _driver_mem(96 << 30) == "49152m"
    assert _driver_mem(1 << 40) == "49152m"


def test_cpus_defaults_to_32_and_rejects_unparsable(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert _cpus() == 8
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "eight")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _cpus()


def test_helper_leaves_workers_no_spark_archive_and_later_stages_run(spark):
    """In the suite's session (Spark's stock daemon) a worker that ran
    ``drop_spark_archives`` holds no Spark-archive zipimporter (a stock
    worker holds 16, each re-read on every task), and keyed and
    cogrouped Python stages, which import pyspark modules the probe did
    not, still run afterwards."""
    import pandas as pd

    def worker_archives() -> dict:
        """Spark-archive entries on the calling worker's path and among its
        cached zipimporters."""
        import re
        import sys
        import zipimport

        spark_archive = re.compile(r"(^|/)(pyspark\.zip|py4j-[^/]*\.zip|spark-core[^/]*\.jar)(/|$)")
        return {
            "on_path": sum(bool(spark_archive.search(p)) for p in sys.path),
            "zipimporters": sum(
                isinstance(f, zipimport.zipimporter) and bool(spark_archive.search(k))
                for k, f in sys.path_importer_cache.items()
            ),
        }

    def probe(batches):
        drop_spark_archives()
        for _ in batches:
            pass
        yield pd.DataFrame({k: [v] for k, v in worker_archives().items()})

    def per_key(key, pdf):
        drop_spark_archives()
        state = worker_archives()
        return pd.DataFrame({"k": [key[0]], "n": [len(pdf)], "zipimporters": [state["zipimporters"]]})

    def per_pair(left, right):
        drop_spark_archives()
        return pd.DataFrame({"n_left": [len(left)], "n_right": [len(right)]})

    r = spark.range(4, numPartitions=1).mapInPandas(probe, "on_path long, zipimporters long").collect()[0]
    assert (r.on_path, r.zipimporters) == (0, 0)

    df = spark.range(12, numPartitions=1).selectExpr("id % 3 AS k", "id")
    with pin_shuffle_partitions(spark, 1):
        keyed = df.groupBy("k").applyInPandas(per_key, "k long, n long, zipimporters long").collect()
        pairs = (
            df.groupBy("k")
            .cogroup(spark.range(6, numPartitions=1).selectExpr("id % 3 AS k").groupBy("k"))
            .applyInPandas(per_pair, "n_left long, n_right long")
            .collect()
        )
    assert sorted((x.k, x.n, x.zipimporters) for x in keyed) == [(0, 4, 0), (1, 4, 0), (2, 4, 0)]
    assert sorted((x.n_left, x.n_right) for x in pairs) == [(4, 2)] * 3


def test_codegen_cache_keeps_a_query_warm_past_100_other_plans(spark):
    """A recurring query must not recompile after 150 other plans ran:
    Spark's default 100-entry generated-class cache evicts it."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(i):
        # distinct literals give distinct generated code per query
        spark.range(4).selectExpr(f"id * {1000003 + i} + {i} AS x").write.format("noop").mode(
            "overwrite"
        ).save()

    before = compiles.getCount()
    run(0)
    assert compiles.getCount() > before
    for i in range(1, 151):
        run(i)
    warm = compiles.getCount()
    run(0)
    assert compiles.getCount() == warm
