"""Session factory defaults. The tests without a ``spark`` argument need
no JVM; the others run tiny jobs on the shared ``spark`` fixture."""

from __future__ import annotations

import os

import pytest

from gibbon_spark.session import _WORKER_DIR, _cpus, _driver_mem, _worker_pythonpath


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


def test_worker_pythonpath_puts_the_daemon_dir_before_the_callers_entries():
    """A caller's ``spark.executorEnv.PYTHONPATH`` once replaced the
    daemon module's directory, and every Python task then failed."""
    sep = os.pathsep
    assert _worker_pythonpath(None) == _WORKER_DIR
    assert _worker_pythonpath("") == _WORKER_DIR
    assert _worker_pythonpath(f"/a{sep}/b") == f"{_WORKER_DIR}{sep}/a{sep}/b"
    assert _worker_pythonpath(f"/a{sep}{_WORKER_DIR}") == f"{_WORKER_DIR}{sep}/a"


def test_get_spark_workers_import_nothing_from_archives(spark):
    """A ``get_spark`` worker holds no zipimporter (Spark's stock daemon
    leaves 16, each re-read on every task) and imports pyspark from a
    directory install."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "zipimporters": [
                    sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
                ],
                "archive_on_path": [any(p.endswith((".zip", ".jar")) for p in sys.path)],
                "pyspark_file": [pyspark.__file__],
            }
        )

    schema = "zipimporters long, archive_on_path boolean, pyspark_file string"
    r = spark.range(4, numPartitions=1).mapInPandas(probe, schema).collect()[0]
    assert r.zipimporters == 0
    assert not r.archive_on_path
    assert not any(p.endswith((".zip", ".jar")) for p in r.pyspark_file.split(os.sep)), r.pyspark_file


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
