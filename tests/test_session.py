"""Session factory defaults. The first two need no JVM; the codegen-cache
test runs tiny queries on the shared ``spark`` fixture."""

from __future__ import annotations

import pytest

from gibbon_spark.session import _cpus, _driver_mem


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
