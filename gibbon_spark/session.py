"""SparkSession factory tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM, but every
config below is chosen so the same code runs unchanged on a large
cluster: AQE handles runtime re-planning and skew; shuffle partition
count is sized to cores locally and should be overridden (or left to
AQE coalescing) on a real cluster; Arrow is on for the few Pandas-UDF
paths; session timezone is pinned to UTC so timestamp semantics match
the oracle (DuckDB) and are portable across clusters.

No config here touches the Python workers: every engine UDF sets up its
own worker (``gibbon_spark/worker.py``), so a session the caller built
pays the same per-task Python cost as this one.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _cpus() -> int:
    """Local core count: ``$SPARK_GRAFT_CPUS``, 32 when unset. An
    unparsable value raises instead of silently running on 32 cores."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        return max(1, int(raw))
    except ValueError:
        raise ValueError(f"SPARK_GRAFT_CPUS must be an integer, got {raw!r}") from None


def _driver_mem(phys_bytes: int) -> str:
    """Default driver heap: half of physical RAM, capped at 48g. A flat
    48g let the JVM grow to 12.7 GB RSS on a 15 GB host and lose it
    midway through the test suite; half the host leaves room for the
    Python workers and DuckDB."""
    return f"{min(48 << 10, phys_bytes // 2 >> 20)}m"


def get_spark(
    app_name: str = "gibbon_spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Defaults matter at 100 TB:
    - AQE + coalesce + skew-join: runtime re-planning replaces hand
      tuning; skewed join keys are split automatically.
    - ``autoBroadcastJoinThreshold`` left at default (10 MB) so small
      dims (region/nation/customer at test SF) broadcast; large-side
      joins fall back to sort-merge on the shuffled key.
    - ``maxPartitionBytes`` 128 MB: scan tasks sized to fit executor
      memory with room for shuffle buffers.
    - Parquet ZSTD: plays the Gorilla-compression role at the storage
      layer (SURVEY.md §1.3).
    - Generated-class cache of 4096 entries (Spark's default is 100): a
      long-running service re-runs the same plans, and the registry
      needs ~2.6k classes, so the default evicts and recompiles them on
      every pass. The conf is static: a caller that builds its own
      session must set it at build time.
    - Python workers start with Spark's stock daemon, as in any session:
      each engine UDF takes Spark's archives off its worker's import
      path itself (``gibbon_spark/worker.py``).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _driver_mem(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        # The oracle harness collects FULL query outputs for hash
        # comparison; at sf10 a multi-million-row result serializes past
        # the 1g default (ts_downsample_m4: 24 tasks / 1058 MiB). 4g is
        # a verification-harness allowance, not an engine requirement —
        # production consumers write results with the sinks, they don't
        # collect() them (docs/API.md "Deploying at 100 TB").
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Static conf (Spark's default is 100). The query registry needs
        # ~2.6k generated classes, which the default evicts and recompiles
        # on every pass. The bound keeps the heap held by cached classes
        # finite. Re-measure with recipe 7 of .claude/skills/verify/SKILL.md;
        # the measured figures are in ROADMAP.md D2.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def pin_shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the block and
    restore the caller's value on exit, also when the block raises."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
