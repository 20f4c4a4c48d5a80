"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over :mod:`gibbon_spark.registry` — the registry pairs each
Spark DataFrame plan with its DuckDB oracle SQL (see SURVEY.md §2 for
the operator inventory each entry covers).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gibbon_spark import registry as _registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's five scan-aggregates in one pass
    (csv_to_packed.rs:36-76) over sf0.001 events."""
    return _registry.queries()["ts_summary"](spark, "/root/testdata/sf0.001")


# Driver-window rotation lives in gibbon_spark.registry.priority_window()
# (the registry front-loads it; the driver samples the first 50 names).
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
