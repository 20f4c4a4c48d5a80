"""gibbon_spark — a PySpark-native time-series analytics engine.

Re-expresses the capabilities of the reference Gorilla-format library
(johshoff/gibbon, surveyed in SURVEY.md) Spark-first:

- data model: multi-series ``(series_id, ts, value)`` tables stored as
  time-bucketed Parquet (2-hour buckets, the Gorilla block analog —
  reference ``examples/csv_to_packed.rs:17``),
- queries: DataFrame / SQL plans optimized by Catalyst (scan, filter,
  project, aggregate, window, join, set ops),
- streaming: Structured Streaming ingestion with watermarks,
- north-star extensions: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard), embedding similarity search, text analysis, and
  multimodal binary-column plumbing for LLM data pipelines.

Everything here is built on the public Apache Spark API. Nothing is
ported from the reference's Rust; reference files are cited in
docstrings only to document *what* semantics each operator mirrors.
"""

import sys

from pyspark.cloudpickle import register_pickle_by_value

from gibbon_spark.session import get_spark
from gibbon_spark.sources.tables import TABLES, load_table, load_tables, register_views

# UDFs pickle the engine code they call by value, so workers need no install.
register_pickle_by_value(sys.modules[__name__])

__all__ = [
    "get_spark",
    "TABLES",
    "load_table",
    "load_tables",
    "register_views",
]

__version__ = "0.1.0"
