"""Worker-side setup: every function that engine code hands to a Python
stage (``mapInPandas``, ``applyInPandas``, cogrouped ``applyInPandas``,
``applyInPandasWithState``, ``pandas_udf``, ``udtf``) calls
``drop_spark_archives()`` as its first statement.

Why: Spark's Python worker calls ``importlib.invalidate_caches()`` on
every task (``pyspark.worker_util.setup_spark_files``). On Python 3.11
that re-reads the directory of ``pyspark.zip`` once for each zipimporter
in ``sys.path_importer_cache``, and a stock worker holds 16 of them
(``pyspark.zip``, the py4j zip, the spark-core jar and the package
directories inside them): about 0.2 s of worker CPU per task. Once the
helper has run, later tasks on the same worker process pay about 0.03 s.
The first task of each worker process still pays the stock cost.

The worker has already imported pyspark and py4j from those archives.
Their submodules keep resolving through the packages' own ``__path__``
inside the archives, so no module loads from two places; such an import
caches one more importer, which the next call drops. A caller's own zip
or jar stays. The module imports only the standard library: it reaches
the workers pickled by value inside each UDF (``gibbon_spark/__init__.py``),
in whatever session the caller built.
"""

from __future__ import annotations

import os
import re
import sys

# pyspark.zip, py4j-<version>-src.zip or spark-core_<scala>-<version>.jar
# as one component of a path: the archive itself or a directory inside it.
_SEP = re.escape(os.sep)
_SPARK_ARCHIVE = re.compile(
    rf"(?:^|{_SEP})(?:pyspark\.zip|py4j-[^{_SEP}]*\.zip|spark-core[^{_SEP}]*\.jar)(?:{_SEP}|$)"
)


def _is_spark_archive(path: object) -> bool:
    """True for a path that is, or lies inside, one of Spark's archives.
    The substring test rejects the common path without the regex."""
    return (
        isinstance(path, str)
        and ("pyspark.zip" in path or "py4j-" in path or "spark-core" in path)
        and _SPARK_ARCHIVE.search(path) is not None
    )


def drop_spark_archives() -> None:
    """Remove Spark's archives from ``sys.path``, and every
    ``sys.path_importer_cache`` key that is one of them or lies inside
    one.

    Both must go: with only the path entries dropped, the importers
    already cached for the archives and their directories stay, and so
    does most of the per-task cost. A second call changes nothing. The
    steady-state call, with nothing left to drop, costs about 30 us in a
    reused worker (6-entry path, 75-entry importer cache; median of 60
    tasks, 4-core host), against about 0.03 s of fixed cost per task.
    """
    sys.path[:] = [p for p in sys.path if not _is_spark_archive(p)]
    cache = sys.path_importer_cache
    for key in [k for k in cache if _is_spark_archive(k)]:
        del cache[key]
