"""Spark's Python worker daemon, started with no archive on its import path.

Spark starts this module as ``python -m gibbon_daemon <worker module>``
when ``spark.python.daemon.module`` names it (``session.get_spark`` sets
that conf and puts this file's directory on the workers' PYTHONPATH).
The directory holds nothing else, so adding it to PYTHONPATH exposes no
other module. It imports only the standard library before it hands over
to ``pyspark.daemon``: no pyspark or engine import can resolve safely
until the path is settled.

Why: Spark's worker calls ``importlib.invalidate_caches()`` on every task
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that
re-reads the directory of ``pyspark.zip`` once for each zipimporter the
worker holds. With ``pyspark.zip``, the py4j zip and the spark-core jar
on the path that is 16 zipimporters and about 0.2 s of CPU per task.

When a directory install of pyspark with the same version as the
``pyspark.zip`` on the path is importable (and so is py4j), the daemon
drops every archive from ``sys.path`` and every importer cached for a
path inside an archive, so pyspark and py4j import from the directory
install. Otherwise it changes nothing. Either way it then runs the stock
``pyspark.daemon.manager()``, whose forked workers inherit the path.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def _in_archive(path: str) -> bool:
    """True for a ``.zip`` or ``.jar`` path, or a path inside one."""
    return any(part.endswith((".zip", ".jar")) for part in path.split(os.sep))


def _version(text: str) -> str | None:
    """The ``__version__`` that a ``pyspark/version.py`` assigns."""
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _installed_version(dirs: list[str]) -> str | None:
    """Version of the pyspark importable from the directories ``dirs``,
    or None when there is none or py4j is not importable beside it."""
    spec = PathFinder.find_spec("pyspark", dirs)
    if spec is None or spec.origin is None or PathFinder.find_spec("py4j", dirs) is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def _zip_version(path: list[str]) -> str | None:
    """Version of the first ``pyspark.zip`` on ``path``, or None."""
    for entry in path:
        if os.path.basename(entry) == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as z:
                    return _version(z.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                return None
    return None


def drop_archives(path: list[str], importer_cache: dict) -> bool:
    """Remove the archives from ``path`` and their importers from
    ``importer_cache`` (in place) when the directory-installed pyspark
    has the same version as ``pyspark.zip``; return whether it did.

    Both must go: with only the path entries dropped, the importers
    already cached for the zips and the jar stay, and so does most of
    the per-task cost.
    """
    dirs = [p for p in path if not _in_archive(p)]
    zipped = _zip_version(path)
    if zipped is None or _installed_version(dirs) != zipped:
        return False
    path[:] = dirs
    for key in [k for k in importer_cache if isinstance(k, str) and _in_archive(k)]:
        del importer_cache[key]
    return True


if __name__ == "__main__":
    drop_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
