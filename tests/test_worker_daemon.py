"""The zip-free worker daemon's decision, on synthetic import paths (no
JVM). It drops the archives only when the directory-installed pyspark
matches the ``pyspark.zip`` on the path; in every other case it leaves
the path and the importer cache exactly as they were."""

from __future__ import annotations

import ast
import sys
import zipfile
from pathlib import Path

import pytest

from gibbon_spark._worker import gibbon_daemon


def _pyspark_zip(root: Path, version: str) -> str:
    path = root / "lib" / "pyspark.zip"
    path.parent.mkdir(parents=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def _site(root: Path, version: str, *, py4j: bool = True) -> str:
    site = root / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f"__version__: str = '{version}'\n")
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return str(site)


def _stdlib() -> str:
    return str(Path(ast.__file__).parent)


def _cache(path: list[str]) -> dict:
    """A stand-in importer cache: one entry per path entry, plus the
    subpackage entries a zipimporter leaves behind."""
    cache = {p: object() for p in path}
    cache.update({f"{p}/pyspark": object() for p in path if p.endswith(".zip")})
    return cache


def test_matching_versions_drop_every_archive_and_its_importers(tmp_path):
    zip_, jar, site = _pyspark_zip(tmp_path, "4.1.2"), str(tmp_path / "core.jar"), _site(tmp_path, "4.1.2")
    path = [zip_, jar, site, _stdlib()]
    cache = _cache(path)
    assert gibbon_daemon.drop_archives(path, cache)
    assert path == [site, _stdlib()]
    assert sorted(cache) == sorted([site, _stdlib()])


@pytest.mark.parametrize(
    "case",
    ["versions differ", "no directory install", "no pyspark.zip", "no py4j beside pyspark"],
)
def test_any_mismatch_leaves_path_and_cache_untouched(tmp_path, case):
    zip_ = _pyspark_zip(tmp_path, "4.1.2")
    if case == "versions differ":
        path = [zip_, _site(tmp_path, "4.0.0"), _stdlib()]
    elif case == "no directory install":  # PathFinder finds no pyspark here
        path = [zip_, _stdlib()]
    elif case == "no pyspark.zip":
        path = [str(tmp_path / "core.jar"), _site(tmp_path, "4.1.2"), _stdlib()]
    else:
        path = [zip_, _site(tmp_path, "4.1.2", py4j=False), _stdlib()]
    cache = _cache(path)
    before_path, before_cache = list(path), dict(cache)
    assert not gibbon_daemon.drop_archives(path, cache)
    assert path == before_path
    assert cache == before_cache


def test_daemon_module_imports_only_stdlib():
    """The daemon runs before the worker's pyspark import is settled, and
    no gibbon_spark import resolves in the worker: its directory is the
    only one the session adds to the workers' path."""
    roots = set()
    for node in ast.parse(Path(gibbon_daemon.__file__).read_text()).body:
        if isinstance(node, ast.Import):
            roots |= {alias.name.split(".")[0] for alias in node.names}
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import of {node.module}"
            roots.add(node.module.split(".")[0])
    assert roots <= sys.stdlib_module_names, sorted(roots)
    files = {p.name for p in Path(gibbon_daemon.__file__).parent.iterdir()}
    assert files - {"__pycache__"} == {"gibbon_daemon.py"}
