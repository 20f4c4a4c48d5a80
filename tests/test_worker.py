"""The worker-side setup every engine UDF runs first (no JVM): what
``drop_spark_archives`` drops on a synthetic import path and importer
cache, and a static check that every function ``gibbon_spark`` hands
to a Python stage calls it as its first statement."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest

import gibbon_spark
from gibbon_spark import worker
from gibbon_spark.worker import drop_spark_archives

PYSPARK_ZIP = "/opt/spark/python/lib/pyspark.zip"
PY4J_ZIP = "/opt/spark/python/lib/py4j-0.10.9.9-src.zip"
CORE_JAR = "/opt/spark-4.1.2-bin-hadoop3/jars/spark-core_2.13-4.1.2.jar"
KEPT = [
    "/job",
    "/tmp/spark-1/userFiles-2",
    "/deps/deps.zip",  # a caller's own zip
    "/usr/lib/python311.zip",  # the stdlib zip
    "/usr/lib/python3.11",
    "/usr/lib/python3.11/site-packages",
]


@pytest.fixture
def worker_state(monkeypatch) -> tuple[list[str], dict]:
    """Install a stock worker's path and importer cache, as a worker on
    the 4-core host held them, with a caller's zip and its package added."""
    path = KEPT[:2] + [PYSPARK_ZIP, PY4J_ZIP, CORE_JAR] + KEPT[2:]
    inside = [
        f"{PYSPARK_ZIP}/pyspark",
        f"{PYSPARK_ZIP}/pyspark/sql/pandas",
        f"{PY4J_ZIP}/py4j",
        f"{CORE_JAR}/org",  # a basename match misses this one
    ]
    cache = {p: object() for p in [*path, *inside, "/deps/deps.zip/mypkg"]}
    monkeypatch.setattr(sys, "path", path)
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    return path, cache


def test_drops_spark_archives_and_every_key_inside_them(worker_state):
    path, cache = worker_state
    drop_spark_archives()
    assert sys.path is path and path == KEPT
    assert sys.path_importer_cache is cache
    assert sorted(cache) == sorted([*KEPT, "/deps/deps.zip/mypkg"])


def test_second_call_changes_nothing(worker_state):
    path, cache = worker_state
    drop_spark_archives()
    before_path, before_cache = list(path), dict(cache)
    drop_spark_archives()
    assert path == before_path
    assert cache == before_cache


def test_lookalike_names_stay(monkeypatch):
    """Only the archive names match, as whole path components."""
    path = [
        "/opt/my-pyspark.zip",
        "/opt/pyspark.zipped",
        "/opt/spark-core-notes",
        "/opt/py4j-src",
        "/opt/spark-core_2.13.jar.d",
    ]
    cache = {p: object() for p in path}
    monkeypatch.setattr(sys, "path", path)
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    drop_spark_archives()
    assert len(path) == 5 and len(cache) == 5


def test_module_imports_only_stdlib():
    """The helper is pickled by value into every UDF; a worker resolves
    its imports without the package installed."""
    roots = set()
    for node in ast.parse(Path(worker.__file__).read_text()).body:
        if isinstance(node, ast.Import):
            roots |= {alias.name.split(".")[0] for alias in node.names}
        elif isinstance(node, ast.ImportFrom):
            roots.add(node.module.split(".")[0])
    assert roots <= sys.stdlib_module_names | {"__future__"}, sorted(roots)


# ---------------------------------------------------------------------------
# Static check: every engine UDF calls the helper first
# ---------------------------------------------------------------------------

# DataFrame methods whose first argument runs in a Python worker
_STAGE_METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
# decorators (or wrapping calls) whose function or class runs in one
_STAGE_WRAPPERS = {"pandas_udf", "udtf"}
_HELPER = "drop_spark_archives"


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _calls_helper_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and _name(first.value.func) == _HELPER
        and not first.value.args
        and not first.value.keywords
    )


def _entry(node: ast.AST) -> ast.FunctionDef | None:
    """The function that must call the helper: the function itself, or a
    UDTF class's ``__init__`` (once per task, where ``eval`` runs per row)."""
    if isinstance(node, ast.Lambda):
        return None
    if isinstance(node, ast.ClassDef):
        return next((n for n in node.body if getattr(n, "name", None) == "__init__"), None)
    return node


def stage_sites(source: str, filename: str) -> list[tuple[str, bool]]:
    """Every function ``source`` hands to a Python stage, as
    ``(file:line name, calls the helper first)``."""
    tree = ast.parse(source)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}

    def resolve(name: str, at: ast.AST) -> ast.AST | None:
        """The nearest enclosing scope's def or class called ``name``."""
        scope = parents.get(at)
        while scope is not None:
            if isinstance(scope, (ast.FunctionDef, ast.Module)):
                for n in ast.walk(scope):
                    if isinstance(n, (ast.FunctionDef, ast.ClassDef)) and n.name == name:
                        return n
            scope = parents.get(scope)
        return None

    handed: list[tuple[ast.AST, ast.AST]] = []  # (site, handed node)
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            for dec in node.decorator_list:
                if _name(dec.func if isinstance(dec, ast.Call) else dec) in _STAGE_WRAPPERS:
                    handed.append((node, node))
        elif isinstance(node, ast.Call) and node.args:
            called = _name(node.func)
            if called in _STAGE_METHODS or called in _STAGE_WRAPPERS:
                arg = node.args[0]
                if isinstance(arg, ast.Lambda):
                    handed.append((node, arg))
                elif isinstance(arg, ast.Name):
                    target = resolve(arg.id, node)
                    assert target is not None or called in _STAGE_WRAPPERS, (
                        f"{filename}:{node.lineno} hands {arg.id!r} to {called}, "
                        "which is not a def in scope"
                    )
                    if target is not None:
                        handed.append((node, target))

    sites, seen = [], set()
    for site, target in handed:
        if id(target) in seen:
            continue
        seen.add(id(target))
        fn = _entry(target)
        label = getattr(target, "name", "<lambda>")
        ok = fn is not None and _calls_helper_first(fn)
        sites.append((f"{filename}:{site.lineno} {label}", ok))
    return sites


def test_every_engine_udf_calls_the_helper_first():
    root = Path(gibbon_spark.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        sites += stage_sites(path.read_text(), str(path.relative_to(root.parent)))
    missing = [label for label, ok in sites if not ok]
    assert not missing, f"Python-stage functions without {_HELPER}() first: {missing}"
    # the scan found the engine's UDFs, not nothing
    assert len(sites) >= 24, sites


def test_static_check_names_a_site_without_the_helper():
    source = '''
def op(df, F):
    def good(batches):
        drop_spark_archives()
        yield from batches

    def bad(batches):
        import pandas
        drop_spark_archives()
        yield from batches

    @F.pandas_udf("int")
    def scalar(s):
        return s

    @udtf(returnType="x int")
    class Table:
        def eval(self, x):
            drop_spark_archives()
            yield (x,)

    df.mapInPandas(good, "x int")
    df.groupBy("k").applyInPandas(bad, "x int")
    return df.mapInPandas(lambda it: it, "x int")
'''
    sites = dict(stage_sites(source, "m.py"))
    assert sites == {
        "m.py:22 good": True,
        "m.py:23 bad": False,
        "m.py:13 scalar": False,
        "m.py:17 Table": False,  # eval is per row; __init__ must call it
        "m.py:24 <lambda>": False,
    }
