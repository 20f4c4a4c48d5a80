"""Knob census: the engine reads exactly the deployment settings from the
process environment, and nothing else.

Engine behaviour is chosen through Spark conf (``spark.gibbon.*``) or
explicit arguments, which travel with the session. An environment
variable read inside ``gibbon_spark/`` is a switch any process can flip
behind the caller's back, so a new one must show up here as a test
change. The walk is over the AST, so it sees ``os.environ.get``,
``os.environ[...]``, ``os.getenv`` and ``... in os.environ`` alike; any
other use of the environment (passing it on, copying it, a non-literal
key) is reported as opaque and fails the census.

The bench harness gets the same census: ``bench.py`` and
``tools/scratch.py`` read only the paths of the data and the scratch
space they run against. How a bench measures is fixed in its code, so
two runs of the same commit measure the same way.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "gibbon_spark"

DEPLOYMENT_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
# GS_DUCK_SPILL_DIR is set by perfbench and tools/run_oracle_sweep.py
HARNESS_PATHS = {"SPARK_GRAFT_SF_DIR", "GS_DUCK_SPILL_DIR"}

_ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _is_env(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr in _ENV_NAMES) or (
        isinstance(node, ast.Name) and node.id in _ENV_NAMES
    )


def _env_key(node: ast.AST, parents: dict[ast.AST, ast.AST]) -> ast.AST | None:
    """The key expression an environment access reads, or None when the
    use is not a plain keyed read."""
    parent = parents.get(node)
    if isinstance(parent, ast.Call) and parent.func is node:  # os.getenv(k)
        return parent.args[0] if parent.args else None
    if isinstance(parent, ast.Subscript) and parent.value is node:  # environ[k]
        return parent.slice
    if isinstance(parent, ast.Compare) and node in parent.comparators:  # k in environ
        return parent.left
    if isinstance(parent, ast.Attribute) and parent.attr == "get":  # environ.get(k)
        call = parents.get(parent)
        if isinstance(call, ast.Call) and call.func is parent and call.args:
            return call.args[0]
    return None


def env_reads(root: pathlib.Path | list[pathlib.Path] = PKG) -> dict[str, list[str]]:
    """Map each environment key the package under *root*, or the list of
    repo files *root*, reads (or ``<opaque>``) to the ``file:line`` sites
    that read it."""
    if isinstance(root, list):
        paths, base = root, REPO
    else:
        paths, base = sorted(root.rglob("*.py")), root.parent
    found: dict[str, list[str]] = {}
    for path in paths:
        tree = ast.parse(path.read_text(), filename=str(path))
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if not _is_env(node):
                continue
            key = _env_key(node, parents)
            name = (
                key.value
                if isinstance(key, ast.Constant) and isinstance(key.value, str)
                else "<opaque>"
            )
            site = f"{path.relative_to(base)}:{node.lineno}"
            found.setdefault(name, []).append(site)
    return found


def test_engine_reads_only_deployment_settings():
    reads = env_reads()
    assert set(reads) == DEPLOYMENT_SETTINGS, reads


def test_harness_reads_only_deployment_paths():
    reads = env_reads([REPO / "bench.py", REPO / "tools" / "scratch.py"])
    assert set(reads) == HARNESS_PATHS, reads


def test_census_catches_every_read_form(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "import os\n"
        "from os import environ, getenv\n"
        "a = os.environ.get('A', '1')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C')\n"
        "d = 'D' in os.environ\n"
        "e = environ.get('E')\n"
        "f = getenv('F')\n"
        "g = dict(os.environ)\n"
        "h = os.environ.get(a)\n"
    )
    assert env_reads(pkg) == {
        "A": ["pkg/m.py:3"],
        "B": ["pkg/m.py:4"],
        "C": ["pkg/m.py:5"],
        "D": ["pkg/m.py:6"],
        "E": ["pkg/m.py:7"],
        "F": ["pkg/m.py:8"],
        "<opaque>": ["pkg/m.py:9", "pkg/m.py:10"],
    }
