"""The engine, its scripts and its tests are configured through explicit
parameters: no Python file outside ``geobench/`` reads one of the retired
environment knobs (``KNOB``: the ``SPARK_`` names with a ``GRAFT_`` prefix,
and the driver memory one). geobench's launcher strips them from the
environment of the runs it starts, so it may name them; this file spells
them as a pattern so that a plain text search for them finds nothing
outside geobench."""

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_DIRS = {"geobench"}
KNOB = re.compile(r"SPARK_(GRAFT_\w+|DRIVER_MEM)")


def _is_knob(name) -> bool:
    return isinstance(name, str) and KNOB.fullmatch(name) is not None


def _is_environ(node) -> bool:
    return ast.unparse(node).split(".")[-1] == "environ"


def _env_reads(tree: ast.AST) -> list[str]:
    """Knob names read by ``os.environ[...]``, ``os.environ.get/pop/
    setdefault(...)``, ``os.getenv(...)`` or ``... in os.environ``."""
    found = []
    for node in ast.walk(tree):
        keys = []
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys = [node.slice]
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if (isinstance(f, ast.Attribute) and _is_environ(f.value)) or (
                ast.unparse(f).split(".")[-1] == "getenv"
            ):
                keys = [node.args[0]]
        elif isinstance(node, ast.Compare) and any(_is_environ(c) for c in node.comparators):
            keys = [node.left]
        found += [k.value for k in keys if isinstance(k, ast.Constant) and _is_knob(k.value)]
    return found


def test_env_reader_sees_every_form():
    a, b, c, d = (f"SPARK_{k}" for k in ("GRAFT_CPUS", "DRIVER_MEM", "GRAFT_SF_DIR", "GRAFT_WARM"))
    src = (
        "import os\n"
        f"a = os.environ.get('{a}', '4')\n"
        f"b = os.environ['{b}']\n"
        f"c = os.getenv('{c}')\n"
        f"d = '{d}' in os.environ\n"
        "e = os.environ.get('HOME')\n"
        "f = os.environ.get('SPARK_HOME')\n"
    )
    assert sorted(_env_reads(ast.parse(src))) == sorted([a, b, c, d])


def test_no_python_file_outside_geobench_reads_an_env_knob():
    reads = {}
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS and not d.startswith(".")]
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    found = _env_reads(ast.parse(f.read(), path))
                if found:
                    reads[os.path.relpath(path, REPO)] = sorted(set(found))
    assert reads == {}
