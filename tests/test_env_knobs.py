"""Every environment variable the package reads is on one reviewed
list. A new knob means editing ALLOWED here; a knob whose experiment
is over gets deleted from the code and from this list."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "go_integ_spark"
)

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    # Spark's own variable, not a knob: read to find the install and
    # set to the shadow home the session launches from (session.py).
    "SPARK_HOME",
    # Spark's own variable, not a knob: read to version the java that
    # Spark's launcher runs, as bin/spark-class picks it (session.py).
    "JAVA_HOME",
}


def _is_os_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.AST):
    """Yield the key node of each os.environ.get(k) / os.environ[k] /
    os.getenv(k). Copying the whole mapping (dict(os.environ)) reads
    no particular key and is not reported."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_os_environ(node.value):
            yield node.slice
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and _is_os_environ(f.value))
                or (
                    f.attr == "getenv"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "os"
                )
            ):
                yield node.args[0]


def test_package_env_reads_match_allow_list():
    found: dict[str, list[str]] = {}
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for key in _env_reads(tree):
                where = f"{os.path.relpath(path, PKG)}:{key.lineno}"
                assert isinstance(key, ast.Constant) and isinstance(
                    key.value, str
                ), f"computed env var name at {where}"
                found.setdefault(key.value, []).append(where)
    assert set(found) == ALLOWED, found
