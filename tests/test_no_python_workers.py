"""No operator in the package may start Python workers.

Every operator runs as JVM expressions.  A pandas import or a call to
one of PySpark's Python-worker APIs (``mapInPandas``,
``applyInPandas``, ``applyInPandasWithState``, ``pandas_udf``,
``udf``) would ship rows across the JVM/Python boundary, so this test
reads the source of every module with ``ast`` and fails on either.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "datapatterns_spark"
WORKER_APIS = {
    "mapInPandas",
    "applyInPandas",
    "applyInPandasWithState",
    "pandas_udf",
    "udf",
}


def _offences(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [
                f"import {a.name}"
                for a in node.names
                if a.name.split(".")[0] == "pandas"
            ]
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] == "pandas":
                found.append(f"from {node.module} import ...")
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in WORKER_APIS:
                found.append(f"{name}(...)")
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            # a bare ``@udf`` / ``@pandas_udf`` decorator is no call
            for d in node.decorator_list:
                name = d.attr if isinstance(d, ast.Attribute) else getattr(d, "id", None)
                if name in WORKER_APIS:
                    found.append(f"@{name}")
    return found


def test_no_module_starts_python_workers():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    bad = {}
    for path in modules:
        tree = ast.parse(path.read_text(), filename=str(path))
        offences = _offences(tree)
        if offences:
            bad[str(path.relative_to(PACKAGE.parent))] = offences
    assert bad == {}, bad


def test_get_spark_leaves_pythonpath(spark, monkeypatch):
    """With no Python worker to serve, building the session changes no
    process environment: ``PYTHONPATH`` stays as the caller set it."""
    import os

    from datapatterns_spark.session import get_spark

    monkeypatch.delenv("PYTHONPATH", raising=False)
    get_spark("datapatterns-tests", master="local[4]", shuffle_partitions=4)
    assert "PYTHONPATH" not in os.environ
    monkeypatch.setenv("PYTHONPATH", "elsewhere")
    get_spark("datapatterns-tests", master="local[4]", shuffle_partitions=4)
    assert os.environ["PYTHONPATH"] == "elsewhere"
