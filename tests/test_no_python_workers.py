"""No operator in the package may start Python workers, and no module
but the session factory may read the environment.

Every operator runs as JVM expressions.  A pandas import or a call to
one of PySpark's Python-worker APIs (``mapInPandas``,
``applyInPandas``, ``applyInPandasWithState``, ``pandas_udf``,
``udf``) would ship rows across the JVM/Python boundary, so these tests
read the source of every module with ``ast`` and fail on either.  An
environment switch would pick a plan outside the function arguments
the tests and the benchmark drive, so only ``session.py`` (whose
``SPARK_GRAFT_*`` values are deployment settings) may read one.
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
ENV_APIS = {"environ", "getenv", "environb", "getenvb"}


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


def _env_reads(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ENV_APIS
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            found.append(f"os.{node.attr}")
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            found += [f"from os import {a.name}" for a in node.names if a.name in ENV_APIS]
    return found


def _scan(check, skip=()) -> dict[str, list[str]]:
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    bad = {}
    for path in modules:
        rel = str(path.relative_to(PACKAGE.parent))
        if rel in skip:
            continue
        offences = check(ast.parse(path.read_text(), filename=str(path)))
        if offences:
            bad[rel] = offences
    return bad


def test_no_module_starts_python_workers():
    bad = _scan(_offences)
    assert bad == {}, bad


def test_only_session_reads_the_environment():
    bad = _scan(_env_reads, skip={"datapatterns_spark/session.py"})
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
