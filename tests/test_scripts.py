"""Guard against script rot: every ``scripts/*.py`` imports without
starting Spark, and every package name it imports — at module level or
inside a function — and every attribute it reads off an imported
module (``bench.<attr>``, ``Q.QUERIES``, ...) still exists. A refactor
that renames something a script uses fails here."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))


def _module_aliases(tree: ast.AST) -> tuple[dict[str, object], list[str]]:
    """Names the script binds to repo modules, and what failed to
    resolve."""
    aliases: dict[str, object] = {}
    missing: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == "bench" or a.name.startswith("dbt_bigquery_udf_spark"):
                    mod = importlib.import_module(a.name)
                    if a.asname:
                        aliases[a.asname] = mod
                    elif a.name == "bench":
                        aliases["bench"] = mod
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "dbt_bigquery_udf_spark"
        ):
            mod = importlib.import_module(node.module)
            for a in node.names:
                try:
                    obj = getattr(mod, a.name)
                except AttributeError:
                    try:
                        obj = importlib.import_module(f"{node.module}.{a.name}")
                    except ImportError:
                        missing.append(f"{node.module}.{a.name}")
                        continue
                if isinstance(obj, type(sys)):
                    aliases[a.asname or a.name] = obj
    return aliases, missing


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports_resolve(path, monkeypatch):
    from pyspark import SparkContext

    monkeypatch.syspath_prepend(REPO)
    active = SparkContext._active_spark_context
    name = "_script_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert SparkContext._active_spark_context is active, "import started Spark"

    tree = ast.parse(open(path).read())
    aliases, missing = _module_aliases(tree)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and not hasattr(aliases[node.value.id], node.attr)
        ):
            missing.append(f"{node.value.id}.{node.attr}")
    assert not missing, f"{os.path.basename(path)} uses names that are gone: {missing}"

