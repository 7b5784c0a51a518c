"""`plans/registry.py` declares each query once: ``@query(oracle)`` on
its ``q_<name>`` function registers it as ``name``. These tests hold the
three rules that keep that declaration the only one:

- the module's top-level ``q_*`` functions are exactly the functions in
  ``REGISTRY``, each under its own name (a helper named like a query is
  a query nobody runs);
- ``query`` refuses a function not named ``q_<name>`` and a name that is
  already registered;
- no top-level function body imports anything: the layers are called
  through the module aliases imported once at the top, so a traced run
  reaches its wrappers. A kernel nested in a query runs in a Python
  worker and may import.

No Spark session; each check is shown catching a planted breach."""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

import pytest

from geo_big_data_analysis_spark.plans import registry

REGISTRY_PY = Path(registry.__file__)


def _unregistered(namespace: dict, reg: dict) -> list[str]:
    """Every breach of "the top-level q_* functions are the REGISTRY"."""
    queries = {
        name: obj
        for name, obj in namespace.items()
        if name.startswith("q_") and inspect.isfunction(obj)
    }
    out = [
        f"REGISTRY[{name!r}] is {fn.__name__}, not q_{name}"
        for name, (fn, _) in reg.items()
        if queries.get(f"q_{name}") is not fn
    ]
    out += [f"{fn} is not registered" for fn in sorted(queries) if fn[2:] not in reg]
    return out


def test_every_q_function_is_its_registry_entry():
    assert _unregistered(vars(registry), registry.REGISTRY) == []


def test_guard_catches_planted_breaches():
    def q_planted_helper(spark, sf_dir):
        return None

    planted = {**vars(registry), "q_planted_helper": q_planted_helper}
    assert _unregistered(planted, registry.REGISTRY) == ["q_planted_helper is not registered"]
    aliased = dict(registry.REGISTRY)
    aliased["pricing_summary"] = (registry.q_union_stack, aliased["pricing_summary"][1])
    assert _unregistered(vars(registry), aliased) == [
        "REGISTRY['pricing_summary'] is q_union_stack, not q_pricing_summary"
    ]


def test_query_refuses_a_bad_name_and_a_duplicate():
    before = (dict(registry.REGISTRY), list(registry.BENCHED))

    def helper(spark, sf_dir):
        return None

    def q_pricing_summary(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="q_<name>"):
        registry.query("SELECT 1")(helper)
    with pytest.raises(ValueError, match="registered twice"):
        registry.query("SELECT 1", bench=False)(q_pricing_summary)
    assert (registry.REGISTRY, registry.BENCHED) == before


def _body_imports(src: str) -> list[str]:
    """Each import statement in a top-level function's own body (nested
    functions and lambdas excluded), as ``function:line``."""
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            if isinstance(child, (ast.Import, ast.ImportFrom)):
                out.append(f"{fn.name}:{child.lineno}")
            walk(child, fn)

    for fn in ast.parse(src).body:
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            walk(fn, fn)
    return out


def test_no_import_in_a_top_level_function_body():
    assert _body_imports(REGISTRY_PY.read_text()) == []


def test_import_guard_catches_planted_breaches():
    src = REGISTRY_PY.read_text()
    n = src.count("\n") + 1
    planted = src + (
        "\n\ndef q_planted(spark, sf_dir):\n"
        "    from ..graph.algorithms import pagerank\n"
        "    if spark:\n"
        "        import numpy as np\n"
        "\n"
        "    def kernel(x):\n"
        "        import numpy as np\n"
        "        return np.sum(x)\n"
        "\n"
        "    return pagerank, kernel\n"
    )
    assert _body_imports(planted) == [f"q_planted:{n + 3}", f"q_planted:{n + 5}"]
