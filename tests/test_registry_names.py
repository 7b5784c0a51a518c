"""`plans/registry.py` names its queries one way: every REGISTRY key is
its function's name without the `q_` prefix, and every top-level `q_*`
function is registered. A helper named like a query is a query nobody
runs; an entry pointing at another function hides which code answers
the name. Read from the source with `ast`; no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

REGISTRY_PY = (
    Path(__file__).resolve().parents[1]
    / "geo_big_data_analysis_spark"
    / "plans"
    / "registry.py"
)


def _mismatches(src: str) -> list[str]:
    """Every breach of the naming rule in a registry module's source."""
    tree = ast.parse(src)
    queries = {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_")
    }
    (registry,) = (
        node.value
        for node in tree.body
        if isinstance(node, ast.AnnAssign) and getattr(node.target, "id", None) == "REGISTRY"
    )
    out = []
    registered = set()
    for key, value in zip(registry.keys, registry.values):
        name = key.value
        fn = value.elts[0]
        if not (isinstance(fn, ast.Name) and fn.id == f"q_{name}" and fn.id in queries):
            out.append(f"REGISTRY[{name!r}] is {ast.unparse(fn)}, not a top-level q_{name}")
        registered.add(getattr(fn, "id", None))
    out += [f"{fn} is not registered" for fn in sorted(queries - registered)]
    return out


def test_every_q_function_is_its_registry_entry():
    assert _mismatches(REGISTRY_PY.read_text()) == []


def test_guard_catches_planted_breaches():
    src = REGISTRY_PY.read_text()
    planted = src + "\n\ndef q_planted_helper(spark, sf_dir):\n    return None\n"
    assert _mismatches(planted) == ["q_planted_helper is not registered"]
    aliased = src.replace(
        '"pricing_summary": (q_pricing_summary,', '"pricing_summary": (q_union_stack,', 1
    )
    assert _mismatches(aliased) == [
        "REGISTRY['pricing_summary'] is q_union_stack, not a top-level q_pricing_summary",
        "q_pricing_summary is not registered",
    ]
