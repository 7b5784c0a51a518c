"""``operators/dispatch``: the package's only bounded size probes.

The helpers' boundary (cap rows fit, cap + 1 rows do not, an empty
frame fits), the forcing fixture, and a source guard that keeps every
``limit(… + 1)`` probe inside ``dispatch.py``."""

from __future__ import annotations

import ast
import os

import pytest

import geo_big_data_analysis_spark
from geo_big_data_analysis_spark.operators import dispatch


@pytest.mark.parametrize("n, fits", [(0, True), (5, True), (6, False)])
def test_probe_boundary(spark, n, fits):
    cap = 5
    df = spark.range(n).selectExpr("id", "id * 0.5 AS x")
    assert dispatch.fits(df, cap) is fits
    tbl = dispatch.driver_rows(df, cap)
    if not fits:
        assert tbl is None
        return
    assert tbl.num_rows == n and tbl.column_names == ["id", "x"]
    assert dispatch.tuples(tbl) == [(i, i * 0.5) for i in range(n)]


def test_force_distributed(spark, force_distributed):
    df = spark.range(1)
    assert dispatch.fits(df, 10) and dispatch.driver_rows(df, 10) is not None
    force_distributed()
    assert not dispatch.fits(df, 10) and dispatch.driver_rows(df, 10) is None


#: Bounded probes outside dispatch.py that are output-size guards (they
#: raise past the bound), not size dispatch.
_ALLOWED = {
    (os.path.join("sources", "sinks.py"), "write_json_stats"),
    (os.path.join("sources", "sinks.py"), "write_html_report"),
}


def _is_probe(arg: ast.expr) -> bool:
    """``limit(x + 1)``, or a literal ``limit(N)`` with N - 1 a multiple
    of 1000 (``limit(100_001)``)."""
    if isinstance(arg, ast.BinOp) and isinstance(arg.op, ast.Add):
        return isinstance(arg.right, ast.Constant) and arg.right.value == 1
    if isinstance(arg, ast.Constant) and isinstance(arg.value, int):
        return arg.value > 1000 and (arg.value - 1) % 1000 == 0
    return False


def _probes(tree: ast.AST):
    """(enclosing function, line) of every ``.limit(<probe>)`` call."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "limit"
                and child.args
                and _is_probe(child.args[0])
            ):
                yield fn, child.lineno
            yield from walk(child, name)

    yield from walk(tree, None)


def test_probe_check_sees_the_old_forms():
    src = (
        "def f(e, cap):\n"
        "    a = e.limit(cap + 1).collect()\n"
        "    b = e.limit(2_001).count()\n"
        "    c = e.limit(10).collect()\n"
    )
    assert [ln for _, ln in _probes(ast.parse(src))] == [2, 3]


def test_bounded_probes_only_in_dispatch():
    root = os.path.dirname(geo_big_data_analysis_spark.__file__)
    hits = []
    for base, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(base, name)
            rel = os.path.relpath(path, root)
            if not name.endswith(".py") or rel == os.path.join("operators", "dispatch.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            hits += [
                f"{rel}:{ln} ({fn})" for fn, ln in _probes(tree) if (rel, fn) not in _ALLOWED
            ]
    assert not hits, hits
