"""Every defaulted parameter of a package function has a caller that
sets it.

A default that no caller overrides is a setting with one value in use:
it belongs in the body as a literal or a named constant, and the
branches only another value could reach are untested code. The guard
scans every call in the package, ``tools/``, ``tests/``, ``perfbench/``
and ``bench.py``, resolves the callee through the module's imports
(aliases and ``from`` re-exports included) and counts a parameter as
set when a call passes it by position or by keyword; a call that
forwards ``*args`` or ``**kw`` counts as setting every parameter it
could reach. Deployment settings (a master URL, an index directory)
stay configurable without a caller and are listed by name."""

from __future__ import annotations

import ast
import os

from tools.counts import defaulted_params

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "geo_big_data_analysis_spark"
SEARCHED = (PACKAGE, "tools", "tests", "perfbench")

#: (module, function, parameter): deployment settings, kept as
#: parameters although no caller in the repository sets them.
DEPLOYMENT = {
    (f"{PACKAGE}.session", "get_spark", "master"),
    (f"{PACKAGE}.sources.ann_index", "ensure_minhash_upsert", "base_dir"),
    (f"{PACKAGE}.sources.ann_index", "ensure_ivfpq_upsert", "base_dir"),
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _repo_sources() -> dict[str, str]:
    """Repository-relative path -> source of every searched file."""
    out = {}
    for top in SEARCHED:
        for base, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                if name.endswith(".py"):
                    path = os.path.join(base, name)
                    with open(path, encoding="utf-8") as fh:
                        out[os.path.relpath(path, ROOT)] = fh.read()
    with open(os.path.join(ROOT, "bench.py"), encoding="utf-8") as fh:
        out["bench.py"] = fh.read()
    return out


def dead_params(sources: dict[str, str]) -> list[tuple[str, str, str]]:
    """(module, function, parameter) of every defaulted parameter of a
    top-level package function that no call in ``sources`` sets."""
    trees, packages = {}, set()
    for path, src in sources.items():
        mod = path[:-3].replace(os.sep, ".").replace("/", ".")
        if mod.endswith(".__init__"):
            mod = mod[: -len(".__init__")]
            packages.add(mod)
        trees[mod] = ast.parse(src)
    defs = {m: {n.name: n for n in t.body if isinstance(n, _FUNCS)} for m, t in trees.items()}
    # tools/ and perfbench/ scripts import their siblings by bare name
    bare = {m.rsplit(".", 1)[1]: m for m in trees if m.startswith(("tools.", "perfbench."))}

    def module(name: str) -> str:
        head, _, rest = name.partition(".")
        if name not in trees and head in bare:
            return bare[head] + ("." + rest if rest else "")
        return name

    aliases: dict[str, dict[str, tuple]] = {}
    for m, tree in trees.items():
        al = aliases[m] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    name = a.name if a.asname else a.name.split(".")[0]
                    al[a.asname or name] = ("mod", module(name))
            elif isinstance(node, ast.ImportFrom):
                src = node.module or ""
                if node.level:
                    parts = m.split(".")[: None if m in packages else -1]
                    parts = parts[: len(parts) - node.level + 1]
                    src = ".".join(parts + ([src] if src else []))
                src = module(src)
                for a in node.names:
                    sub = f"{src}.{a.name}"
                    al[a.asname or a.name] = ("mod", sub) if sub in trees else ("fn", src, a.name)

    def function(mod: str, name: str, depth: int = 0):
        if name in defs.get(mod, {}):
            return mod, name
        a = aliases.get(mod, {}).get(name)
        if a and a[0] == "fn" and depth < 8:
            return function(a[1], a[2], depth + 1)
        return None

    def callee(mod: str, node: ast.expr):
        parts = []
        while isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        if not isinstance(node, ast.Name):
            return None
        parts = [node.id] + parts[::-1]
        if len(parts) == 1:
            return function(mod, parts[0])
        a = aliases[mod].get(parts[0])
        if not a:
            return None
        base = a[1] if a[0] == "mod" else f"{a[1]}.{a[2]}"
        return function(".".join([base] + parts[1:-1]), parts[-1])

    passed: dict[tuple[str, str], set[str]] = {}
    for m, tree in trees.items():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            if isinstance(func, (ast.Name, ast.Attribute)) and (
                getattr(func, "id", None) == "partial" or getattr(func, "attr", None) == "partial"
            ) and args:
                func, args = args[0], args[1:]
            target = callee(m, func)
            if target is None:
                continue
            a = defs[target[0]][target[1]].args
            positional = [p.arg for p in a.posonlyargs + a.args]
            got = passed.setdefault(target, set())
            if any(isinstance(x, ast.Starred) for x in args):
                got.update(positional)
            else:
                got.update(positional[: len(args)])
            for kw in node.keywords:
                if kw.arg is None:
                    got.update(positional + [p.arg for p in a.kwonlyargs])
                else:
                    got.add(kw.arg)

    return [
        (m, name, p)
        for m in sorted(trees)
        if m == PACKAGE or m.startswith(PACKAGE + ".")
        for name, fn in defs[m].items()
        for p in defaulted_params(fn)
        if p not in passed.get((m, name), set())
    ]


def test_dead_param_check_sees_a_planted_default():
    pkg = f"{PACKAGE}/m.py"
    sources = {
        f"{PACKAGE}/__init__.py": "",
        pkg: (
            "def f(a, b=1, c=2, d=3, *, e=4):\n    return a\n\n"
            "def g(**kw):\n    return h(**kw)\n\n"
            "def h(x=1, y=2):\n    return x + y\n"
        ),
        "tests/t.py": (
            f"from {PACKAGE} import m as mm\n"
            f"from {PACKAGE}.m import f as ff\n\n"
            "mm.f(0, 5)\nff(0, d=1)\nmm.g(x=2)\n"
        ),
    }
    # b by position through a module alias, d by keyword through a
    # function alias, h's x and y through g's **kw forwarding
    assert dead_params(sources) == [(f"{PACKAGE}.m", "f", "c"), (f"{PACKAGE}.m", "f", "e")]
    sources["tests/t.py"] += "ff(0, 1, 2, e=3)\n"
    assert dead_params(sources) == []


def test_every_defaulted_param_has_a_caller():
    dead = [d for d in dead_params(_repo_sources()) if d not in DEPLOYMENT]
    assert not dead, [f"{m}.{f}({p})" for m, f, p in dead]


def test_deployment_settings_are_still_parameters():
    # an exception for a parameter that no longer exists hides nothing
    assert DEPLOYMENT <= set(dead_params(_repo_sources()))
