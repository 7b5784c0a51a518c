"""One MinHash/LSH core: the sketch's decisions live in
`operators/dedup.py`, and the stored-index probe lives beside its index
in `sources/ann_index.py`, so the index and ingest modules never reach
back into the registry (the table reader `_t` lives in
`sources/tables.py`). Pure AST scans; no Spark.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "geo_big_data_analysis_spark"


def _parse(path: pathlib.Path) -> ast.AST:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def test_minhash_modulus_defined_only_in_dedup():
    """The integer 2^31 − 1 appears in one module. SQL text that spells
    the modulus inside a string literal is not an integer constant."""
    hits = {
        path.relative_to(PKG).as_posix()
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(_parse(path))
        if isinstance(node, ast.Constant)
        and type(node.value) is int
        and node.value == 2_147_483_647
    }
    assert hits == {"operators/dedup.py"}


def test_index_and_ingest_import_nothing_from_registry():
    for rel in ("sources/ann_index.py", "streaming/ingest.py"):
        names = set()
        for node in ast.walk(_parse(PKG / rel)):
            if isinstance(node, ast.ImportFrom):
                module = node.module or ""
                if module.endswith("plans.registry"):
                    names |= {a.name for a in node.names}
                elif module.endswith("plans"):
                    names |= {a.name for a in node.names if a.name == "registry"}
            elif isinstance(node, ast.Import):
                names |= {a.name for a in node.names if a.name.endswith("plans.registry")}
        assert names == set(), (rel, sorted(names))
