"""Every top-level def and class in the package is named by some non-test
code: the ingest path, a query, a tool, the benchmarks or the entry point.

A definition that only tests reach is dead weight for every reader of the
engine. The scan is textual (stdlib ``ast`` and ``re``, no Spark): a name
counts as used when it appears, as a whole word, in a non-test ``.py``
file other than at its own definition. Registered queries are reached
through the registry and are skipped.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "arches_rascoll_etl_spark")

# kept on purpose although no non-test code names them, one reason each
ALLOWED = {
    "functions/hashing.py:sha256_udf": "reference implementation the hashing tests compare against",
    "lake/catalog.py:register_views": "the SQL view surface over the lake, kept as public API",
    "operators/incremental.py:maintain_aggregate": "public incremental-view operator, covered by tests",
    "operators/multimodal.py:synth_media": "fixture generator for the multimodal decoder tests",
    "functions/text.py:geojson_point_safe": "null-safe GeoJSON point for rows missing a coordinate",
    "replay_bench.py:task_skew_metrics": "status-API skew scraper, due to go when the engine folds its own event log",
}


def _sources(base: str):
    for d, dirs, files in os.walk(base):
        dirs[:] = [
            x for x in dirs
            if x not in ("tests", "__pycache__") and not x.startswith(".")
        ]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _is_registered_query(path: str, node: ast.AST) -> bool:
    return path.endswith("queries.py") and any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in node.decorator_list
    )


def _unreferenced() -> set[str]:
    defs: list[tuple[str, str]] = []
    for path in _sources(PKG):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not _is_registered_query(path, node):
                defs.append((os.path.relpath(path, PKG), node.name))
    texts = []
    for path in _sources(ROOT):
        with open(path) as f:
            texts.append(f.read())
    n_defs: dict[str, int] = {}
    for _, name in defs:
        n_defs[name] = n_defs.get(name, 0) + 1
    out = set()
    for rel, name in defs:
        word = re.compile(rf"\b{re.escape(name)}\b")
        if sum(len(word.findall(t)) for t in texts) <= n_defs[name]:
            out.add(f"{rel}:{name}")
    return out


def test_no_definition_is_reached_only_from_tests():
    assert _unreferenced() == set(ALLOWED)
