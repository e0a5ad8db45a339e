"""Every top-level def and class in the package is named by some non-test
code: the ingest path, a query, a tool, the benchmarks or the entry point.

A definition that only tests reach is dead weight for every reader of the
engine. The scan reads code only (stdlib ``ast``, no Spark): a name counts
as used when a non-test ``.py`` file names it as a variable, an attribute
or an import, outside the body of its own definition. Prose does not
count: a name that appears only in a docstring, comment or string is
unused. Registered queries are reached through the registry and are
skipped.
"""

from __future__ import annotations

import ast
import os

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
    # named only in prose outside tests: candidates for a later deletion
    "streaming/pipeline.py:stream_into_table": "public API: the Structured Streaming sink",
    "oracle.py:final_rows": "test reference: plain-Python LWW oracle",
    "synth.py:batch_events": "test reference: per-batch slice of the synthetic change log",
    "operators/dedup.py:minhash_signature": "unused: only its tests call it",
    "operators/lww.py:lww_window": "test reference: window-function LWW the aggregate form is checked against",
    "operators/lww.py:lww_latest_salted": "unused: only its tests call it",
    "operators/multimodal.py:pil_image_decoder": "unused: only its tests call it",
    "operators/multimodal.py:wav_audio_decoder": "unused: only its tests call it",
    "operators/similarity.py:cosine_int8": "unused: only its tests call it",
    "sources/readers.py:write_csv_with_json_cols": "public API: CSV writer with JSON-encoded columns",
    "sources/readers.py:read_csv_with_json_cols": "public API: CSV reader with JSON-encoded columns",
    "sources/readers.py:read_changelog": "public API: change-log reader",
    "functions/text.py:geojson_point_json": "unused: only its tests call it",
    "functions/text.py:label_lookup": "unused: only its tests call it",
    "functions/text.py:statement_text": "unused: only its tests call it",
    "functions/text.py:const_col": "unused: only its tests call it",
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


def _code_names(node: ast.AST) -> set[str]:
    """Names ``node`` uses in code: variables, attributes and imports."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


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
    used: set[str] = set()
    for path in _sources(ROOT):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            names = _code_names(node)
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                names.discard(node.name)  # recursion is not a use
            used |= names
    return {f"{rel}:{name}" for rel, name in defs if name not in used}


def test_no_definition_is_reached_only_from_tests():
    assert _unreferenced() == set(ALLOWED)
