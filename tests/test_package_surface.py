"""Guard against package surface that no contract reaches.

A top-level def in ``etl_oms_spark/`` is *reached* when its name occurs
in the code of a root: the package's module-level code, the driver
contract (``__spark_entry__.py``), ``bench.py``, ``tools/`` or
``perfbench/`` (its own tests excluded), or in the body of a def that is
itself reached. Occurrences are identifiers and words inside string
literals (``perfbench/tracing.py`` patches functions by name); comments
do not count. A def whose only callers are unreached defs is unreached
too, and tests are never roots.

Every unreached def must be a deliberate library entry point listed in
``LIBRARY_SURFACE`` with the reason it stays, or a helper that such an
entry point reaches. Pure Python: AST only, no Spark.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "etl_oms_spark"

_DBAPI = "sources/dbapi_source.py: README names the Spark-4 DataSource trio"
LIBRARY_SURFACE = {
    "register_dbapi_stream_source": _DBAPI,
    "register_dbapi_write_source": _DBAPI,
    "duckdb_readonly": _DBAPI,
    "duckdb_writable": _DBAPI,
    "upsert_via_copy": "the reference's Postgres COPY + ON CONFLICT upsert",
    "upsert_via_dbapi": "README: the fact merge is also available against "
    "any DB-API connection via staging + ON CONFLICT",
    "read_dbapi_dim": "the reference's Postgres dim read, over DB-API",
    "write_json_records": "the reference's to_json(orient='records') "
    "byte layout (Statistique.json)",
    "ivfpq_topk": "README names IVF-PQ; test_pq_jl_exact golden-pins it",
    "write_bucketed_table": "README names zero-Exchange bucketed joins",
    "zorder_by": "README names measured data skipping",
    "make_fake_payload": "builds the FAKE media format that "
    "decode_media_metadata / extract_features parse",
    "char_trigrams": "test-only: pins ct1p's trigram-volume premise; "
    "deletion candidate (ROADMAP item 11)",
    "stateful_user_profiles": "test-only applyInPandasWithState operator; "
    "deletion candidate (ROADMAP item 11)",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_WORD.findall(n.value))
    return out


def _root_files() -> list[Path]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    files += sorted((REPO / "tools").rglob("*.py"))
    files += sorted(
        p for p in (REPO / "perfbench").rglob("*.py") if "tests" not in p.parts
    )
    return files


def _scan() -> tuple[dict[str, set[str]], set[str], set[str]]:
    """(def name -> names in its body, names the roots use, unreached defs)."""
    bodies: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEF):
                bodies.setdefault(node.name, set()).update(_names(node))
            else:
                roots |= _names(node)
    for path in _root_files():
        roots |= _names(ast.parse(path.read_text()))
    reached = _closure(bodies, roots)
    return bodies, roots, set(bodies) - reached


def _closure(bodies: dict[str, set[str]], seeds: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = [n for n in seeds if n in bodies]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += [m for m in bodies[name] if m in bodies and m not in seen]
    return seen


def test_every_unreached_def_is_declared_library_surface():
    bodies, _roots, unreached = _scan()
    kept = _closure(bodies, set(LIBRARY_SURFACE))
    undeclared = sorted(unreached - kept)
    assert not undeclared, (
        f"{len(undeclared)} defs in etl_oms_spark/ are reached only from "
        f"tests: {undeclared}. Delete them (and the tests that only "
        "exercise them), or list them in LIBRARY_SURFACE with a reason."
    )


def test_library_surface_entries_are_unreached_defs():
    bodies, _roots, unreached = _scan()
    missing = sorted(set(LIBRARY_SURFACE) - set(bodies))
    assert not missing, f"LIBRARY_SURFACE names no def: {missing}"
    stale = sorted(set(LIBRARY_SURFACE) - unreached)
    assert not stale, (
        f"now reached from a root, drop from LIBRARY_SURFACE: {stale}"
    )
