"""Every top-level definition in the package is reached from a runtime
surface, so code with no caller cannot come back unnoticed.

The runtime surfaces are the registered builders, module-level
statements, the CLI (``__main__.py``), ``bench.py``, ``__spark_entry__.py``
and the benchmark harness (``perfbench/*.py``, not its tests). The walk is
name-based and static: a definition is reached when a reached body loads
its name or an attribute of that name. Docstrings and other string
literals do not count. A name shared by two definitions reaches both, so
the check can only miss dead code, never invent it.
"""

from __future__ import annotations

import ast
import glob
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "spacex_data_pipeline_spark")

# Unreached on purpose: readable reference forms that tests compare the
# production paths against.
REFERENCE_FORMS = {
    ("operators/dedup.py", "embedding_cosine_pairs"):
        "brute-force cosine pairs the blocked and IVF pair generators must equal",
    ("operators/similarity.py", "lsh_bucket"):
        "interpreted LSH bucket the BLAS bucketing must equal",
    ("functions/hashing.py", "minhash_signature"):
        "per-row MinHash the signature production path must equal",
    ("functions/hashing.py", "word_shingles"):
        "plain word shingles the shingle production path must equal",
}


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_registered(fn: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(fn, "decorator_list", ())
    )


def unreached_definitions() -> set[tuple[str, str]]:
    defs: dict[tuple[str, str], set[str]] = {}
    roots: set[str] = set()
    for path in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, _PKG)
        with open(path) as f:
            tree = ast.parse(f.read())
        if rel == "__main__.py":
            roots |= _refs(tree)
            continue
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(rel, st.name)] = _refs(st)
                if _is_registered(st):
                    roots.add(st.name)
            else:
                roots |= _refs(st)
    surfaces = ["bench.py", "__spark_entry__.py"]
    surfaces += glob.glob(os.path.join(_REPO, "perfbench", "*.py"))
    for path in surfaces:
        with open(os.path.join(_REPO, path)) as f:
            roots |= _refs(ast.parse(f.read()))

    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    reached: set[tuple[str, str]] = set()
    seen, frontier = set(roots), list(roots)
    while frontier:
        for key in by_name.get(frontier.pop(), ()):
            if key in reached:
                continue
            reached.add(key)
            for name in defs[key] - seen:
                seen.add(name)
                frontier.append(name)
    return set(defs) - reached


def test_every_definition_is_reached_from_a_runtime_surface():
    unreached = unreached_definitions()
    assert unreached - set(REFERENCE_FORMS) == set(), (
        "definitions no runtime surface reaches; delete them, or give them "
        "a caller: " + str(sorted(unreached - set(REFERENCE_FORMS)))
    )
    assert set(REFERENCE_FORMS) <= unreached, (
        "a reference form gained a runtime caller; drop it from "
        "REFERENCE_FORMS: " + str(sorted(set(REFERENCE_FORMS) - unreached))
    )
