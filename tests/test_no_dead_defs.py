"""Guard against dead definitions in the engine package: every top-level
``def``/``class`` in ``ocr_proofreader_spark/`` must be referenced from
somewhere in the repository outside its own body.

A reference is an ``ast.Name`` id, an ``ast.Attribute`` attr, or a string
constant equal to the name (the entry module imports lazily through
``__import__(..., fromlist=[...])``).  The scan is purely syntactic, so
it needs no Spark session."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ocr_proofreader_spark"
EXCLUDED_DIRS = {".perfbench", ".hypothesis", "spark-warehouse", ".git",
                 "__pycache__"}


def _python_files() -> list[str]:
    out = []
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in EXCLUDED_DIRS]
        out.extend(os.path.join(dirpath, f) for f in files
                   if f.endswith(".py"))
    return sorted(out)


def _references(tree: ast.AST):
    """(name, lineno) for every Name id, Attribute attr and str constant."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.value, node.lineno


def test_every_engine_definition_is_used():
    refs: dict[str, list[tuple[str, int]]] = {}
    defs: list[tuple[str, str, int, int]] = []
    for path in _python_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        for name, line in _references(tree):
            refs.setdefault(name, []).append((path, line))
        rel = os.path.relpath(path, ROOT)
        if rel.split(os.sep)[0] == PACKAGE:
            defs.extend(
                (node.name, path, node.lineno, node.end_lineno)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)))
    assert defs, "no definitions found under the engine package"

    dead = sorted(
        f"{os.path.relpath(path, ROOT)}:{start} {name}"
        for name, path, start, end in defs
        if not any(p != path or not start <= line <= end
                   for p, line in refs.get(name, ())))
    assert not dead, "unused top-level definitions:\n" + "\n".join(dead)
