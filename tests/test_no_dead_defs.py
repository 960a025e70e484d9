"""Guard against dead definitions in the engine package: every top-level
``def``/``class`` in ``ocr_proofreader_spark/`` must be reachable from a
production root.

The roots are every ``.py`` file outside ``tests/`` and outside the
package (``__spark_entry__.py``, ``bench.py``, ``perfbench/``,
``scripts/``, ``fixtures/``, ``oracle/``), the job modules under
``ocr_proofreader_spark/jobs/``, and the module-level statements of
engine modules that are not definitions.  From the roots the scan walks
references transitively: a definition is reached when a reached body
names it, and then everything its body names is reached too.  References
from tests do not count, so an engine function that only its own test
calls is dead.

A reference is an ``ast.Name`` id, an ``ast.Attribute`` attr, or a string
constant equal to the name (the entry module imports lazily through
``__import__(..., fromlist=[...])``).  Matching is by name only, which
errs towards "reachable".  The scan is purely syntactic, so it needs no
Spark session."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ocr_proofreader_spark"
EXCLUDED_DIRS = {".perfbench", ".hypothesis", "spark-warehouse", ".git",
                 "__pycache__"}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _python_files(root: str) -> list[str]:
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d not in EXCLUDED_DIRS]
        out.extend(os.path.relpath(os.path.join(dirpath, f), root)
                   for f in files if f.endswith(".py"))
    return sorted(out)


def _references(nodes) -> set[str]:
    """Every Name id, Attribute attr and str constant under ``nodes``."""
    refs = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.Constant) and isinstance(node.value,
                                                               str):
                refs.add(node.value)
    return refs


def unreachable_defs(root: str, package: str = PACKAGE) -> list[str]:
    """``path:line name`` of every top-level engine definition that no
    production root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    reached: set[str] = set()
    for rel in _python_files(root):
        parts = rel.split(os.sep)
        if parts[0] == "tests":
            continue
        with open(os.path.join(root, rel), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=rel)
        if parts[0] != package or parts[1] == "jobs":
            reached |= _references([tree])
            continue
        reached |= _references(n for n in tree.body
                               if not isinstance(n, DEFS))
        for node in tree.body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append((rel, node))

    todo = [name for name in reached if name in defs]
    while todo:
        for _, node in defs.pop(todo.pop(), ()):
            new = _references([node]) - reached
            reached |= new
            todo.extend(name for name in new if name in defs)
    return [f"{rel}:{line} {name}" for rel, line, name in sorted(
        (rel, node.lineno, name)
        for name, nodes in defs.items() for rel, node in nodes)]


def test_every_engine_definition_is_used():
    assert any(rel.startswith(PACKAGE + os.sep)
               for rel in _python_files(ROOT)), "engine package not found"
    dead = unreachable_defs(ROOT)
    assert not dead, ("top-level definitions no production root reaches:\n"
                      + "\n".join(dead))


def test_reachability_scan_ignores_tests(tmp_path):
    """The scan follows calls transitively from a root script and
    ignores references that only a test makes."""
    files = {
        "run.py": "from pkg.mod import entry\nentry()\n",
        "pkg/__init__.py": "",
        "pkg/mod.py": ("LIMIT = limit()\n"
                       "def limit(): return 3\n"
                       "def entry(): return helper()\n"
                       "def helper(): return LIMIT\n"
                       "def dead(): return helper()\n"
                       "class TestOnly:\n    pass\n"),
        "pkg/jobs/job.py": "from pkg.mod import job_only\njob_only()\n",
        "pkg/jobs/__init__.py": "",
        "pkg/other.py": "def job_only(): pass\n",
        "tests/test_mod.py": "from pkg.mod import TestOnly, dead\n"
                             "TestOnly(); dead()\n",
    }
    for rel, text in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    assert unreachable_defs(str(tmp_path), package="pkg") == [
        "pkg/mod.py:5 dead", "pkg/mod.py:6 TestOnly"]
