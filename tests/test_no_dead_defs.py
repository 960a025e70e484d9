"""Guard against dead definitions and dead settings in the engine
package.

Definitions: every top-level ``def``/``class`` in ``ocr_proofreader_spark/``,
and every method of a top-level class, must be reachable from a
production root.  The roots are every ``.py`` file outside ``tests/`` and
outside the package (``__spark_entry__.py``, ``bench.py``,
``perfbench/``, ``scripts/``, ``fixtures/``, ``oracle/``), the job modules
under ``ocr_proofreader_spark/jobs/``, and the module-level statements of
engine modules that are not definitions.  From the roots the scan walks
references transitively: a definition is reached when a reached body
names it, and then everything its body names is reached too.  A reached
class brings its class-level statements and dunder methods; any other
method is reached on its own, by its attribute name.  References from
tests do not count, so an engine function that only its own test calls
is dead.

A reference is an ``ast.Name`` id, an ``ast.Attribute`` attr, or a string
constant equal to the name (the entry module imports lazily through
``__import__(..., fromlist=[...])``).  Matching is by name only, which
errs towards "reachable".  An attribute of a module the file imports
(``checks.read_lineage``) reaches top-level definitions only, never a
method of the same name.

Parameters: every engine parameter with a default must be set by some
call outside ``tests/``, matched by the callee's name (``__init__`` by its
class name), positionally or by keyword.  A default that no such call
overrides is a setting with one value in use, so it belongs in the body
as a constant.  ``PARAM_SEAMS`` lists the few a test must set to build
an input or a fault that production never makes, each with its reason.

Both scans are purely syntactic, so they need no Spark session."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ocr_proofreader_spark"
EXCLUDED_DIRS = {".perfbench", ".hypothesis", "spark-warehouse", ".git",
                 "__pycache__"}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)

# Parameters only tests set: each builds an input real payloads carry,
# or a fault, that no production caller makes.
PARAM_SEAMS = {
    "encode_jpeg(subsampling)":
        "4:2:0 chroma subsampling, which real scans carry and "
        "decode_jpeg must accept",
    "encode_jpeg(restart_interval)":
        "DRI/RSTn restart markers, which decode_jpeg must accept",
    "encode_png(filter_type)":
        "PNG scanline filters 1-4, which decode_png must undo",
    "lzw_encode_pdf(early_change)":
        "/EarlyChange 0 LZW streams, which lzw_decode_pdf must accept",
    "ResumableRunner.run(fail_after)":
        "fault injection: a crash after N committed buckets",
    "windowed_counts_stream(output_dir)":
        "a persistent sink, so a restart sees the restored watermark "
        "and drops late events",
    "windowed_counts_stream(checkpoint_dir)":
        "the checkpoint that carries the watermark across restarts",
    "sessionize_stream(max_files_per_trigger)":
        "one file per micro-batch, so sessions cross batch state",
    "dedup_stream_hashes(max_files_per_trigger)":
        "one file per micro-batch, so duplicates cross batch state",
}


def _python_files(root: str) -> list[str]:
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d not in EXCLUDED_DIRS]
        out.extend(os.path.relpath(os.path.join(dirpath, f), root)
                   for f in files if f.endswith(".py"))
    return sorted(out)


def _trees(root: str):
    """(relpath, parsed module) of every scanned file."""
    for rel in _python_files(root):
        with open(os.path.join(root, rel), encoding="utf-8") as fh:
            yield rel, ast.parse(fh.read(), filename=rel)


def _module_names(tree: ast.Module, modules: set[str]) -> set[str]:
    """Names the file binds to modules: those of every ``import``, and a
    ``from`` import's when it names one of ``modules`` (the dotted names
    of the scanned files)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.asname or a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            out.update(a.asname or a.name for a in node.names
                       if f"{node.module}.{a.name}" in modules)
    return out


def _references(nodes, module_names=frozenset()) -> tuple[set[str],
                                                          set[str]]:
    """Every Name id, Attribute attr and str constant under ``nodes``,
    and the Attribute attrs that can reach a method: those whose base
    is not one of ``module_names``."""
    refs, attrs = set(), set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
                if not (isinstance(node.value, ast.Name)
                        and node.value.id in module_names):
                    attrs.add(node.attr)
            elif isinstance(node, ast.Constant) and isinstance(node.value,
                                                               str):
                refs.add(node.value)
    return refs, attrs


def _is_method(node: ast.AST) -> bool:
    """A method reached by its own name: not a dunder the runtime calls."""
    return isinstance(node, FUNCS) and not (node.name.startswith("__")
                                            and node.name.endswith("__"))


def unreachable_defs(root: str, package: str = PACKAGE) -> list[str]:
    """``path:line name`` of every top-level engine definition that no
    production root names, and of every method of a top-level class
    that no production root names as an attribute."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    methods: dict[str, list[tuple[str, ast.AST]]] = {}
    refs: set[str] = set()
    attrs: set[str] = set()
    modules = {rel[:-3].replace(os.sep, ".").removesuffix(".__init__")
               for rel in _python_files(root)}
    module_names: dict[str, set[str]] = {}

    def visit(rel: str, nodes) -> None:
        r, a = _references(nodes, module_names[rel])
        refs.update(r)
        attrs.update(a)

    for rel, tree in _trees(root):
        parts = rel.split(os.sep)
        if parts[0] == "tests":
            continue
        module_names[rel] = _module_names(tree, modules)
        if parts[0] != package or parts[1] == "jobs":
            visit(rel, [tree])
            continue
        visit(rel, (n for n in tree.body if not isinstance(n, DEFS)))
        for node in tree.body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append((rel, node))
            if isinstance(node, ast.ClassDef):
                for m in filter(_is_method, node.body):
                    methods.setdefault(m.name, []).append((rel, m))

    while True:
        ready = ([p for name in refs & defs.keys() for p in defs.pop(name)]
                 + [p for name in attrs & methods.keys()
                    for p in methods.pop(name)])
        if not ready:
            break
        for rel, node in ready:
            if isinstance(node, ast.ClassDef):
                # a reached class brings its decorators, bases, class-level
                # statements and dunders; other methods need their name
                visit(rel, node.decorator_list + node.bases
                      + [n for n in node.body if not _is_method(n)])
            else:
                visit(rel, [node])
    return [f"{rel}:{line} {name}" for rel, line, name in sorted(
        (rel, node.lineno, name)
        for table in (defs, methods)
        for name, nodes in table.items() for rel, node in nodes)]


def _defaulted_params(tree: ast.Module):
    """(def node, qualname, callee name, param, call position) of every
    parameter with a default.  The call position counts the arguments a
    call passes itself, so it skips the ``self``/``cls`` that a call
    through an attribute or a class binds; it is None for keyword-only
    parameters."""
    def walk(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                yield from walk(child, child.name)
            elif isinstance(child, FUNCS):
                a = child.args
                pos = a.posonlyargs + a.args
                skip = int(cls is not None and bool(pos)
                           and pos[0].arg in ("self", "cls"))
                qual = f"{cls}.{child.name}" if cls else child.name
                callee = cls if child.name == "__init__" else child.name
                first = len(pos) - len(a.defaults)
                for i, p in enumerate(pos[first:], first):
                    yield child, qual, callee, p.arg, i - skip
                for p, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        yield child, qual, callee, p.arg, None
                yield from walk(child, None)
            else:
                yield from walk(child, cls)
    yield from walk(tree, None)


def unset_parameters(root: str, package: str = PACKAGE,
                     seams=PARAM_SEAMS) -> list[str]:
    """``path:line qualname(param)`` of every engine parameter with a
    default that no call outside ``tests/`` sets and ``seams`` does not
    list."""
    params = []
    calls: dict[str, list[ast.Call]] = {}
    for rel, tree in _trees(root):
        parts = rel.split(os.sep)
        if parts[0] == "tests":
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)
        if parts[0] == package:
            params.extend((rel, *p) for p in _defaulted_params(tree))

    def is_set(call: ast.Call, param: str, index: int | None) -> bool:
        if any(k.arg in (param, None) for k in call.keywords):
            return True
        return index is not None and (
            len(call.args) > index
            or any(isinstance(a, ast.Starred) for a in call.args))

    return [f"{rel}:{node.lineno} {qual}({param})"
            for rel, node, qual, callee, param, index in params
            if f"{qual}({param})" not in seams
            and not any(is_set(c, param, index)
                        for c in calls.get(callee, ()))]


def test_every_engine_definition_is_used():
    assert any(rel.startswith(PACKAGE + os.sep)
               for rel in _python_files(ROOT)), "engine package not found"
    dead = unreachable_defs(ROOT)
    assert not dead, ("engine definitions no production root reaches:\n"
                      + "\n".join(dead))


def test_every_engine_parameter_is_set():
    unset = unset_parameters(ROOT)
    assert not unset, ("parameters no production caller sets (make them "
                       "constants, or list a test seam in PARAM_SEAMS "
                       "with its reason):\n" + "\n".join(unset))
    # a seam names a parameter that exists and that only tests set
    assert len(PARAM_SEAMS) <= 9 and all(PARAM_SEAMS.values())
    only_tests = {u.split(" ", 1)[1]
                  for u in unset_parameters(ROOT, seams={})}
    assert set(PARAM_SEAMS) <= only_tests


def _write_tree(tmp_path, files: dict[str, str]) -> str:
    for rel, text in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    return str(tmp_path)


def test_reachability_scan_ignores_tests(tmp_path):
    """The scan follows calls transitively from a root script, reaches
    a method only by its name, and ignores references that only a test
    makes."""
    root = _write_tree(tmp_path, {
        "run.py": "from pkg.mod import entry\nentry()\n",
        "pkg/__init__.py": "",
        "pkg/mod.py": ("LIMIT = limit()\n"
                       "def limit(): return 3\n"
                       "def entry(): return helper()\n"
                       "def helper(): return Box().used()\n"
                       "def dead(): return helper()\n"
                       "class TestOnly:\n    pass\n"
                       "class Box:\n"
                       "    def __init__(self): self.n = LIMIT\n"
                       "    def used(self): return self.n\n"
                       "    def spare(self): return self.n\n"),
        "pkg/jobs/job.py": "from pkg.mod import job_only\njob_only()\n",
        "pkg/jobs/__init__.py": "",
        "pkg/other.py": "def job_only(): pass\n",
        "tests/test_mod.py": "from pkg.mod import TestOnly, dead, Box\n"
                             "TestOnly(); dead(); Box().spare()\n",
    })
    assert unreachable_defs(root, package="pkg") == [
        "pkg/mod.py:5 dead", "pkg/mod.py:6 TestOnly", "pkg/mod.py:11 spare"]


def test_module_attribute_reaches_no_method(tmp_path):
    """An attribute of an imported module (``import checks``, or a
    ``from`` import of a scanned module file) reaches that module's
    functions, not an engine method of the same name; through an object
    the name still reaches the method."""
    root = _write_tree(tmp_path, {
        "run.py": ("import checks\nfrom tools import io as tio\n"
                   "from pkg.mod import Box\n"
                   "checks.read()\ntio.load()\nBox().go()\n"),
        "checks.py": "def read(): pass\n",
        "tools/__init__.py": "",
        "tools/io.py": "def load(): pass\n",
        "pkg/__init__.py": "",
        "pkg/mod.py": ("class Box:\n"
                       "    def read(self): pass\n"
                       "    def load(self): pass\n"
                       "    def save(self): pass\n"
                       "    def go(self): return self.save()\n"),
    })
    assert unreachable_defs(root, package="pkg") == [
        "pkg/mod.py:2 read", "pkg/mod.py:3 load"]


def test_parameter_scan_ignores_tests(tmp_path):
    """A default counts as set when a non-test call passes it by
    position or keyword (a method or ``__init__`` through its attribute
    or class name); a seam-listed one is exempt and one only a test
    passes is reported."""
    root = _write_tree(tmp_path, {
        "run.py": ("from pkg.mod import f, Box\n"
                   "f(0, 1)\nf(0, c=2)\nBox(5).go(1)\n"),
        "pkg/__init__.py": "",
        "pkg/mod.py": ("def f(a, b=1, c=2, d=3, e=4):\n"
                       "    return a + b + c + d + e\n"
                       "class Box:\n"
                       "    def __init__(self, n=0, m=0): self.n = n\n"
                       "    def go(self, k=1, j=2): return k\n"),
        "tests/test_mod.py": "from pkg.mod import f, Box\n"
                             "f(0, e=5)\nBox(m=1).go(j=3)\n",
    })
    assert unset_parameters(root, package="pkg", seams={"f(d)": "x"}) == [
        "pkg/mod.py:1 f(e)", "pkg/mod.py:4 Box.__init__(m)",
        "pkg/mod.py:5 Box.go(j)"]
