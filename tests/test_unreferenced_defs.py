"""Every top-level definition in the package is used somewhere.

A module-level function, class or constant of ``geozero_spark/`` must be
read by name (a ``Name`` load or an attribute ``.name``) in some Python
file of the repo: the package itself, the tests, gzbench, scripts,
``bench.py`` or ``__spark_entry__.py``. A definition nothing reads is a
second copy or dead code; deleting its last caller makes the scan flag
it too, so chains of uncalled helpers cannot come back one link at a
time. Dunder names (``__all__``, ``__version__``) are exempt."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "geozero_spark")


def _defined(tree: ast.Module) -> list[tuple[int, str]]:
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            out.append((node.lineno, node.name))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            out += [(node.lineno, n.id) for t in targets
                    for n in ast.walk(t) if isinstance(n, ast.Name)]
    return [(ln, name) for ln, name in out
            if not (name.startswith("__") and name.endswith("__"))]


def _used(tree: ast.Module) -> set[str]:
    used = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
    return used


def _unreferenced(sources: dict[str, str], pkg: str) -> list[str]:
    """``sources``: path -> text; definitions are taken from the paths
    under ``pkg``, uses from every path."""
    trees = {p: ast.parse(src) for p, src in sources.items()}
    used = set().union(*map(_used, trees.values()))
    return sorted(f"{os.path.relpath(p, pkg)}:{ln} {name}"
                  for p, t in trees.items() if p.startswith(pkg + os.sep)
                  for ln, name in _defined(t) if name not in used)


def _repo_sources() -> dict[str, str]:
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs
                   if not x.startswith(".") and x != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[p] = fh.read()
    return out


def test_scan_flags_an_unreferenced_definition():
    pkg = os.path.join("r", "pkg")
    sources = {
        os.path.join(pkg, "m.py"): (
            "LIMIT = 3\n_SPARE = 4\n__all__ = ['f']\n"
            "def f():\n    return g()\n"
            "def g():\n    return LIMIT\n"
            "def h():\n    return 1\n"
            "class C:\n    pass\n"),
        os.path.join("r", "tests", "t.py"): "import m\nm.f()\nC = 1\n",
    }
    # C is only ever assigned outside the package: a store is not a use
    assert _unreferenced(sources, pkg) == [
        "m.py:10 C", "m.py:2 _SPARE", "m.py:8 h"]


def test_no_unreferenced_top_level_definitions_in_package():
    hits = _unreferenced(_repo_sources(), PKG)
    assert not hits, hits
