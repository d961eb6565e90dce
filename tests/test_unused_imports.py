"""No module in the package keeps a top-level import it never uses.

No linter (pyflakes, ruff, flake8) is part of the gate, so this AST scan
stands in for the unused-import rule: a name bound by a module-level
``import`` / ``from ... import`` must be read somewhere in that module.
Package ``__init__`` files re-export on purpose and are skipped, as are
``from __future__`` imports."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                   "geozero_spark")


def _unused_imports(src: str) -> list[tuple[int, str]]:
    tree = ast.parse(src)
    bound = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[(a.asname or a.name).split(".")[0]] = node.lineno
        elif (isinstance(node, ast.ImportFrom)
              and node.module != "__future__"):
            for a in node.names:
                bound[a.asname or a.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted((ln, name) for name, ln in bound.items()
                  if name not in used)


def test_scan_flags_an_unused_import():
    src = ("import os\nfrom typing import Any\nimport sys\n"
           "import os.path as osp\nprint(sys.argv, osp.sep)\n")
    assert _unused_imports(src) == [(1, "os"), (2, "Any")]


def test_no_unused_top_level_imports_in_package():
    hits = []
    for d, _, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py") or f == "__init__.py":
                continue
            p = os.path.join(d, f)
            with open(p, encoding="utf-8") as fh:
                for ln, name in _unused_imports(fh.read()):
                    hits.append(f"{os.path.relpath(p, PKG)}:{ln} {name}")
    assert not hits, hits
