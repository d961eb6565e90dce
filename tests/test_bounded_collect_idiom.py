"""Every bounded driver collect goes through ``plans/strategy.py``.

``strategy.collect_bounded`` is the one ``limit(bound + 1)`` collect:
one job, named by its caller, and one guard. A hand-written
``.limit(n + 1)`` or ``.take(n + 1)`` anywhere else in
``geozero_spark/`` is a second copy of that idiom. Only calls whose
argument is a ``+ 1`` sum match, so pyarrow's ``Array.take(indices)``
does not."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "geozero_spark")
STRATEGY = os.path.join(PKG, "plans", "strategy.py")


def _plus_one_bounds(tree: ast.AST) -> list[int]:
    """Lines of ``.limit(x + 1)`` / ``.take(x + 1)`` calls (either
    operand order)."""
    def one(n):
        return isinstance(n, ast.Constant) and n.value == 1

    return sorted(
        n.lineno for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("limit", "take") and len(n.args) == 1
        and isinstance(n.args[0], ast.BinOp)
        and isinstance(n.args[0].op, ast.Add)
        and (one(n.args[0].left) or one(n.args[0].right)))


def test_scan_flags_a_hand_written_bound():
    src = ("df.limit(n + 1).toArrow()\n"
           "rows = df.take(LIMIT + 1)\n"
           "col.take(np.repeat(idx, k))\n"
           "df.limit(k).collect()\n"
           "df.limit(1 + n).collect()\n")
    assert _plus_one_bounds(ast.parse(src)) == [1, 2, 5]


def test_bounded_collects_go_through_strategy():
    hits = []
    for d, _, files in os.walk(PKG):
        for f in files:
            p = os.path.join(d, f)
            if not f.endswith(".py") or p == STRATEGY:
                continue
            with open(p, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            hits += [f"{os.path.relpath(p, PKG)}:{ln}"
                     for ln in _plus_one_bounds(tree)]
    assert not hits, hits
