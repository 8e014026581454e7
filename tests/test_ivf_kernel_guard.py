"""The broadcast nearest-centroid distance ``x[:, None, :] - c[None, :, :]``
builds an [n, k, dim] temporary; unchunked, it once held 1 GiB per
k-means iteration. The one bounded copy is ``vector_index.nearest``
(row chunks under ``NEAREST_CHUNK_BYTES``). This static check (``ast``
over the package sources, nothing imported) fails when the expression
appears anywhere else, so an unbounded copy cannot return by copy-paste."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "lance_trino_spark"
HOME = ("format/vector_index.py", "nearest")


def _axes(node) -> tuple | None:
    """The index pattern of ``a[:, None, :]`` as (':', 'None', ':'), or
    None when ``node`` is not a subscript with a tuple of slices/None."""
    if not isinstance(node, ast.Subscript) or not isinstance(
            node.slice, ast.Tuple):
        return None
    out = []
    for e in node.slice.elts:
        if isinstance(e, ast.Slice) and e.lower is e.upper is e.step is None:
            out.append(":")
        elif isinstance(e, ast.Constant) and e.value is None:
            out.append("None")
        else:
            return None
    return tuple(out)


def _broadcast_distances(tree) -> list[tuple[int, str]]:
    """(line, enclosing function) of every ``a[:, None, :] -
    b[None, :, :]`` in ``tree``."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Sub)
                and _axes(node.left) == (":", "None", ":")
                and _axes(node.right) == ("None", ":", ":")):
            found.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return found


def test_detector_sees_the_pattern():
    src = ("def f(x, c):\n"
           "    return ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)\n"
           "y = a[:, None] - b[None, :]\n")
    assert _broadcast_distances(ast.parse(src)) == [(2, "f")]


def test_broadcast_distance_lives_only_in_nearest():
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for line, func in _broadcast_distances(ast.parse(path.read_text())):
            sites.append((rel, func, line))
    assert [(rel, func) for rel, func, _ in sites] == [HOME], (
        "the [n, k, dim] broadcast distance must go through "
        f"vector_index.nearest; found at {sites}")
