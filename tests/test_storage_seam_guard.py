"""Create-once publishing has one home: ``native_io.publish_if_absent``
(posix tmp file + ``os.link``, conditional PUT on object stores). A second
copy once committed own-format manifests, and an ``O_CREAT | O_EXCL`` tag
create left an empty, unremovable tag behind when its write failed. This
static check (``ast`` over the package sources, nothing imported) fails
when ``os.link`` or ``os.O_EXCL`` appears anywhere else, so a second
create-once primitive cannot come back."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "lance_trino_spark"
HOME = "format/native_io.py"
BANNED = {"link", "O_EXCL"}


def _create_once_uses(tree) -> list[tuple[int, str]]:
    """(line, name) of every ``os.link`` / ``os.O_EXCL`` reference in
    ``tree``, including ``from os import link``."""
    found = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and node.attr in BANNED
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"):
            found.append((node.lineno, f"os.{node.attr}"))
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            found += [(node.lineno, f"os.{a.name}")
                      for a in node.names if a.name in BANNED]
    return sorted(found)


def test_detector_sees_the_pattern():
    src = ("import os\n"
           "os.link(a, b)\n"
           "fd = os.open(p, os.O_CREAT | os.O_EXCL)\n"
           "from os import link\n"
           "os.unlink(a); os.path.islink(a)\n")
    assert _create_once_uses(ast.parse(src)) == [
        (2, "os.link"), (3, "os.O_EXCL"), (4, "os.link")]


def test_create_once_lives_only_in_native_io():
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for line, name in _create_once_uses(ast.parse(path.read_text())):
            sites.append((rel, name, line))
    assert {rel for rel, _, _ in sites} == {HOME}, (
        "create-once publishing must go through "
        f"native_io.publish_if_absent; found at {sites}")
