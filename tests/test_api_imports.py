"""Every name the benchmark (`perfbench/`) and tool (`tools/`) scripts
take from `lance_trino_spark` still exists. The check is static — `ast`
over both sides, nothing is imported or run — so renaming or deleting a
public function fails here, in tier-1, instead of inside a benchmark
run whose scripts cannot follow the rename."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "lance_trino_spark"


def _module_file(mod: str) -> Path | None:
    rel = Path(*mod.split("."))
    for cand in (REPO / rel.with_suffix(".py"), REPO / rel / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _defined_names(mod: str) -> set[str]:
    """Module-level names of ``mod``: defs, classes, assignments and
    imports (also inside top-level if/try/with blocks); a package adds
    its submodules."""
    path = _module_file(mod)
    names: set[str] = set()

    def visit(body):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, ast.Assign):
                names.update(n.id for t in node.targets for n in ast.walk(t)
                             if isinstance(n, ast.Name))
            elif isinstance(node, (ast.AnnAssign, ast.AugAssign)) \
                    and isinstance(node.target, ast.Name):
                names.add(node.target.id)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0]
                             for a in node.names)
            elif isinstance(node, (ast.If, ast.Try, ast.With)):
                for part in ("body", "orelse", "finalbody"):
                    visit(getattr(node, part, []))
                for h in getattr(node, "handlers", []):
                    visit(h.body)

    visit(ast.parse(path.read_text()).body)
    if path.name == "__init__.py":
        names.update(p.stem for p in path.parent.glob("*.py"))
        names.update(p.name for p in path.parent.iterdir()
                     if (p / "__init__.py").is_file())
    return names


def _package_uses(script: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every name ``script`` takes from the
    package: ``from <pkg module> import name`` and ``alias.name`` on a
    module alias (``from lance_trino_spark.format import lance_native as
    ln``). A missing module is reported with name None."""
    tree = ast.parse(script.read_text())
    aliases: dict[str, str] = {}
    uses: list[tuple[int, str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and node.module and node.module.split(".")[0] == PKG:
            if _module_file(node.module) is None:
                uses.append((node.lineno, node.module, None))
                continue
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                if _module_file(sub) is not None:
                    aliases[a.asname or a.name] = sub
                else:
                    uses.append((node.lineno, node.module, a.name))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                if _module_file(a.name) is None:
                    uses.append((node.lineno, a.name, None))
                elif a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) \
                and isinstance(node.value, ast.Name) \
                and node.value.id in aliases:
            uses.append((node.lineno, aliases[node.value.id], node.attr))
    return uses


def _unresolved(scripts) -> tuple[list[str], int]:
    cache: dict[str, set[str]] = {}
    bad, checked = [], 0
    for script in scripts:
        for line, mod, name in _package_uses(script):
            checked += 1
            if name is None:
                bad.append(f"{script.name}:{line}: no module {mod}")
            elif name not in cache.setdefault(mod, _defined_names(mod)):
                bad.append(f"{script.name}:{line}: {mod}.{name} is gone")
    return bad, checked


def test_bench_and_tool_scripts_import_only_existing_names():
    scripts = sorted((REPO / "perfbench").glob("*.py")) \
        + sorted((REPO / "tools").glob("*.py"))
    bad, checked = _unresolved(scripts)
    assert not bad, "\n".join(bad)
    # the walk is not vacuous: the search workload's index handles
    uses = _package_uses(REPO / "perfbench" / "search.py")
    assert (f"{PKG}.format.lance_native", "list_native_scalar_indices") \
        in {(m, n) for _l, m, n in uses}
    assert checked > 100


def test_a_renamed_name_is_reported(tmp_path):
    script = tmp_path / "uses_gone.py"
    script.write_text(
        "from lance_trino_spark.format import lance_native as ln\n"
        "from lance_trino_spark.format.lance_native import (\n"
        "    list_native_indices, latest_native_fts_index)\n"
        "import lance_trino_spark.format.no_such_module\n"
        "ln.latest_native_index(None, None, 'fts')\n"
        "ln.list_native_hnsw_indices(None)\n")
    bad, checked = _unresolved([script])
    assert checked == 5
    assert bad == [
        "uses_gone.py:2: lance_trino_spark.format.lance_native."
        "latest_native_fts_index is gone",
        "uses_gone.py:4: no module lance_trino_spark.format.no_such_module",
        "uses_gone.py:6: lance_trino_spark.format.lance_native."
        "list_native_hnsw_indices is gone",
    ]
