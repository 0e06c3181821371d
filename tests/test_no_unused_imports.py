"""No unused imports in the package.

A pure-Python AST scan (no Spark). An import in a package module is used
when the module references the name it binds (a name, or a string in
``__all__``), or when another package or test module imports that name
from the module (``from <module> import <name>``, absolute or
relative): such a name is a re-export (``from .a import f`` in ``b``,
then ``from .b import f`` elsewhere).
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "etl_pipeline_project_auraverse_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _from_module(node: ast.ImportFrom, importer: str, is_package: bool) -> str:
    """The absolute module a ``from ... import`` reads from."""
    if not node.level:
        return node.module or ""
    base = importer.split(".")
    base = base[: len(base) - node.level + (1 if is_package else 0)]
    return ".".join(base + ([node.module] if node.module else []))


def _bound_imports(tree: ast.Module) -> list[tuple[str, int]]:
    """(bound name, line) of every import in the module, at any depth."""
    out: list[tuple[str, int]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out.append((a.asname or a.name.split(".")[0], node.lineno))
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    out.append((a.asname or a.name, node.lineno))
    return out


def _referenced(tree: ast.Module) -> set[str]:
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:  # names listed in __all__
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            names |= {
                c.value
                for c in ast.walk(node.value)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
            }
    return names


def test_every_package_import_is_used():
    trees = {
        path: ast.parse(path.read_text())
        for root in (PKG, ROOT / "tests")
        for path in sorted(root.rglob("*.py"))
    }
    imported_from: set[tuple[str, str]] = set()  # (module, name) pairs
    for path, tree in trees.items():
        importer = _module_name(path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mod = _from_module(node, importer, path.name == "__init__.py")
                imported_from |= {(mod, a.name) for a in node.names}

    unused = []
    for path, tree in trees.items():
        if PKG not in path.parents:
            continue
        module = _module_name(path)
        used = _referenced(tree)
        for name, line in _bound_imports(tree):
            if name not in used and (module, name) not in imported_from:
                unused.append(f"{path.relative_to(ROOT)}:{line}: {name}")
    assert not unused, f"{len(unused)} unused imports:\n" + "\n".join(unused)
