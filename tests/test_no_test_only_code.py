"""No package code that only the tests reach.

A transitive token scan over the package's top-level ``def``/``class``
statements, in pure Python (no Spark). The roots are what the engine
serves: the registered query builders, ``Engine``, the ``streaming/``
entry points, the module-level statements of every package module
(they run at import), and every name that appears in ``bench.py``,
``scripts/``, ``perfbench/`` or ``__spark_entry__.py``. A definition is
reached when its name appears as a token in a reached definition or a
root. A token is a name, an attribute, an imported module path part,
or an identifier inside a string literal (import paths given as
strings, SQL text); module, class and function docstrings do not
count, since a mention in prose calls nothing. Whatever stays unreached is called only from
``tests/`` or from nowhere: delete it, or move a fixture fabricator
into ``tests/`` (as ``tests/codec_builders.py`` does).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "etl_pipeline_project_auraverse_spark"
_IDENT = re.compile(r"[A-Za-z_]\w*")


def _docstrings(node: ast.AST) -> set[int]:
    """ids of the module, class and function docstring nodes under ``node``."""
    out: set[int] = set()
    for n in ast.walk(node):
        body = getattr(n, "body", None)
        if (
            isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            out.add(id(body[0].value))
    return out


def _tokens(node: ast.AST, docs: set[int]) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if id(n) in docs:
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_IDENT.findall(n.value))
    return out


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in getattr(node, "decorator_list", [])
    )


def test_every_package_definition_is_reached_outside_tests():
    defs: dict[str, set[str]] = {}  # "path::name" -> tokens of its body
    by_name: dict[str, list[str]] = {}
    work: list[str] = []
    seen: set[str] = set()  # tokens already followed
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                seen |= _tokens(node, docs)
                continue
            key = f"{rel}::{node.name}"
            defs[key] = _tokens(node, docs)
            by_name.setdefault(node.name, []).append(key)
            if _is_registered(node) or node.name == "Engine" or "/streaming/" in rel:
                work.append(key)
    entry_files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    entry_files += sorted((ROOT / "scripts").rglob("*.py"))
    entry_files += sorted((ROOT / "perfbench").rglob("*.py"))
    for path in entry_files:
        tree = ast.parse(path.read_text())
        seen |= _tokens(tree, _docstrings(tree))
    work += [key for name in seen for key in by_name.get(name, [])]

    reached: set[str] = set()
    while work:
        key = work.pop()
        if key in reached:
            continue
        reached.add(key)
        for name in defs[key] - seen:
            seen.add(name)
            work += by_name.get(name, [])

    unreached = sorted(set(defs) - reached)
    assert not unreached, (
        f"{len(unreached)} package definitions are reached only from tests/ "
        "(or from nowhere):\n" + "\n".join(unreached)
    )
