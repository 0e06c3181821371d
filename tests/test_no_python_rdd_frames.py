"""Driver-side rows become DataFrames only through ``session.local_frame``.

A pure-Python AST scan (no Spark). ``spark.createDataFrame(<list>)`` and
``sc.parallelize`` plan a Python-RDD scan whose every action starts
Python workers; ``local_frame`` plans a JVM local relation instead. So
no ``.createDataFrame(`` or ``.parallelize(`` call may appear in the
package outside the body of ``local_frame``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "etl_pipeline_project_auraverse_spark"
BANNED = {"createDataFrame", "parallelize"}


def _calls_outside_local_frame(tree: ast.AST) -> list[int]:
    """Lines of banned attribute calls, not descending into ``local_frame``."""
    lines: list[int] = []

    def visit(node: ast.AST) -> None:
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
            return
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in BANNED
        ):
            lines.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child)

    visit(tree)
    return lines


def test_driver_rows_go_through_local_frame():
    sites = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        for line in _calls_outside_local_frame(ast.parse(path.read_text()))
    ]
    assert not sites, (
        f"{len(sites)} Python-RDD frame builds; use session.local_frame:\n"
        + "\n".join(sites)
    )
