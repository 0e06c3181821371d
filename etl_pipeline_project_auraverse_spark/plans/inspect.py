"""Physical-plan inspection and linting — the tooling that keeps every
operator honest about its execution strategy at scale.

The reference has no planner at all (SURVEY §4); on Spark the plan IS
the performance contract, so this module makes plan properties
assertable in tests and reviewable in CI:

- :func:`physical_plan` — the plan text accessor.
- predicates (:func:`pushed_filters`, :func:`read_schemas`,
  :func:`scan_columns`, :func:`unpartitioned_windows`) — the properties
  the 100 TB checklist cares about: did the filter reach the scan, did
  projection pruning happen, did a window funnel into one task.
- :func:`lint_plan` — one-call report used by tests to fail any query
  whose plan regresses (e.g. a join silently becoming cartesian).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed (pre-AQE-final) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (PushedFilters: [...])."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", physical_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings, one per file scan — the column-pruning
    evidence (a scan reading columns the query never uses is a bug)."""
    return [
        m.group(1)
        for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", physical_plan(df))
    ]


def scan_columns(df: DataFrame) -> set[str]:
    cols: set[str] = set()
    for schema in read_schemas(df):
        cols.update(re.findall(r"(\w+):", schema))
    return cols


def unpartitioned_windows(df: DataFrame) -> int:
    """Number of window operators with an EMPTY partition spec.

    An unpartitioned window funnels the whole input through ONE task —
    the canonical silent scale-killer. The engine's policy: every
    window must partition unless its input is bounded by construction
    (calendar spine, pre-aggregated K-row table, hard pre-filter), and
    such sites must be whitelisted by name in the plan tests, never
    waved through silently.

    Counted on the optimized logical plan (stable node shape; the
    physical WindowExec text doesn't distinguish an empty partition
    spec reliably)."""

    def walk(node) -> int:
        n = 0
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            n = 1
        children = node.children()
        for i in range(children.size()):
            n += walk(children.apply(i))
        return n

    return walk(df._jdf.queryExecution().optimizedPlan())


@dataclass
class PlanReport:
    cartesian: bool
    broadcast_joins: int
    shuffle_exchanges: int
    pushed_filters: list[str]
    scan_columns: set[str] = field(default_factory=set)
    unpartitioned_windows: int = 0
    unpartitioned_window_ok: bool = False

    @property
    def ok(self) -> bool:
        return not self.cartesian and (
            self.unpartitioned_windows == 0 or self.unpartitioned_window_ok
        )


def lint_plan(df: DataFrame, *, allow_unpartitioned_window: bool = False) -> PlanReport:
    """One-call plan report. ``allow_unpartitioned_window=True`` is the
    explicit whitelist hook for windows whose input is bounded by
    construction (see :func:`unpartitioned_windows`)."""
    plan = physical_plan(df)
    return PlanReport(
        cartesian=("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan),
        broadcast_joins=plan.count("BroadcastHashJoin"),
        shuffle_exchanges=plan.count("Exchange "),
        pushed_filters=pushed_filters(df),
        scan_columns=scan_columns(df),
        unpartitioned_windows=unpartitioned_windows(df),
        unpartitioned_window_ok=allow_unpartitioned_window,
    )
