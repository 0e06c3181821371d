"""Vector math over ``array<float>`` embedding columns — pure Column
expressions (no UDFs): dot product, L2 norm, cosine similarity, and
deterministic pseudo-random hyperplanes for sign-LSH.

All math is promoted to double before multiplication and folded
left-to-right with ``F.aggregate``, matching DuckDB's list functions'
element order; results are rounded before any comparison/ordering so
last-bit accumulation differences between engines cannot flip results.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Integer-lattice hyperplane formula shared with the DuckDB oracle:
# component d of hyperplane j = ((j*2654435761 + d*40503) % 2001) - 1000.
# Integer arithmetic is exact in both engines, so the planes are
# bit-identical without needing a portable PRNG.
HP_MULT_J = 2654435761
HP_MULT_D = 40503
HP_MOD = 2001
HP_SHIFT = 1000


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns (double fold)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm2(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, scale: int = 6) -> Column:
    """Cosine similarity, rounded for cross-engine determinism."""
    return F.round(dot(a, b) / (norm2(a) * norm2(b)), scale).cast("double")


def sql_hyperplane_dot(emb_expr: str, j: int, dims: int = 64) -> str:
    """Dot of the embedding with deterministic hyperplane ``j``, in
    DuckDB SQL (1-based list indexing)."""
    return (
        f"list_sum(list_transform(range(0, {dims}), d -> "
        f"CAST({emb_expr}[d+1] AS DOUBLE) * "
        f"CAST(({j} * {HP_MULT_J} + d * {HP_MULT_D}) % {HP_MOD} - {HP_SHIFT} AS DOUBLE)))"
    )


def sql_lsh_signature(emb_expr: str, n_planes: int = 8, dims: int = 64) -> str:
    """Sign-LSH bucket id in DuckDB SQL: bit j = (round(dot(emb,
    plane_j), 6) >= 0). Rounding before the sign test keeps the bucket
    assignment identical across engines even when double accumulation
    differs in the last bit."""
    bits = [
        f"CASE WHEN ROUND({sql_hyperplane_dot(emb_expr, j, dims)}, 6) >= 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(n_planes)
    ]
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


SQL_DOT = (
    "list_sum(list_transform(range(0, {dims}), d -> "
    "CAST({a}[d+1] AS DOUBLE) * CAST({b}[d+1] AS DOUBLE)))"
)


def sql_dot(a: str, b: str, dims: int = 64) -> str:
    """DuckDB twin of :func:`dot` — same element order, double math."""
    return SQL_DOT.format(a=a, b=b, dims=dims)


def sql_cosine(a: str, b: str, dims: int = 64, scale: int = 6) -> str:
    """DuckDB twin of :func:`cosine`."""
    return (
        f"CAST(ROUND({sql_dot(a, b, dims)} / "
        f"(SQRT({sql_dot(a, a, dims)}) * SQRT({sql_dot(b, b, dims)})), {scale}) AS DOUBLE)"
    )
