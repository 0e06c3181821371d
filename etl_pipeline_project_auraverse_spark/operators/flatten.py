"""Struct flattening + array stringification (T10–T13, reference
``backend/etl_pipeline.py:52-82``).

Spark-first: the reference walks every record's Python dict
row-at-a-time (``flatten_value`` recursion, etl_pipeline.py:62-67).
Here the recursion runs ONCE over ``df.schema`` on the driver and emits
a single flat ``select`` of native Column expressions — executed
columnar under whole-stage codegen, zero Python in the row path, and
Catalyst prunes any flattened column a downstream plan doesn't use.

Kept semantics: ``_``-joined nested names (sep configurable), lists →
comma-joined strings with Python renderings (``True``/``None``), the
``{"warning": "empty_record"}`` sentinel for all-null rows
(etl_pipeline.py:79-80; normalize's stats pass counts the all-null
rows, so flattening runs no job). Deviation (documented): list
elements that are structs render as JSON text rather than Python
``str(dict)`` repr.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _elem_to_str(col: Column, dtype: T.DataType) -> Column:
    """Python ``str()``-equivalent rendering of one array element."""
    if isinstance(dtype, T.BooleanType):
        s = F.when(col, "True").otherwise("False")
    elif isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
        s = F.to_json(col)
    else:
        s = col.cast("string")
    return F.when(col.isNull(), "None").otherwise(s)


def _array_to_str(col: Column, dtype: T.ArrayType) -> Column:
    """T11: list → ``",".join(str(x))`` (reference etl_pipeline.py:69).

    ``concat_ws`` drops nulls, so elements are pre-rendered (nulls →
    ``"None"``) to keep join arity faithful.
    """
    return F.array_join(F.transform(col, lambda x: _elem_to_str(x, dtype.elementType)), ",")


def flatten_columns(df: DataFrame, sep: str = "_") -> DataFrame:
    """T10–T12: one flat projection from a nested schema.

    Raises ``ValueError`` naming them when two flat names are equal
    ignoring case (keys ``A`` and ``a``): the session resolves column
    names case-insensitively for every query it runs, so no later stage
    could tell those columns apart."""
    out: list[Column] = []
    names: dict[str, list[str]] = {}

    def walk(col: Column, dtype: T.DataType, name: str) -> None:
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                walk(col.getField(f.name), f.dataType, f"{name}{sep}{f.name}")
            return
        if isinstance(dtype, T.ArrayType):
            out.append(_array_to_str(col, dtype).alias(name))
        elif isinstance(dtype, T.MapType):
            out.append(F.to_json(col).alias(name))
        else:
            out.append(col.alias(name))
        names.setdefault(name.lower(), []).append(name)

    for f in df.schema.fields:
        walk(F.col(f"`{f.name}`"), f.dataType, f.name)
    clashes = [same for same in names.values() if len(same) > 1]
    if clashes:
        raise ValueError(
            f"record keys collide when case is ignored: {clashes}; column "
            "names resolve case-insensitively, so the table cannot keep them apart"
        )
    return df.select(*out)


def empty_record(df: DataFrame) -> Column:
    """T13's test: every column of the row is null (``df`` has columns)."""
    return reduce(lambda a, b: a & b, (F.col(f"`{c}`").isNull() for c in df.columns))


def add_empty_record_sentinel(df: DataFrame) -> DataFrame:
    """T13: ``warning='empty_record'`` on all-null rows, null elsewhere
    (reference etl_pipeline.py:79-80). The reference's key shows up only
    for empty records, so the column belongs in a table only when at
    least one such row exists: ``normalize.plan_normalization`` counts
    them in its stats pass, and ``normalize_table`` adds the column."""
    return df.withColumn("warning", F.when(empty_record(df), F.lit("empty_record")))
