"""Unicode normalization for text cleanup — the NFC pass every
LLM ingest pipeline runs before tokenization (comparable strings,
stable dedup fingerprints, no mojibake token splits).

Spark has no built-in Unicode-normalization expression, so this is one
of the engine's documented Arrow-batched Python exceptions (alongside
the multimodal codecs and the Misra–Gries fold): ``pandas``'
``Series.str.normalize`` runs ``unicodedata.normalize`` over whole
Arrow batches — never row-at-a-time Python. Everything around the
normalization itself (length/difference accounting in
``q_text_nfc_cleanup``) stays in JVM codegen expressions.

Determinism: NFC is a pure function of the code-point sequence; the
DuckDB oracle's ``nfc_normalize`` (utf8proc) implements the same
Unicode standard, so normalized outputs — and therefore counts,
lengths and fingerprints over them — match bit-for-bit.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf


@functools.cache
def _normalizer():
    # built lazily: pandas_udf needs an active SparkContext, so module
    # import must not construct it (the PySpark-4 import-time gotcha)
    def norm(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    return pandas_udf(norm, "string")


def nfc_normalize(col: Column) -> Column:
    """NFC-normalize a string column (composes combining sequences:
    ``e + U+0301`` → ``é``). Null-safe."""
    return _normalizer()(col)


