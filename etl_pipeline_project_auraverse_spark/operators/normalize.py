"""Value-normalization rule engine (T1–T9, reference
``backend/etl_pipeline.py:167-226``).

Spark-first: the reference maps a Python function over every cell
(``df[col].map(normalize_value)``, etl_pipeline.py:217-219). Here the
per-column dispatch heuristics (T9) run as ONE aggregate pass whose
result lets the driver *generate* a native CASE-cascade Column
expression per column (T1–T8) — execution stays inside whole-stage
codegen with zero Python in the row path. The same pass counts the
all-null rows that get flatten's empty-record sentinel (T13).

The cascade order and renderings replicate ``normalize_value``
(etl_pipeline.py:167-207) including its quirks, which are semantics:
the phone-number branch swallows plain digit strings (and drops the
sign of negatives like ``-5``), booleans render ``True``/``False``,
percents become fractions. Fuzzy ``dateutil`` parsing is re-expressed
as an ordered ``try_to_timestamp`` format battery (no UDF; SURVEY §7
hard part (a)) — pathological natural-language dates fall through to
the lower-case branch instead of parsing.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_project_auraverse_spark.operators.flatten import (
    add_empty_record_sentinel,
    empty_record,
)

NULL_TOKENS = ["na", "n/a", "null", "none", "", "nan"]  # T1, etl_pipeline.py:173
TRUE_TOKENS = ["true", "yes", "1"]  # T2, etl_pipeline.py:176
FALSE_TOKENS = ["false", "no", "0"]  # T2, etl_pipeline.py:178
PERCENT_RE = r"^(\d+(\.\d+)?)%$"  # T3, etl_pipeline.py:181
EMAIL_RE = r"^[\w\.\+-]+@[\w\.-]+\.[a-zA-Z]{2,}$"  # T4, etl_pipeline.py:189
PHONE_RE = r"^\+?[\d\s\-\(\)]+$"  # T5, etl_pipeline.py:192
INT_RE = r"^[+-]?\d+$"
FLOAT_RE = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"
DATE_SAMPLE_RE = r"^\d{4}-\d{2}-\d{2}"  # T9 date heuristic, etl_pipeline.py:216
NUMERIC_LIKE_RE = r"^(\$|₹)?\d+(\.\d+)?%?$"  # T9 numeric heuristic, etl_pipeline.py:218
# The characters Python's ``str.strip()`` removes (``str.isspace``):
# Spark's ``trim`` removes only U+0020 by default, so a value like
# "A\u00a0" would keep its no-break space where the reference drops it.
_PY_SPACE = "".join(
    ["\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"]
    + [chr(c) for c in range(0x2000, 0x200B)]
    + ["\u2028\u2029\u202f\u205f\u3000"]
)

# Ordered fuzzy-date battery standing in for dateutil.parse (T7,
# etl_pipeline.py:203-205). Inputs reach this branch only when they
# contain a character outside [\d\s\-()] — the phone branch earlier in
# the cascade swallows dash/space-only numeric dates in BOTH engines
# (reference quirk preserved) — so the battery targets the reachable
# forms: ISO timestamps, slashed/dotted dates, month names, and
# dash-numeric dates that carry a time component.
#
# Ambiguous numeric month/day order is month-first THEN day-first,
# matching dateutil's default (dayfirst=False): the day-first pattern
# only wins when the first field can't be a month (>12), exactly like
# dateutil. Spark's single-letter fields accept 1-2 digits, and `yy`
# strictly 2 / `yyyy` strictly 4, so the two year widths never
# cross-match.
#
# Documented divergences from dateutil (pinned in
# tests/test_normalize_properties.py):
# - partial dates needing today-fill ("March 2024", "Friday", bare
#   times) fall through to lower-case; dateutil fills from the current
#   date — nondeterministic at scale, deliberately not reproduced;
# - 2-digit years pin to 2000-2099 (Spark reduced-value); dateutil
#   slides a ±50y window around "now", so 76-99 map to 19xx there;
# - "Sept", locale month names, "5th of March", "AD", and timezone
#   *names* ("EST") are not recognized (offsets and "Z" are).
DATE_FORMATS = [
    # ISO timestamps / dates
    "yyyy-M-d'T'H:mm:ss.SSSSSS",
    "yyyy-M-d'T'H:mm:ss",
    "yyyy-M-d H:mm:ss",
    "yyyy-M-d H:mm",
    "yyyy-M-d",
    "yyyy/M/d",
    "yyyy.M.d",
    # month-name forms (ordinal suffixes stripped pre-parse;
    # Spark month-name matching is case-insensitive)
    "MMMM d, yyyy H:mm:ss",
    "MMMM d, yyyy H:mm",
    "MMMM d, yyyy",
    "MMM d, yyyy H:mm:ss",
    "MMM d, yyyy",
    "MMMM d yyyy",
    "MMM d yyyy",
    "d MMMM yyyy",
    "d MMM yyyy",
    # ambiguous numeric: month-first (dateutil default), then day-first
    "M/d/yyyy H:mm:ss",
    "d/M/yyyy H:mm:ss",
    "M/d/yyyy",
    "d/M/yyyy",
    "M-d-yyyy H:mm:ss",
    "d-M-yyyy H:mm:ss",
    "M.d.yyyy",
    "d.M.yyyy",
    # 2-digit year (pinned 2000-2099, see divergence note)
    "M/d/yy",
]


def _py_strip(col: Column) -> Column:
    """``str.strip()`` with no arguments: leading and trailing whitespace
    by Python's definition, not only the spaces ``F.trim`` removes. A
    trim character set, not a regex, so a cascade with two ``full``-rule
    columns stays within the 64 KB generated-method limit."""
    return F.trim(col, F.lit(_PY_SPACE))


def _try_date(s: Column) -> Column:
    """First successful parse from the format battery (tz markers are
    stripped for parsing — the offset is re-attached in rendering —
    and day-ordinal suffixes like "5th" are dropped, as dateutil
    accepts them)."""
    bare = F.regexp_replace(s, r"(Z|[+-]\d{2}:\d{2})$", "")
    deord = F.regexp_replace(bare, r"(?i)(\d)(st|nd|rd|th)\b", "$1")
    return F.coalesce(*[F.try_to_timestamp(deord, F.lit(fmt)) for fmt in DATE_FORMATS])


def _render_date(s: Column) -> Column:
    """dateutil ``dt.isoformat()`` rendering (etl_pipeline.py:205):
    seconds always printed, microseconds only when nonzero, original
    UTC offset re-attached after the fraction. Null exactly when no
    format of the battery parses ``s``."""
    suffix = (
        F.when(s.rlike("Z$"), F.lit("+00:00"))
        .when(s.rlike(r"[+-]\d{2}:\d{2}$"), F.regexp_extract(s, r"([+-]\d{2}:\d{2})$", 1))
        .otherwise(F.lit(""))
    )
    full = F.date_format(_try_date(s), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    return F.concat(F.regexp_replace(full, r"\.000000$", ""), suffix)


def normalize_expr(col: Column) -> Column:
    """T1–T8 cascade → canonical string (Python ``str()`` renderings).

    The date battery is expanded once per column (T7 renders, and falls
    back to T8 when the render is null). It is still the bulk of the
    generated code: a projection with three or more ``full``-rule
    columns exceeds the JVM's 64 KB method limit, and Spark logs the
    compile error and runs that stage interpreted.
    """
    s = _py_strip(col.cast("string"))
    sl = F.lower(s)
    no_cur = _py_strip(F.regexp_replace(s, r"[,$₹]", ""))
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(sl.isin(NULL_TOKENS), F.lit(None).cast("string"))  # T1
        .when(sl.isin(TRUE_TOKENS), F.lit("True"))  # T2
        .when(sl.isin(FALSE_TOKENS), F.lit("False"))  # T2
        .when(
            s.rlike(PERCENT_RE),  # T3: percent → fraction
            (F.regexp_extract(s, PERCENT_RE, 1).cast("double") / 100.0).cast("string"),
        )
        .when(s.rlike(EMAIL_RE), sl)  # T4: email → lower
        .when(s.rlike(PHONE_RE), F.regexp_replace(s, r"[^0-9]", ""))  # T5: phone digits
        .when(no_cur.rlike(INT_RE), no_cur.cast("long").cast("string"))  # T6: int
        .when(no_cur.rlike(FLOAT_RE), no_cur.cast("double").cast("string"))  # T6: float
        .otherwise(F.coalesce(_render_date(s), sl))  # T7: fuzzy date → ISO, else T8 lower
    )


@dataclass
class ColumnRule:
    """Decision record for one column (what T9 chose and why)."""

    name: str
    rule: str  # 'full' | 'lower' | 'keep' | 'empty_record' (T13's sentinel, see below)
    sample: str | None = None


def plan_normalization(df: DataFrame) -> list[ColumnRule]:
    """T9 dispatch heuristics (etl_pipeline.py:209-226) and T13's
    all-null-row count as ONE aggregate pass: per string column, the
    first non-null sample and an every-value-numeric-like flag; the
    driver then picks the rule.

    When at least one row is all-null, the plan also holds flatten's
    ``warning`` sentinel column (appended, or in place of a ``warning``
    column the table already has, as ``withColumn`` puts it) with rule
    ``empty_record``: ``normalize_table`` adds the column and renders it
    by the 'lower' rule, which is what T9 picks for its only text."""
    if not df.columns:
        return []
    str_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    aggs = [F.count_if(empty_record(df)).alias("empty_rows")]
    for c in str_cols:
        qc = F.col(f"`{c}`")
        # MIN, not FIRST: first(ignorenulls) is partition-order-dependent,
        # so the date-sniff sample (and thus the chosen rule) could differ
        # between runs/cluster layouts for mixed-content columns. The
        # lexicographic minimum is a deterministic sample; the reference's
        # "first value" (pandas row order) has no stable analogue on a
        # distributed unordered scan.
        aggs.append(F.min(qc).alias(f"sample__{c}"))
        aggs.append(
            F.sum(
                F.when(
                    qc.isNotNull()
                    & ~F.regexp_replace(qc.cast("string"), ",", "").rlike(NUMERIC_LIKE_RE),
                    1,
                ).otherwise(0)
            ).alias(f"nonnum__{c}")
        )
        aggs.append(F.count(qc).alias(f"nn__{c}"))
    stats = df.agg(*aggs).collect()[0]

    rules: list[ColumnRule] = []
    for f in df.schema.fields:
        c = f.name
        if not isinstance(f.dataType, T.StringType):
            # typed columns (long/double/bool/timestamp) are already
            # canonical — Spark's type system does what normalize did
            rules.append(ColumnRule(c, "keep"))
            continue
        sample = stats[f"sample__{c}"]
        if stats[f"nn__{c}"] == 0:
            rules.append(ColumnRule(c, "keep", sample))  # all-null: reference skips
        elif sample is not None and len(str(sample)) > 8 and re.match(
            DATE_SAMPLE_RE, str(sample)
        ):
            rules.append(ColumnRule(c, "full", sample))
        elif stats[f"nonnum__{c}"] == 0:
            rules.append(ColumnRule(c, "full", sample))
        else:
            rules.append(ColumnRule(c, "lower", sample))
    if stats["empty_rows"]:
        at = next((i for i, r in enumerate(rules) if r.name == "warning"), len(rules))
        rules[at : at + 1] = [ColumnRule("warning", "empty_record", "empty_record")]
    return rules


def normalize_table(df: DataFrame, array_cols: set[str] | None = None) -> DataFrame:
    """T13, then T9's chosen rule per column in one generated projection.

    ``array_cols`` marks columns produced by array stringification
    (T11): the reference normalized *before* flattening, so values that
    lived inside lists were never normalized — skipping them here
    reproduces the reference's output without its ordering quirk.
    """
    array_cols = array_cols or set()
    rules = plan_normalization(df)
    if any(r.rule == "empty_record" for r in rules):
        df = add_empty_record_sentinel(df)
    out: list[Column] = []
    for r in rules:
        qc = F.col(f"`{r.name}`")
        if r.rule == "keep" or r.name in array_cols:
            out.append(qc.alias(r.name))
        elif r.rule == "full":
            out.append(normalize_expr(qc).alias(r.name))
        else:  # 'lower' (and the sentinel): trim + lower, null → '' (etl_pipeline.py:221)
            out.append(
                F.coalesce(F.lower(_py_strip(qc.cast("string"))), F.lit("")).alias(r.name)
            )
    return df.select(*out)
