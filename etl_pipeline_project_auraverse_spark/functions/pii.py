"""PII detection / redaction over text columns — pure Column
expressions (regexp batteries + an expression-level Luhn check), the
scrubbing stage every LLM training-data pipeline runs before anything
else sees the text.

Design (100 TB posture): everything here is a map-side expression over
one scan — no shuffle, no UDFs, stays inside whole-stage codegen. The
pattern set is the practical core (emails, IPv4, phone shapes, SSN
shape, candidate card numbers validated by Luhn); real deployments
extend PATTERNS and the redaction order without touching the shape.

The reduced star schema carries no PII-bearing columns, so this
battery is exercised by unit fixtures (tests/test_pii.py) rather than
a driver query — same policy as the multimodal decoders.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Order matters for redaction: more specific shapes first so e.g. a
# phone number inside an email local-part never fires separately.
PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.-]+",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    # 555-123-4567 / 555.123.4567 / (555) 123-4567 / +1 555 123 4567
    "phone": r"(?:\+?1[ .-]?)?(?:\(\d{3}\)[ .-]?|\d{3}[ .-])\d{3}[ .-]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    # candidate card numbers: 13-19 digits with optional separators;
    # must pass Luhn (see luhn_valid_count) to count as a card
    "card_candidate": r"\b(?:\d[ -]?){12,18}\d\b",
}


def pii_count(col: Column, kind: str) -> Column:
    """Occurrences of one PII pattern in ``col`` (0 for null text)."""
    return F.coalesce(
        F.regexp_count(col, F.lit(PATTERNS[kind])), F.lit(0)
    ).cast("long")


def _luhn_ok(digits: Column) -> Column:
    """Luhn checksum over a digit-only string Column, as a pure
    expression: reverse, double every second digit, fold digit sums."""
    ds = F.split(F.reverse(digits), "")
    ds = F.filter(ds, lambda c: c != "")
    terms = F.transform(
        ds,
        lambda c, i: F.when(
            i % 2 == 1,
            # doubled digit, then digit-sum (d*2 > 9 -> d*2 - 9)
            F.when(c.cast("int") * 2 > 9, c.cast("int") * 2 - 9).otherwise(
                c.cast("int") * 2
            ),
        ).otherwise(c.cast("int")),
    )
    total = F.aggregate(terms, F.lit(0), lambda acc, x: acc + x)
    return (total % 10) == 0


def luhn_valid_count(col: Column) -> Column:
    """Count of card-shaped substrings that actually pass Luhn —
    separating real card numbers from 16-digit noise."""
    cands = F.regexp_extract_all(col, F.lit(PATTERNS["card_candidate"]), F.lit(0))
    valid = F.filter(
        cands, lambda c: _luhn_ok(F.regexp_replace(c, r"[ -]", ""))
    )
    return F.coalesce(F.size(valid), F.lit(0)).cast("long")


def redact(col: Column) -> Column:
    """Replace every PII occurrence with a typed placeholder. Card
    candidates are redacted regardless of Luhn validity (redaction
    errs on the safe side; counting errs on the precise side)."""
    out = col
    for kind, pattern in PATTERNS.items():
        tag = "card" if kind == "card_candidate" else kind
        out = F.regexp_replace(out, pattern, f"[{tag.upper()}]")
    return out
