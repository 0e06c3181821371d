"""PII detection/redaction battery over constructed fixtures (the
star schema carries no PII-bearing columns, same policy as the
multimodal decoders)."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_pipeline_project_auraverse_spark.functions.pii import (
    luhn_valid_count,
    pii_count,
    redact,
)

# 4242424242424242 passes Luhn (classic test number); the altered last
# digit in ROW 5 breaks the checksum.
ROWS = [
    (0, "contact alice@example.com or bob.smith+tag@mail.co.uk today"),
    (1, "server at 10.0.0.1 and backup at 192.168.100.200 are up"),
    (2, "call (555) 123-4567 or 555-987-6543 or +1 555 222 3333"),
    (3, "ssn on file: 123-45-6789"),
    (4, "card 4242424242424242 and spaced 4242 4242 4242 4242"),
    (5, "not a card: 4242424242424243, just a big number"),
    (6, "nothing sensitive here at all"),
    (7, None),
]


def _df(spark):
    return spark.createDataFrame(ROWS, "id long, text string")


def _counts(col):
    """Per-type count columns, as ``q_pii_scrub_stats`` builds them
    (card = Luhn-validated candidates only)."""
    kinds = ("email", "ipv4", "phone", "ssn")
    return [pii_count(col, k).alias(k) for k in kinds] + [
        luhn_valid_count(col).alias("card")
    ]


def test_pii_counts(spark):
    got = {
        r["id"]: {k: v for k, v in r.asDict().items() if k != "id"}
        for r in _df(spark).select("id", *_counts(F.col("text"))).collect()
    }
    assert got[0] == {"email": 2, "ipv4": 0, "phone": 0, "ssn": 0, "card": 0}
    assert got[1]["ipv4"] == 2 and got[1]["email"] == 0
    assert got[2]["phone"] == 3
    assert got[3]["ssn"] == 1
    # Luhn separates real cards from 16-digit noise
    assert got[4]["card"] == 2
    assert got[5]["card"] == 0
    assert got[6] == {"email": 0, "ipv4": 0, "phone": 0, "ssn": 0, "card": 0}
    assert got[7] == {"email": 0, "ipv4": 0, "phone": 0, "ssn": 0, "card": 0}


def test_redaction_replaces_every_occurrence(spark):
    got = {
        r["id"]: r["red"]
        for r in _df(spark).select("id", redact(F.col("text")).alias("red")).collect()
    }
    assert got[0] == "contact [EMAIL] or [EMAIL] today"
    assert got[1] == "server at [IPV4] and backup at [IPV4] are up"
    assert got[2] == "call [PHONE] or [PHONE] or [PHONE]"
    assert got[3] == "ssn on file: [SSN]"
    # redaction is conservative: card-shaped strings go even when the
    # checksum fails (counting is the precise side)
    assert "[CARD]" in got[4] and "4242" not in got[4]
    assert "[CARD]" in got[5]
    assert got[6] == "nothing sensitive here at all"
    assert got[7] is None


def test_counts_and_redaction_stay_in_codegen(spark):
    """No UDFs: the whole battery must be pure Column expressions
    (BatchEvalPython in the plan would mean a Python hot path)."""
    df = _df(spark).select(*_counts(F.col("text")), redact(F.col("text")).alias("r"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_rollup_shape(spark):
    """The corpus-level scrub report: one aggregate over the counts."""
    df = _df(spark).select(*_counts(F.col("text")))
    row = df.agg(
        F.sum("email").alias("emails"),
        F.sum("card").alias("cards"),
        F.count(F.when(F.col("email") + F.col("ipv4") + F.col("phone")
                       + F.col("ssn") + F.col("card") > 0, 1)).alias("docs_with_pii"),
    ).collect()[0]
    assert (row["emails"], row["cards"], row["docs_with_pii"]) == (2, 2, 5)
