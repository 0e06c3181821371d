"""Unit tests for the reference-parity ETL core: extraction (S1–S14),
flatten (T10–T13), normalize (T1–T9), config ops (D1–D5), schema
profiling (A1–A5) and the config-driven pipeline — replayed over
synthetic fixtures shaped like the reference's captured uploads
(SURVEY.md §5)."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.operators import config_ops
from etl_pipeline_project_auraverse_spark.operators.flatten import (
    add_empty_record_sentinel,
    flatten_columns,
)
from etl_pipeline_project_auraverse_spark.operators.normalize import (
    normalize_expr,
    normalize_table,
    plan_normalization,
)
from etl_pipeline_project_auraverse_spark.operators.schema_profile import (
    diff_schemas,
    generate_schema,
)
from etl_pipeline_project_auraverse_spark.pipeline import run_etl_pipeline
from etl_pipeline_project_auraverse_spark.sources import blocks

FIXTURES = Path(__file__).parent / "fixtures"


def _table_for(spark, path: str):
    docs = blocks.read_text_documents(spark, path)
    return blocks.records_to_table(spark, blocks.extract_records(docs))


# ---------------------------------------------------------------------------
# Extraction
# ---------------------------------------------------------------------------


def test_strict_json_array_extracts_rows(spark):
    tbl = _table_for(spark, str(FIXTURES / "simple.json"))
    # strict parse (2 untagged) + embedded {} objects (2) + [] array (2)
    rows = tbl.select("id", "name", "score", "_source_type").collect()
    assert len(rows) == 6
    untagged = [r for r in rows if r["_source_type"] is None]
    assert len(untagged) == 2
    assert {r["id"] for r in rows} == {1, 2}
    assert {r["name"] for r in rows} == {"Ada", "Grace"}


def test_mixed_document_block_types(spark):
    docs = blocks.read_text_documents(spark, str(FIXTURES / "mixed.txt"))
    tbl = blocks.records_to_table(spark, blocks.extract_records(docs))
    types = {
        r[0] for r in tbl.select("_source_type").distinct().collect() if r[0] is not None
    }
    assert {"json", "csv", "yaml", "code", "log"} <= types
    csv_rows = tbl.filter(F.col("_source_type") == "csv").select("name", "qty").collect()
    # the reference's CSV-block regex is greedy to EOF, so trailing
    # non-CSV lines also become (single-field) rows — subset assert
    assert {(r["name"], r["qty"]) for r in csv_rows} >= {("widget", "5"), ("sprocket", "7")}
    yaml_row = tbl.filter(F.col("_source_type") == "yaml").select("host", "port").collect()
    assert (yaml_row[0]["host"], yaml_row[0]["port"]) == ("alpha", 8080)
    logs = tbl.filter(F.col("_source_type") == "log").select("_log_entry").collect()
    assert len(logs) == 2 and all("2026-03-01" in r[0] for r in logs)


def test_empty_document_error_sentinel(spark, tmp_path):
    p = tmp_path / "empty.txt"
    p.write_text("just prose with no structure at all\n")
    tbl = _table_for(spark, str(p))
    rows = tbl.collect()
    assert len(rows) == 1
    assert rows[0]["_error"] == "No extractable block found"
    assert rows[0]["_source_type"] == "error"


def test_error_sentinel_only_for_the_empty_document(spark, tmp_path):
    """S12 is per document: of two documents read together, only the
    one without any record gets the sentinel row."""
    (tmp_path / "empty.txt").write_text("just prose with no structure at all\n")
    (tmp_path / "log.txt").write_text("[2026-03-01 10:00:01] service started\n")
    tbl = _table_for(spark, str(tmp_path))
    rows = tbl.select("_source_type", "_error", "_log_entry").collect()
    assert sorted((r["_source_type"], r["_error"] is None) for r in rows) == [
        ("error", False),
        ("log", True),
    ]


# ---------------------------------------------------------------------------
# Flatten
# ---------------------------------------------------------------------------


def test_flatten_nested_structs_and_arrays(spark):
    df = spark.createDataFrame(
        [
            (
                {"theme": "dark", "social": {"handle": "@ada"}},
                ["English", "French"],
                [{"day": "2026-01-05", "amount": 42.5}],
                [True, False, None],
            )
        ],
        "prefs struct<theme:string,social:struct<handle:string>>, "
        "langs array<string>, orders array<struct<day:string,amount:double>>, "
        "flags array<boolean>",
    )
    flat = flatten_columns(df)
    row = flat.collect()[0]
    assert flat.columns == ["prefs_theme", "prefs_social_handle", "langs", "orders", "flags"]
    assert row["prefs_theme"] == "dark"
    assert row["prefs_social_handle"] == "@ada"
    assert row["langs"] == "English,French"
    assert json.loads(row["orders"]) == {"day": "2026-01-05", "amount": 42.5}
    assert row["flags"] == "True,False,None"


def test_flatten_empty_record_sentinel(spark):
    df = spark.createDataFrame([("a", 1), (None, None)], "x string, y long")
    flat = add_empty_record_sentinel(df)
    rows = {r["x"]: r["warning"] for r in flat.collect()}
    assert rows[None] == "empty_record"
    assert rows["a"] is None
    # the column joins a table only when some row is all-null, which
    # normalize's stats pass counts; it is then rendered by 'lower'
    assert normalize_table(df.dropna(how="all")).columns == ["x", "y"]
    out = normalize_table(df)
    assert out.columns == ["x", "y", "warning"]
    assert sorted(r["warning"] for r in out.collect()) == ["", "empty_record"]


# ---------------------------------------------------------------------------
# Normalize
# ---------------------------------------------------------------------------

NORMALIZE_CASES = [
    ("  N/A ", None),  # T1 null tokens
    ("null", None),
    ("yes", "True"),  # T2 booleans
    ("FALSE", "False"),
    ("95%", "0.95"),  # T3 percent → fraction
    ("12.5%", "0.125"),
    ("Ada.Lovelace@Example.COM", "ada.lovelace@example.com"),  # T4 email
    ("+1 (555) 010-2030", "15550102030"),  # T5 phone digits
    ("$1,234", "1234"),  # T6 currency int
    ("₹42.50", "42.5"),  # T6 currency float
    ("2026-02-01T08:30:00Z", "2026-02-01T08:30:00+00:00"),  # T7 ISO + tz
    # reference quirk (semantics): a bare ISO date is digits+dashes, so
    # the phone branch (T5) strips it before the date branch can parse
    ("2026-01-05", "20260105"),
    ("2026-01-05 10:30:00", "2026-01-05T10:30:00"),  # T7 date with time
    ("Hello World", "hello world"),  # T8 lower fallback
    # the reference strips with str.strip(): every Unicode space and
    # control whitespace at the ends goes, not only U+0020
    ("A\u00a0", "a"),
    ("\t\u3000 Yes\n", "True"),
    ("\u2009$1,234\u00a0", "1234"),
]


@pytest.mark.parametrize("raw,want", NORMALIZE_CASES)
def test_normalize_value_cases(spark, raw, want):
    got = spark.range(1).select(normalize_expr(F.lit(raw)).alias("v")).collect()[0]["v"]
    assert got == want


def test_normalize_table_dispatch(spark):
    df = spark.createDataFrame(
        [
            ("2026-01-05T10:00:00", "95%", "Mixed Case", "1,200"),
            ("2026-02-01T11:30:00", "80%", "other TEXT", "3,400"),
        ],
        "when string, pct string, label string, amt string",
    )
    out = {r["when"]: r for r in normalize_table(df).collect()}
    r = out["2026-01-05T10:00:00"]
    assert r["pct"] == "0.95"  # all-numeric-like → full normalize
    assert r["label"] == "mixed case"  # free text → trim+lower
    assert r["amt"] == "1200"  # currency column → int parse


def test_normalize_full_rule_columns_compile(spark):
    """Two full-rule columns stay within the JVM's 64 KB method limit:
    with codegen fallback off, a compile failure would raise here."""
    df = spark.createDataFrame(
        [
            ("2026-01-05T10:00:00", "95%"),
            ("2026-01-05T10:00:00", "95%"),
            ("2026-02-01T11:30:00.250000Z", "80%"),
        ],
        "a string, b string",
    )
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        out = normalize_table(df)
        assert [r.rule for r in plan_normalization(df)] == ["full", "full"]
        assert config_ops.drop_duplicates(out).count() == 2
        got = {(r["a"], r["b"]) for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert got == {
        ("2026-01-05T10:00:00", "0.95"),
        ("2026-02-01T11:30:00.250000+00:00", "0.8"),
    }


# ---------------------------------------------------------------------------
# Config ops
# ---------------------------------------------------------------------------


def test_enrich_named_rules_and_validations(spark):
    df = spark.createDataFrame(
        [(1, "Ada", 95, 9.99), (2, None, None, None)],
        "id long, name string, score long, price double",
    )
    out = config_ops.enrich(
        df,
        [{"col": "score_range"}, {"col": "name_length"}, {"col": "has_price"}, {"col": "num_reviews"}],
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["score_range"] == "95" and rows[2]["score_range"] == ""
    assert rows[1]["name_length"] == 3 and rows[2]["name_length"] == 0
    assert rows[1]["has_price"] == 1 and rows[2]["has_price"] == 0
    assert rows[1]["num_reviews"] == 0

    assert config_ops.validate_required_columns(df, ["id", "name", "missing_col"]) == [
        "missing_col"
    ]
    problems = config_ops.validate_types(df, {"id": "int", "name": "str"})
    assert problems == {}
    # the reference config declares score as list; an integer column
    # must be reported as a type violation
    problems = config_ops.validate_types(df, {"score": "list", "gone": "int"})
    assert set(problems) == {"score", "gone"}


def test_enrich_lambda_fallback(spark):
    df = spark.createDataFrame([(2, 3)], "a long, b long")
    out = config_ops.enrich(df, [{"col": "a_plus_b", "func": "lambda row: row['a'] + row['b']"}])
    assert out.collect()[0]["a_plus_b"] == "5"


def test_drop_duplicates_and_dropna(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, None)], "id long, v string"
    )
    assert config_ops.drop_duplicates(df).count() == 2
    assert config_ops.drop_na(df).count() == 2  # both (1, "x") rows survive
    assert config_ops.drop_na(config_ops.drop_duplicates(df)).count() == 1


# ---------------------------------------------------------------------------
# Schema profiling
# ---------------------------------------------------------------------------


def test_generate_schema_artifact(spark):
    df = spark.createDataFrame(
        [("1", "0.5", "true", "2026-01-05", "free text", None)],
        "i string, f string, b string, d string, s string, n string",
    ).union(
        spark.createDataFrame(
            [("2", "1.5", "false", "2026-01-06", "more text", "x")],
            "i string, f string, b string, d string, s string, n string",
        )
    )
    schema = generate_schema(df, now=1_700_000_000)
    by_name = {f["name"]: f for f in schema["fields"]}
    assert schema["schema_id"] == "v1700000000"
    assert by_name["i"]["type"] == "integer"
    assert by_name["f"]["type"] == "float"
    assert by_name["b"]["type"] == "boolean"
    assert by_name["d"]["type"] == "date"
    assert by_name["s"]["type"] == "string"
    assert by_name["n"]["nullable"] is True
    assert by_name["i"]["path"] == "$.i"
    assert by_name["i"]["examples"] == ["1", "2"]
    assert by_name["b"]["confidence"] == 0.5
    assert set(schema["primary_key_candidates"]) >= {"i", "f", "d"}


def test_diff_schemas_drift():
    old = {"fields": [{"name": "a", "type": "integer"}], "x": 1}
    new = {"fields": [{"name": "a", "type": "string"}], "y": 2}
    d = diff_schemas(old, new)
    assert "$.fields" in d["changed"]
    assert "$.x" in d["removed"] and "$.y" in d["added"]
    assert diff_schemas(old, json.loads(json.dumps(old))) == {}


# ---------------------------------------------------------------------------
# Pipeline end-to-end
# ---------------------------------------------------------------------------


def test_pipeline_end_to_end(spark, tmp_path):
    cfg = {
        "extract": {
            "type": "json",
            "source": str(FIXTURES / "nested.json"),
            "source_id": "unit_source",
            "retry_count": 1,
            "retry_delay": 0,
        },
        "transform": {
            "drop_duplicates": True,
            "enrich_rules": [{"col": "name_length"}, {"col": "has_price"}],
            "validations": {"required_columns": ["users"], "types": {}},
        },
        "load": {"type": "csv", "destination": str(tmp_path / "out" / "output.csv")},
        "monitoring": {"enabled": True, "summary_file": str(tmp_path / "summary.txt")},
    }
    rep = run_etl_pipeline(spark, cfg, schema_dir=str(tmp_path / "schemas"))
    out_csv = tmp_path / "out" / "output.csv"
    assert out_csv.exists()
    assert rep.n_records > 0
    assert rep.schema_id.startswith("v")
    assert os.path.exists(tmp_path / "schemas" / "unit_source_schema.json")
    assert (tmp_path / "summary.txt").read_text().startswith("source_id: unit_source")
    # flattened nested keys made it to the CSV header
    header = out_csv.read_text().splitlines()[0]
    assert "users" in header
    assert rep.missing_columns == []

    # second run: drift report against the persisted schema
    rep2 = run_etl_pipeline(spark, cfg, schema_dir=str(tmp_path / "schemas"))
    assert "$.schema_id" in rep2.schema_diff.get("changed", [])


# ---------------------------------------------------------------------------
# O2: deadline cancellation (reference server.js:45-48 — 60 s SIGKILL)
# ---------------------------------------------------------------------------


def test_job_deadline_cancels_slow_job(spark):
    """A deliberately slow Spark job is cancelled when the deadline
    fires; the context raises DeadlineExceeded promptly instead of
    waiting out the job."""
    import time as _time

    from etl_pipeline_project_auraverse_spark.pipeline import (
        DeadlineExceeded,
        JobDeadline,
    )

    def slow(batches):
        for b in batches:
            _time.sleep(30)
            yield b

    df = spark.range(8).mapInPandas(slow, schema="id long")
    t0 = _time.perf_counter()
    with pytest.raises(DeadlineExceeded, match="deadline"):
        with JobDeadline(spark, seconds=2.0):
            df.count()
    assert _time.perf_counter() - t0 < 20, "cancellation must not wait out the job"


def test_job_deadline_noop_when_fast(spark):
    from etl_pipeline_project_auraverse_spark.pipeline import JobDeadline

    with JobDeadline(spark, seconds=30.0):
        assert spark.range(10).count() == 10


def test_pipeline_timeout_reported(spark, tmp_path):
    """run_etl_pipeline with a tiny timeout reports cancelled=True in
    the RunReport and still writes the summary file (the reference
    returns an error JSON after its SIGKILL)."""
    import time as _time

    from etl_pipeline_project_auraverse_spark.pipeline import (
        extract as _extract,
    )
    from etl_pipeline_project_auraverse_spark import pipeline as pl

    cfg = {
        "extract": {"type": "json", "source": str(FIXTURES / "nested.json")},
        "load": {"type": "csv", "destination": str(tmp_path / "out.csv")},
        "monitoring": {"enabled": True, "summary_file": str(tmp_path / "sum.txt")},
    }

    def slow_extract(spark_, cfg_extract):
        df = _extract(spark_, cfg_extract)

        def stall(batches):
            for b in batches:
                _time.sleep(30)
                yield b

        return df.mapInPandas(stall, schema=df.schema)

    orig = pl.extract
    pl.extract = slow_extract
    try:
        rep = run_etl_pipeline(spark, cfg, schema_dir=str(tmp_path / "s"), timeout_sec=2.0)
    finally:
        pl.extract = orig
    assert rep.cancelled is True
    assert "deadline" in rep.error
    assert "cancelled: true" in (tmp_path / "sum.txt").read_text()
