"""How an upload runs: the number of Spark jobs one pipeline run takes,
the stage label on each of them, and one-pass typing of the extracted
records against the per-type JSON-reader inference it replaces.

Jobs are counted by id range (``conftest.run_jobs``).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark import pipeline as pl
from etl_pipeline_project_auraverse_spark.pipeline import run_etl_pipeline
from etl_pipeline_project_auraverse_spark.sources.blocks import json_table, records_to_table
from tests.conftest import run_jobs

FIXTURES = Path(__file__).parent / "fixtures"
STAGES = {"etl:extract", "etl:transform", "etl:profile", "etl:write"}


def _upload_cfg(tmp_path: Path, source: Path, ftype: str) -> dict:
    """The server's pipeline config for one staged upload."""
    return {
        "extract": {"type": ftype, "source": str(source), "source_id": "jobs", "retry_count": 3},
        "transform": {"drop_duplicates": True},
        "load": {"type": "csv", "destination": str(tmp_path / "output.csv")},
        "monitoring": {"enabled": False},
    }


def _json_array_doc(tmp_path: Path, n: int = 500) -> Path:
    doc = tmp_path / "records.json"
    doc.write_text(
        json.dumps([{"rid": f"r{i:04d}", "score": i % 97, "city": "oslo"} for i in range(n)])
    )
    return doc


@pytest.mark.parametrize("kind", ["mixed_text", "json_array"])
def test_upload_runs_in_few_jobs(spark, tmp_path, kind):
    """Each document is scanned once, the records are produced once, one
    job infers every source type's schema and one aggregate serves
    transform: 13 jobs where the per-type, re-planning path took 26+."""
    if kind == "mixed_text":
        cfg = _upload_cfg(tmp_path, FIXTURES / "mixed.txt", "txt")
    else:
        cfg = _upload_cfg(tmp_path, _json_array_doc(tmp_path), "json")
    reports = []
    jobs = run_jobs(
        spark,
        lambda: reports.append(
            run_etl_pipeline(spark, cfg, schema_dir=str(tmp_path / "s"), timeout_sec=60)
        ),
    )
    assert reports[0].n_records > 0 and not reports[0].error
    assert len(jobs) <= 13, jobs
    assert set(jobs) <= STAGES, jobs  # labelled inside the deadline's job group


def test_pipeline_jobs_carry_stage_labels(spark, tmp_path):
    """Every job of a run is labelled with its stage, the caller's job
    description comes back afterwards, and a deadline still cancels."""
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        cfg = _upload_cfg(tmp_path, _json_array_doc(tmp_path, 50), "json")
        jobs = run_jobs(
            spark, lambda: run_etl_pipeline(spark, cfg, schema_dir=str(tmp_path / "s"))
        )
        assert set(jobs) == STAGES, jobs
        assert sc.getLocalProperty("spark.job.description") == "caller"

        # a deadline-scoped run hands back the caller's group as well
        sc.setJobGroup("caller-group", "caller", False)
        run_etl_pipeline(spark, cfg, schema_dir=str(tmp_path / "s"), timeout_sec=60)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") == "false"
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)

    real_transform = pl.transform

    def stalled(df, cfg_transform):
        def stall(batches):
            for b in batches:
                time.sleep(30)
                yield b

        df, report = real_transform(df, cfg_transform)
        return df.mapInPandas(stall, schema=df.schema), report

    pl.transform = stalled
    try:
        t0 = time.perf_counter()
        rep = run_etl_pipeline(spark, cfg, schema_dir=str(tmp_path / "s"), timeout_sec=3.0)
    finally:
        pl.transform = real_transform
    assert rep.cancelled and "deadline" in rep.error
    assert time.perf_counter() - t0 < 25, "cancellation must not wait out the job"


# One-pass typing: records_to_table infers every source type in one job.
# The reference is the per-type loop it replaced: json_table on each
# type's records, in the order the records' distinct() lists the types,
# unioned with names matched case-sensitively, as pd.json_normalize
# matches keys.
TYPING_CASES = {
    "all_empty_objects_type": [("json", '{"a": 1}'), ("yaml", "{}"), ("yaml", "{ }")],
    "all_corrupt_type": [("json", '{"a": 1}'), ("csv", '{"a": 1'), ("csv", "not json")],
    "some_corrupt_records": [
        ("json", '{"a": 1, "b": "x"}'),
        ("json", '{"a": 2'),
        ("json", '{"a": 3, "b": null}'),
        ("log", '{"_log_entry": "up"}'),
    ],
    "empty_and_corrupt_type": [("json", '{"a": 1}'), ("yaml", "{}"), ("yaml", '{"b": ]}')],
    "case_distinct_keys": [(None, '{"A": 1, "a": "x"}'), (None, '{"a": "y"}'), (None, '{"A": 2}')],
    "case_distinct_keys_in_one_tagged_type": [("json", '{"A": 1, "a": "x"}'), ("yaml", '{"b": 2}')],
    "case_distinct_keys_across_types": [("json", '{"A": 1}'), ("yaml", '{"a": "x"}')],
    "long_then_struct_one_key": [
        ("json", '{"k": 1, "z": true}'),
        ("json", '{"k": {"x": [1, 2]}}'),
        ("yaml", '{"k": "s", "e": {}}'),
    ],
    "untagged_strict_json": [
        (None, '{"id": 1, "n": {"m": 2}}'),
        (None, '{"id": 2, "tags": ["a", null]}'),
        ("json", '{"id": 3}'),
        ("error", '{"_error": "No extractable block found"}'),
    ],
    "only_corrupt": [("csv", "{"), (None, "[1")],
}


def _per_type_reference(spark, records):
    types = [r[0] for r in records.select("source_type").distinct().collect()]
    out = None
    for typ in types:
        cond = F.col("source_type").isNull() if typ is None else F.col("source_type") == typ
        js = json_table(spark, records.filter(cond))
        if js.columns == ["_corrupt_record"]:
            continue
        js = js.drop("_corrupt_record")
        if typ is not None:
            js = js.withColumn("_source_type", F.lit(typ))
        out = js if out is None else out.unionByName(js, allowMissingColumns=True)
    if out is None:
        out = spark.createDataFrame(
            [("No extractable block found", "error")], "_error string, _source_type string"
        )
    return out


@pytest.mark.parametrize("case", sorted(TYPING_CASES))
def test_one_pass_typing_matches_per_type_inference(spark, case):
    records = spark.createDataFrame(
        [(f"doc{i % 2}", t, j) for i, (t, j) in enumerate(TYPING_CASES[case])],
        "path string, source_type string, record_json string",
    )
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        want = _per_type_reference(spark, records)
        want_schema, want_rows = want.schema, want.collect()
    finally:
        spark.conf.unset("spark.sql.caseSensitive")
    got = records_to_table(spark, records)
    assert got.schema == want_schema  # names, types and column order
    assert got.collect() == want_rows  # values and row order


def test_upload_with_keys_differing_by_case_names_them(spark, tmp_path):
    """The table keeps ``A`` and ``a`` apart, but the session resolves
    column names ignoring case, so the transform refuses them by name
    instead of failing on an ambiguous reference or a bad cast."""
    doc = tmp_path / "records.json"
    doc.write_text(json.dumps([{"A": 1, "a": "x"}, {"A": 2, "a": "y"}]))
    cfg = _upload_cfg(tmp_path, doc, "json")
    with pytest.raises(ValueError, match=r"\['A', 'a'\]"):
        run_etl_pipeline(spark, cfg, schema_dir=str(tmp_path / "s"))
