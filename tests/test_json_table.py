"""``sources.blocks.json_table`` against the JSON reader it replaces.

The reference below is PySpark's RDD overload of ``spark.read.json``:
the same JVM reader, but its frame is backed by a Python RDD. The
helper must give the same schema (names, types, order, the
``_corrupt_record`` column) and the same rows on every shape of input,
and its plan must not scan a Python RDD.
"""

from __future__ import annotations

import json

import pytest

from etl_pipeline_project_auraverse_spark.cache import release_caches
from etl_pipeline_project_auraverse_spark.pipeline import extract
from etl_pipeline_project_auraverse_spark.sources.blocks import json_table


def _reference(spark, df):
    return spark.read.json(df.rdd.map(lambda r: r["record_json"]))


def _records(spark, lines: list[str]):
    return spark.createDataFrame([(s,) for s in lines], "record_json string")


CASES = {
    "all_empty_objects": ["{}", "{}", "{}"],
    "one_corrupt": ['{"a": 1, "b": "x"}', '{"a": 2', '{"a": 3, "b": null}'],
    "all_corrupt": ['{"a": 1', "not json", '{"b": ]}'],
    "long_string_struct_one_key": ['{"k": 1}', '{"k": "two"}', '{"k": {"x": 3}}'],
    "long_then_struct": ['{"k": 1, "z": true}', '{"k": {"x": [1, 2]}}'],
    "nested_arrays_with_nulls": [
        '{"a": [[1, null], null, [], [3]], "b": [null, {"c": null}, {"c": "d"}]}',
        '{"a": [], "b": []}',
        '{"a": null, "b": [{"c": [null, 1.5]}]}',
    ],
    "empty_array_only": ['{"e": []}', '{"e": []}'],
    "big_numbers": [
        '{"n": 12345678901234567890, "f": 1e400}',
        '{"n": 1, "f": -1e400}',
        '{"n": 42, "f": 2.5}',
    ],
    "case_distinct_keys": ['{"A": 1, "a": "x"}', '{"a": "y"}', '{"A": 2}'],
}


def _canon(rows) -> list[str]:
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str) for r in rows)


@pytest.mark.parametrize("case", sorted(CASES))
def test_json_table_matches_reader(spark, case):
    df = _records(spark, CASES[case])
    want = _reference(spark, df)
    got = json_table(spark, df)
    assert got.schema == want.schema  # names, types and column order
    assert _canon(got.collect()) == _canon(want.collect())


def test_extracted_json_document_scans_no_python_rdd(spark, tmp_path):
    doc = tmp_path / "doc.json"
    doc.write_text(json.dumps([{"id": i, "name": f"n{i}"} for i in range(20)]))
    try:
        tbl = extract(spark, {"type": "json", "source": str(doc)})
        assert tbl.count() > 0
        # the extracted records are a local checkpoint (a JVM RDD scan),
        # so look for a Python RDD in the lineage rather than for any
        # RDD scan in the plan
        lineage = tbl._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage
    finally:
        release_caches()
