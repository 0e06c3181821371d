"""Multi-format block extraction: raw text documents → tagged
structured records → one union-of-keys table.

Re-expresses the reference's extract layer (S1–S14, reference
``backend/etl_pipeline.py:84-165``) Spark-first:

- The reference runs 6+ independent full-text regex passes
  (etl_pipeline.py:98,112,123,132,141,149,152). Here all regex block
  scanners run in ONE projection over the text column
  (:func:`scan_blocks`): each pattern contributes an
  ``array<struct<source_type,block>>`` via ``regexp_extract_all`` and a
  single ``explode(flatten(array(...)))`` emits every block — one scan,
  whole-stage codegen, no Python in the row path.
- Block → record parsing stays native for JSON (validity via
  ``try_parse_json``) and code/log/error rows (``to_json(struct(...))``);
  CSV and YAML blocks (which need stateful per-block parsers) go through
  one Arrow-batched ``mapInPandas`` (S7/S8), HTML likewise (bs4 if
  available, else a regex fallback — the lib isn't in this container).
- Table assembly: per source type, :func:`json_table` infers the
  schema with the JVM JSON reader and parses with ``from_json``, so the
  table stays a native plan over the cached records; the typed parts
  are then combined with ``unionByName(allowMissingColumns=True)`` —
  the reference's ``pd.json_normalize`` union-of-heterogeneous-keys
  semantics (etl_pipeline.py:158) without a single-node materialize.

Faithfully kept reference quirks (they are semantics, not bugs): a
strict-JSON document is *also* re-scanned by the embedded-block
regexes, so records can triple-appear until ``drop_duplicates`` (D1)
runs; strict-JSON rows carry no ``_source_type``; the lazy ``{...}``
regex only finds non-overlapping minimal blocks.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_project_auraverse_spark.cache import persist_tracked

# (source_type, pattern, regex group index) — reference etl_pipeline.py:98-154
BLOCK_PATTERNS: list[tuple[str, str, int]] = [
    ("json", r"\{[\s\S]+?\}", 0),  # embedded JSON objects (S5)
    ("json_arr", r"\[[\s\S]+?\]", 0),  # embedded JSON arrays (S6)
    # embedded CSV (S7): header line, then the rest of the text. `[\s\S]*`
    # rather than a repeated per-line group, which Java's regex engine
    # matches by recursing once per line (a stack overflow past ~2k lines)
    ("csv", r'((?:[\w" ]+,)+[\w" ]+\n[\s\S]*)', 1),
    ("yaml", r"(?:[a-zA-Z0-9_]+:\s[^\n]+\n(?:\s+- .+\n)*)+", 0),  # YAML (S8)
    ("code", r"(def .+?:\n(?:\s+.+\n)*|print\(.+\))", 1),  # code blocks (S10)
    ("log", r"\[\d{4}-\d{2}-\d{2} .+?\] .+", 0),  # log lines (S11)
]


def read_text_documents(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S1: whole-file text scan → (path, text). One row per document."""
    df = spark.read.text(paths, wholetext=True)
    return df.select(F.input_file_name().alias("path"), F.col("value").alias("text"))


def _pdf_bytes_to_text(data: bytes) -> str:
    """S2 extractor cascade, mirroring the reference's pdfplumber →
    PyPDF2 → raise-if-empty chain (etl_pipeline.py:27-48), with the
    built-in stdlib parser (`sources.pdf_text`) as the final fallback
    so extraction works without either library installed."""
    import io

    text = ""
    try:  # pragma: no cover - pdfplumber absent in this container
        import pdfplumber

        with pdfplumber.open(io.BytesIO(data)) as pdf:
            text = "\n".join(page.extract_text() or "" for page in pdf.pages)
    except Exception:
        pass
    if not text.strip():
        try:  # pragma: no cover - PyPDF2 absent in this container
            from PyPDF2 import PdfReader

            reader = PdfReader(io.BytesIO(data))
            text = "\n".join(page.extract_text() or "" for page in reader.pages)
        except Exception:
            pass
    if not text.strip():
        from etl_pipeline_project_auraverse_spark.sources.pdf_text import (
            extract_pdf_text,
        )

        text = extract_pdf_text(data)
    if not text.strip():
        # reference raises here (etl_pipeline.py:46-47); same message
        raise ValueError(
            "No extractable text found in PDF. Is this a scanned/image PDF "
            "or empty? Extraction failed."
        )
    return text


def read_pdf_documents(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S2: PDF scan via binaryFile + Arrow-batched text extraction.

    The binary column is consumed inside one ``mapInPandas`` pass, so
    page parallelism comes from file partitioning; the extractor chain
    is pdfplumber → PyPDF2 → built-in stdlib parser (real FlateDecode +
    content-stream text extraction), raising the reference's
    no-extractable-text error per unreadable file.
    """
    bin_df = spark.read.format("binaryFile").load(paths)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "text": [_pdf_bytes_to_text(bytes(b)) for b in pdf["content"]],
                }
            )

    return bin_df.select("path", "content").mapInPandas(
        extract, schema="path string, text string"
    )


def scan_blocks(docs: DataFrame) -> DataFrame:
    """S5–S11 in one pass: (path, source_type, block) per extracted block."""
    def _tagger(typ: str):
        # closure factory: a 2-arg lambda would be called as (element, index)
        return lambda x: F.struct(F.lit(typ).alias("source_type"), x.alias("block"))

    arrays = [
        F.transform(F.regexp_extract_all(F.col("text"), F.lit(pat), grp), _tagger(typ))
        for typ, pat, grp in BLOCK_PATTERNS
    ]
    return docs.select(
        "path", F.explode(F.flatten(F.array(*arrays))).alias("b")
    ).select("path", F.col("b.source_type").alias("source_type"), F.col("b.block").alias("block"))


# ---------------------------------------------------------------------------
# Block → JSON-record-string parsers. Everything funnels into JSON lines
# so table assembly is a single mechanism (json_table).
# ---------------------------------------------------------------------------


def _json_object_records(blocks: DataFrame) -> DataFrame:
    """S5: validate `{...}` blocks; invalid JSON silently dropped."""
    return (
        blocks.filter(F.col("source_type") == "json")
        .filter(F.try_parse_json(F.col("block")).isNotNull())
        .filter(F.col("block").startswith("{"))
        .select("path", F.lit("json").alias("source_type"), F.col("block").alias("record_json"))
    )


def _json_array_records(blocks: DataFrame) -> DataFrame:
    """S6: explode `[...]` blocks that parse as arrays of objects."""
    arr = blocks.filter(F.col("source_type") == "json_arr").filter(
        F.try_parse_json(F.col("block")).isNotNull()
    )
    exploded = arr.select(
        "path",
        F.explode(
            F.from_json(F.col("block"), "array<string>", {"mode": "PERMISSIVE"})
        ).alias("record_json"),
    )
    return exploded.filter(F.col("record_json").startswith("{")).select(
        "path", F.lit("json").alias("source_type"), "record_json"
    )


def _csv_yaml_records(blocks: DataFrame) -> DataFrame:
    """S7/S8: per-block CSV/YAML parsing via one Arrow-batched UDF."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import csv as csvmod
        import io

        import yaml as yamlmod

        for pdf in batches:
            out: list[tuple[str, str, str]] = []
            for path, typ, block in zip(pdf["path"], pdf["source_type"], pdf["block"]):
                try:
                    if typ == "csv":
                        rows = list(csvmod.DictReader(io.StringIO(block)))
                        for r in rows:
                            if any(v is not None and str(v).strip() for v in r.values()):
                                out.append((path, "csv", json.dumps(r, default=str)))
                    elif typ == "yaml":
                        data = yamlmod.safe_load(block)
                        if isinstance(data, dict):
                            out.append((path, "yaml", json.dumps(data, default=str)))
                except Exception:
                    continue  # reference swallows per-block parse errors
            yield pd.DataFrame(out, columns=["path", "source_type", "record_json"])

    return blocks.filter(F.col("source_type").isin("csv", "yaml")).mapInPandas(
        parse, schema="path string, source_type string, record_json string"
    )


def html_records(docs: DataFrame) -> DataFrame:
    """S9: per-tag HTML rows {_html_tag,_html_text,_html_attr_*}.

    Uses bs4 when available (exact reference parity); otherwise the
    stdlib tree parser in `sources.html_text`, which reproduces
    bs4's find_all(True) walk, get_text(strip=True) concatenation,
    and multi-valued-attribute stringification.
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            from bs4 import BeautifulSoup  # type: ignore

            have_bs4 = True
        except ImportError:
            from etl_pipeline_project_auraverse_spark.sources.html_text import (
                iter_tag_rows,
            )

            have_bs4 = False
        for pdf in batches:
            out: list[tuple[str, str]] = []
            for path, text in zip(pdf["path"], pdf["text"]):
                if have_bs4:  # pragma: no cover - bs4 absent in container
                    soup = BeautifulSoup(text, "html.parser")
                    for tag in soup.find_all(True):
                        tag_text = tag.get_text(strip=True)
                        if tag_text and len(tag_text) > 3:
                            row = {"_html_tag": tag.name, "_html_text": tag_text}
                            for attr, val in tag.attrs.items():
                                row[f"_html_attr_{attr}"] = str(val)
                            out.append((path, json.dumps(row, default=str)))
                else:
                    for row in iter_tag_rows(text):
                        out.append((path, json.dumps(row, default=str)))
            yield pd.DataFrame(out, columns=["path", "record_json"])

    return docs.mapInPandas(parse, schema="path string, record_json string").select(
        "path", F.lit("html").alias("source_type"), "record_json"
    )


def _simple_records(blocks: DataFrame) -> DataFrame:
    """S10/S11: code/log blocks are single-field records, built natively."""
    code = blocks.filter(F.col("source_type") == "code").select(
        "path",
        F.lit("code").alias("source_type"),
        F.to_json(
            F.struct(F.regexp_replace(F.col("block"), "\n", " ").alias("_code_block"))
        ).alias("record_json"),
    )
    log = blocks.filter(F.col("source_type") == "log").select(
        "path",
        F.lit("log").alias("source_type"),
        F.to_json(F.struct(F.col("block").alias("_log_entry"))).alias("record_json"),
    )
    return code.unionByName(log)


def strict_json_records(docs: DataFrame) -> DataFrame:
    """S4: whole document parsed as JSON dict / list-of-dicts (untagged)."""
    valid = docs.filter(F.try_parse_json(F.col("text")).isNotNull())
    objs = valid.filter(F.trim(F.col("text")).startswith("{")).select(
        "path", F.trim(F.col("text")).alias("record_json")
    )
    arrs = (
        valid.filter(F.trim(F.col("text")).startswith("["))
        .select(
            "path",
            F.explode(F.from_json(F.col("text"), "array<string>")).alias("record_json"),
        )
        .filter(F.col("record_json").startswith("{"))
    )
    return objs.unionByName(arrs).select(
        "path", F.lit(None).cast("string").alias("source_type"), "record_json"
    )


def extract_records(docs: DataFrame, include_html: bool = True) -> DataFrame:
    """S4–S12: every extraction mode over (path, text) documents →
    (path, source_type, record_json). The error fallback (S12) emits a
    sentinel row for documents that produced no blocks at all."""
    blocks = persist_tracked(scan_blocks(docs))
    parts = [
        strict_json_records(docs),
        _json_object_records(blocks),
        _json_array_records(blocks),
        _csv_yaml_records(blocks),
        _simple_records(blocks),
    ]
    if include_html:
        parts.append(html_records(docs))
    records = parts[0]
    for p in parts[1:]:
        records = records.unionByName(p)
    # S12: documents with zero extracted records → error sentinel row
    empty = docs.join(records.select("path").distinct(), "path", "left_anti").select(
        "path",
        F.lit("error").alias("source_type"),
        F.to_json(
            F.struct(F.lit("No extractable block found").alias("_error"))
        ).alias("record_json"),
    )
    return records.unionByName(empty)


def json_table(spark: SparkSession, records: DataFrame) -> DataFrame:
    """The typed table the JSON reader gives for the ``record_json``
    strings of ``records``: its inferred schema, column order and
    ``_corrupt_record`` column, without leaving the JVM.

    PySpark's ``DataFrameReader.json`` takes only paths or RDDs, and the
    RDD form returns a frame backed by a Python RDD that pickles every
    row through a Python worker on each later action. So the schema is
    inferred by the JVM reader's ``Dataset[String]`` overload (the one
    the RDD form delegates to; one job) and the rows are parsed by
    ``from_json`` in the plan.
    """
    lines = getattr(records.select("record_json")._jdf, "as")(
        spark._jvm.org.apache.spark.sql.Encoders.STRING()
    )
    inferred = spark._jsparkSession.read().json(lines).schema()
    schema = T.StructType.fromJson(json.loads(inferred.json()))
    return records.select(F.from_json("record_json", schema).alias("r")).select("r.*")


def records_to_table(spark: SparkSession, records: DataFrame) -> DataFrame:
    """S13: union-of-keys table from heterogeneous JSON records.

    The records are cached once; each source type is then typed by
    :func:`json_table` (one schema-inference job, parsing in the plan)
    and the parts are combined with
    ``unionByName(allowMissingColumns=True)`` — missing keys become
    nulls, matching ``pd.json_normalize`` (etl_pipeline.py:158). A type
    whose records all fail to parse (schema ``_corrupt_record`` only)
    is skipped, and the corrupt-record column is dropped from the rest.
    Nested objects stay native StructType here; ``operators.flatten``
    turns them into flat columns.
    """
    cached = persist_tracked(records)
    types = [r[0] for r in cached.select("source_type").distinct().collect()]
    out: DataFrame | None = None
    for typ in types:
        cond = (
            F.col("source_type").isNull() if typ is None else F.col("source_type") == typ
        )
        # each type comes from the records' own distinct(), so no part is empty
        js = json_table(spark, cached.filter(cond))
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
