"""Multi-format block extraction: raw text documents → tagged
structured records → one union-of-keys table.

Re-expresses the reference's extract layer (S1–S14, reference
``backend/etl_pipeline.py:84-165``) Spark-first:

- The reference runs 6+ independent full-text regex passes
  (etl_pipeline.py:98,112,123,132,141,149,152). Here each block
  pattern's regex runs once per document, natively
  (:func:`scan_blocks`: ``regexp_extract_all`` per pattern, one
  ``inline``), inside the extractor that parses those blocks; the
  extractors are branches of one materializing job over the stored
  documents (:func:`extract_records`), so the scans run in parallel
  tasks — whole-stage codegen, no Python in the row path.
- Block → record parsing stays native for JSON (validity via
  ``try_parse_json``) and code/log/error rows (``to_json(struct(...))``);
  CSV and YAML blocks (which need stateful per-block parsers) go through
  one Arrow-batched ``mapInPandas`` (S7/S8), HTML likewise (bs4 if
  available, else a regex fallback — the lib isn't in this container).
- Table assembly (:func:`records_to_table`): the records, materialized
  once, are typed per source type as the JVM JSON reader would type
  each type alone, with ONE inference job for all types, and parsed
  with ``from_json``, so the table stays a native plan over the stored
  records; the typed parts are then combined with
  ``unionByName(allowMissingColumns=True)`` on exact (case-sensitive)
  names — the reference's
  ``pd.json_normalize`` union-of-heterogeneous-keys semantics
  (etl_pipeline.py:158) without a single-node materialize.

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
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_project_auraverse_spark.cache import (
    local_checkpoint_tracked,
    register_checkpoint_ids,
)
from etl_pipeline_project_auraverse_spark.session import local_frame

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


def scan_blocks(docs: DataFrame, *types: str) -> DataFrame:
    """S5–S11: (path, source_type, block) for every block of the given
    source types, in ``BLOCK_PATTERNS`` order within each document."""
    def _tagger(typ: str):
        # closure factory: a 2-arg lambda would be called as (element, index)
        return lambda x: F.struct(F.lit(typ).alias("source_type"), x.alias("block"))

    arrays = [
        F.transform(F.regexp_extract_all(F.col("text"), F.lit(pat), grp), _tagger(typ))
        for typ, pat, grp in BLOCK_PATTERNS
        if typ in types
    ]
    return docs.select("path", F.inline(F.flatten(F.array(*arrays))))


# ---------------------------------------------------------------------------
# Block → JSON-record-string parsers. Everything funnels into JSON lines
# so table assembly is a single mechanism (json_table).
# ---------------------------------------------------------------------------


def _json_object_records(docs: DataFrame) -> DataFrame:
    """S5: validate `{...}` blocks; invalid JSON silently dropped."""
    return (
        scan_blocks(docs, "json")
        .filter(F.try_parse_json(F.col("block")).isNotNull())
        .filter(F.col("block").startswith("{"))
        .select("path", F.lit("json").alias("source_type"), F.col("block").alias("record_json"))
    )


def _json_array_records(docs: DataFrame) -> DataFrame:
    """S6: explode `[...]` blocks that parse as arrays of objects."""
    arr = scan_blocks(docs, "json_arr").filter(
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


def _csv_yaml_records(docs: DataFrame) -> DataFrame:
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

    return scan_blocks(docs, "csv", "yaml").mapInPandas(
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


def _simple_records(docs: DataFrame) -> DataFrame:
    """S10/S11: code/log blocks are single-field records, built natively."""
    code = scan_blocks(docs, "code").select(
        "path",
        F.lit("code").alias("source_type"),
        F.to_json(
            F.struct(F.regexp_replace(F.col("block"), "\n", " ").alias("_code_block"))
        ).alias("record_json"),
    )
    log = scan_blocks(docs, "log").select(
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
    (path, source_type, record_json), materialized.

    Two local checkpoints, one job each. The documents come first, so a
    document is read (for a PDF, its text extracted) once. The records
    follow: every extractor is a branch of that one job, and each block
    pattern's regex runs once, in the branch that parses its blocks, so
    the scans run as parallel tasks. The type listing, the schema
    inference and each type's parse in :func:`records_to_table` then
    read stored records instead of re-running the extractors. The error
    fallback (S12) emits a sentinel row for documents that produced no
    record at all; which documents those are is observed during the two
    checkpoint jobs, so it costs no job."""
    spark = docs.sparkSession
    seen = Observation()
    texts, text_ids = local_checkpoint_tracked(
        docs.observe(seen, F.collect_set("path").alias("paths"))
    )
    register_checkpoint_ids(spark, text_ids)
    parts = [
        strict_json_records(texts),
        _json_object_records(texts),
        _json_array_records(texts),
        _csv_yaml_records(texts),
        _simple_records(texts),
    ]
    if include_html:
        parts.append(html_records(texts))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    produced = Observation()
    records, record_ids = local_checkpoint_tracked(
        union.observe(produced, F.collect_set("path").alias("paths"))
    )
    register_checkpoint_ids(spark, record_ids)
    made = set(produced.get["paths"])
    if set(seen.get["paths"]) - made:
        # S12: documents with zero extracted records → error sentinel row
        records = records.unionByName(
            texts.filter(~F.col("path").isin(list(made))).select(
                "path",
                F.lit("error").alias("source_type"),
                F.to_json(
                    F.struct(F.lit("No extractable block found").alias("_error"))
                ).alias("record_json"),
            )
        )
    return records


def _inferred_schema(spark: SparkSession, lines: DataFrame) -> T.StructType:
    """The schema the JVM JSON reader infers for the one string column
    of ``lines`` (one job).

    PySpark's ``DataFrameReader.json`` takes only paths or RDDs, and the
    RDD form returns a frame backed by a Python RDD that pickles every
    row through a Python worker on each later action. So inference goes
    through the reader's ``Dataset[String]`` overload (the one the RDD
    form delegates to) and callers parse with ``from_json`` in the plan.
    """
    jlines = getattr(lines._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
    inferred = spark._jsparkSession.read().json(jlines).schema()
    return T.StructType.fromJson(json.loads(inferred.json()))


def json_table(spark: SparkSession, records: DataFrame) -> DataFrame:
    """The typed table the JSON reader gives for the ``record_json``
    strings of ``records``: its inferred schema, column order and
    ``_corrupt_record`` column, without leaving the JVM."""
    schema = _inferred_schema(spark, records.select("record_json"))
    return records.select(F.from_json("record_json", schema).alias("r")).select("r.*")


def _of_type(typ: str | None) -> Column:
    return F.col("source_type").isNull() if typ is None else F.col("source_type") == typ


def _wrapped_schema(spark: SparkSession, records: DataFrame, types: list) -> T.StructType:
    """The inferred schema of the lines ``{"t<i>": record_json}``, where
    ``i`` is the position of the record's source type in ``types``."""
    key = F.coalesce(*(F.when(_of_type(t), F.lit(f"t{i}")) for i, t in enumerate(types)))
    return _inferred_schema(
        spark,
        records.select(F.concat(F.lit('{"'), key, F.lit('":'), F.col("record_json"), F.lit("}"))),
    )


def records_to_table(spark: SparkSession, records: DataFrame) -> DataFrame:
    """S13: union-of-keys table from heterogeneous JSON records.

    Each source type is typed as :func:`json_table` would type its
    records alone, and the parts are combined in the order the records'
    ``distinct()`` lists their types, with
    ``unionByName(allowMissingColumns=True)`` on exact names — missing
    keys become nulls and keys that differ only by case stay apart,
    matching ``pd.json_normalize`` (etl_pipeline.py:158).

    All types share ONE schema-inference job: record ``r`` of the i-th
    type becomes the line ``{"t<i>": r}``, so field ``t<i>`` of the
    inferred schema is that type's schema (a corrupt record makes its
    whole line corrupt, as it would alone). Each type is then parsed by
    ``from_json`` against its field. A type without a field had no
    record that parsed to a non-empty object: all ``{}`` (a zero-column
    part, kept), all corrupt (skipped) or a mix (skipped, as its own
    schema is ``_corrupt_record`` only); only that type's own inference
    tells these apart, so it gets one. The corrupt-record column is
    dropped from the rest. Nested objects stay native StructType here;
    ``operators.flatten`` turns them into flat columns.

    ``records`` is read by the type listing, the inference and every
    type's parse: pass a materialized frame (:func:`extract_records`
    returns one).
    """
    types = [r[0] for r in records.select("source_type").distinct().collect()]
    schema = _wrapped_schema(spark, records, types) if types else T.StructType()
    parts: list[DataFrame] = []
    for i, typ in enumerate(types):
        part = records.filter(_of_type(typ))
        if f"t{i}" in schema.fieldNames():
            js = part.select(
                F.from_json("record_json", schema[f"t{i}"].dataType).alias("r")
            ).select("r.*")
        else:
            js = json_table(spark, part)
        if js.columns == ["_corrupt_record"]:
            continue
        js = js.drop("_corrupt_record")
        if typ is not None:
            js = js.withColumn("_source_type", F.lit(typ))
        parts.append(js)
    if not parts:
        return local_frame(
            spark,
            [("No extractable block found", "error")],
            "_error string, _source_type string",
        )
    return _union_by_exact_name(parts)


def _union_by_exact_name(parts: list[DataFrame]) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` over ``parts``, left to
    right, matching column names exactly. Spark matches them ignoring
    case, which merges the keys ``A`` and ``a`` (or fails on a part
    that has both); ``pd.json_normalize`` keeps them apart. Every part
    is renamed by position to one placeholder per exact name, unioned,
    and renamed back."""
    names = list(dict.fromkeys(c for p in parts for c in p.columns))
    slot = {c: f"_c{k}" for k, c in enumerate(names)}
    out = parts[0].toDF(*[slot[c] for c in parts[0].columns])
    for p in parts[1:]:
        out = out.unionByName(p.toDF(*[slot[c] for c in p.columns]), allowMissingColumns=True)
    return out.toDF(*[names[int(c[2:])] for c in out.columns])
