"""Config-driven ETL pipeline: the reference's ``run_etl_pipeline``
(``backend/etl_pipeline.py:295-319``) re-architected as Spark
DataFrame stages in one session.

Reference lifecycle (extract → normalize → flatten → schema → CSV) with
two changes that are execution strategy, not semantics:

- One SparkSession owns everything; the Node→Python process boundary
  (server.js:43) disappears. Stages are DataFrame transformations over
  one lineage. Extract materializes twice (the documents and the
  records, local checkpoints), then lists the source types and infers
  every type's schema in one job; transform runs one stats aggregate;
  the profile and the CSV write share one cached frame. Each stage's
  jobs carry its name as the job description (``etl:extract``,
  ``etl:transform``, ``etl:profile``, ``etl:write``).
- Flatten runs BEFORE normalize. The reference normalizes first, so
  values inside nested lists were never normalized; we tag
  array-derived columns and skip them in normalize, reproducing the
  reference's observable output without its ordering quirk.

The config surface is the reference's ``config.yaml`` (extract.type /
source / retry_count / retry_delay / source_id, transform.*, load.*,
monitoring.summary_file) — including the D1–D7 ops the reference
declares but never executes.
"""

from __future__ import annotations

import threading
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_pipeline_project_auraverse_spark.cache import release_caches
from etl_pipeline_project_auraverse_spark.operators import config_ops
from etl_pipeline_project_auraverse_spark.operators.flatten import flatten_columns
from etl_pipeline_project_auraverse_spark.operators.normalize import normalize_table
from etl_pipeline_project_auraverse_spark.operators.schema_profile import (
    diff_schemas,
    generate_schema,
    load_schema,
    save_schema,
)
from etl_pipeline_project_auraverse_spark.sinks import write_csv_single
from etl_pipeline_project_auraverse_spark.sources import blocks


@dataclass
class RunReport:
    """D7: run summary (monitoring.summary_file, config.yaml:37-42)."""

    source_id: str
    n_records: int = 0
    schema_id: str = ""
    schema_diff: dict = field(default_factory=dict)
    missing_columns: list[str] = field(default_factory=list)
    type_problems: dict[str, str] = field(default_factory=dict)
    duration_sec: float = 0.0
    attempts: int = 1
    cancelled: bool = False
    error: str = ""

    def render(self) -> str:
        lines = [
            f"source_id: {self.source_id}",
            f"records: {self.n_records}",
            f"schema: {self.schema_id}",
            f"attempts: {self.attempts}",
            f"duration_sec: {self.duration_sec:.3f}",
        ]
        if self.cancelled:
            lines.append("cancelled: true")
        if self.error:
            lines.append(f"error: {self.error}")
        if self.missing_columns:
            lines.append(f"missing_columns: {','.join(self.missing_columns)}")
        if self.type_problems:
            lines.append(f"type_problems: {self.type_problems}")
        if self.schema_diff:
            lines.append(f"schema_drift: {self.schema_diff}")
        return "\n".join(lines) + "\n"


class JobDeadline:
    """O2: deadline-cancellation for Spark jobs (reference: the 60 s
    SIGKILL timer in ``server.js:45-48``), done the Spark way — a job
    group plus a timer calling ``cancelJobGroup``, which interrupts
    running tasks instead of killing the process.

    Usage::

        with JobDeadline(spark, seconds=60) as dl:
            ... run actions ...
        # raises DeadlineExceeded if the timer fired
    """

    def __init__(self, spark: SparkSession, seconds: float):
        self.spark = spark
        self.seconds = seconds
        self.group = f"deadline-{uuid.uuid4().hex[:12]}"
        self.fired = threading.Event()
        self._done = threading.Event()
        self._timer: threading.Timer | None = None
        self._saved: dict[str, str | None] = {}

    def _cancel(self) -> None:
        # cancelJobGroup only hits ACTIVE jobs — if the deadline fires
        # in a gap between jobs (driver-side work, job not yet
        # submitted), a single cancel is silently lost and later jobs
        # in the group would run to completion. Keep re-cancelling
        # until the context exits so late-submitted jobs die too.
        self.fired.set()
        while not self._done.is_set():
            try:
                self.spark.sparkContext.cancelJobGroup(self.group)
            except Exception:  # session already stopped — nothing to cancel
                return
            self._done.wait(0.25)

    def __enter__(self) -> JobDeadline:
        sc = self.spark.sparkContext
        # the thread-local properties setJobGroup overwrites
        props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        self._saved = {p: sc.getLocalProperty(p) for p in props}
        # interruptOnCancel=True so long-running tasks (e.g. a stuck
        # UDF) are interrupted, not just deschedule-on-completion
        sc.setJobGroup(self.group, "deadline-scoped job", True)
        self._timer = threading.Timer(self.seconds, self._cancel)
        self._timer.daemon = True
        self._timer.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        self._done.set()
        if self._timer is not None:
            self._timer.cancel()
        # the caller's job group and description come back, unset ones unset
        for prop, value in self._saved.items():
            self.spark.sparkContext.setLocalProperty(prop, value)
        # only convert an exception: if the body finished before the
        # cancel landed, the work is done — don't fail a completed run
        if self.fired.is_set() and exc is not None:
            raise DeadlineExceeded(
                f"job exceeded the {self.seconds:.0f}s deadline and was cancelled"
            ) from exc
        return False  # non-deadline exceptions propagate untouched


class DeadlineExceeded(RuntimeError):
    """Raised when a JobDeadline fires (the reference's timeout path)."""


def extract(spark: SparkSession, cfg_extract: dict[str, Any]) -> DataFrame:
    """S14: config-driven extract dispatch (etl_pipeline.py:161-165)
    with D6 retry (config.yaml:4-5, declared-unused in the reference)."""
    src = cfg_extract["source"]
    ftype = cfg_extract.get("type", "txt")
    retries = int(cfg_extract.get("retry_count", 0))
    delay = float(cfg_extract.get("retry_delay", 0))
    last_err: Exception | None = None
    for _attempt in range(retries + 1):
        try:
            if ftype == "pdf":
                docs = blocks.read_pdf_documents(spark, src)  # S2
            else:  # txt/md/json/csv all route through whole-text scan (S1/S3)
                docs = blocks.read_text_documents(spark, src)
            records = blocks.extract_records(docs)
            return blocks.records_to_table(spark, records)
        except Exception as err:  # noqa: BLE001 - retry semantics
            last_err = err
            if _attempt < retries:
                time.sleep(delay)
    raise last_err  # type: ignore[misc]


def _array_derived_columns(df: DataFrame) -> set[str]:
    """Columns that flatten will stringify from arrays — normalize must
    skip them (see module docstring)."""
    out: set[str] = set()

    def walk(dtype: T.DataType, name: str) -> None:
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                walk(f.dataType, f"{name}_{f.name}" if name else f.name)
        elif isinstance(dtype, (T.ArrayType, T.MapType)):
            out.add(name)

    for f in df.schema.fields:
        walk(f.dataType, f.name)
    return out


def transform(df: DataFrame, cfg_transform: dict[str, Any] | None) -> tuple[DataFrame, dict]:
    """Flatten + normalize + the D1–D5 config ops. Returns the frame
    and a validation report."""
    cfg_transform = cfg_transform or {}
    array_cols = _array_derived_columns(df)
    df = flatten_columns(df)  # T10–T12
    df = normalize_table(df, array_cols=array_cols)  # T13, T1–T9: one stats pass
    if cfg_transform.get("drop_duplicates"):
        df = config_ops.drop_duplicates(df)  # D1
    if cfg_transform.get("dropna"):
        df = config_ops.drop_na(df)  # D2
    df = config_ops.enrich(df, cfg_transform.get("enrich_rules"))  # D3
    report: dict[str, Any] = {}
    validations = cfg_transform.get("validations") or {}
    report["missing_columns"] = config_ops.validate_required_columns(
        df, validations.get("required_columns")
    )  # D4
    report["type_problems"] = config_ops.validate_types(df, validations.get("types"))  # D5
    return df, report


def run_etl_pipeline(
    spark: SparkSession,
    cfg: dict[str, Any],
    schema_dir: str = "schemas",
    timeout_sec: float | None = None,
) -> RunReport:
    """Full lifecycle (etl_pipeline.py:295-319), each stage's jobs
    labelled with its name.

    ``timeout_sec`` is O2 (reference ``server.js:45-48``: 60 s then
    SIGKILL + error JSON): when the deadline fires, in-flight Spark
    jobs are cancelled and the report comes back with
    ``cancelled=True`` and the error message — the summary file is
    still written, mirroring the server's error response.
    """
    t0 = time.perf_counter()
    source_id = cfg.get("extract", {}).get("source_id") or cfg.get("source_id", "default_source")
    rep = RunReport(source_id=source_id)
    df: DataFrame | None = None

    try:
        with JobDeadline(spark, timeout_sec) if timeout_sec else _null_ctx():
            with _stage(spark, "etl:extract"):
                df = extract(spark, cfg["extract"])
            with _stage(spark, "etl:transform"):
                df, validation = transform(df, cfg.get("transform"))
            rep.missing_columns = validation["missing_columns"]
            rep.type_problems = validation["type_problems"]

            df = df.cache()  # profiled once, written once
            with _stage(spark, "etl:profile"):
                new_schema = generate_schema(df)  # A1–A5
            rep.schema_id = new_schema["schema_id"]
            old_schema = load_schema(schema_dir, source_id)
            if old_schema:
                rep.schema_diff = diff_schemas(old_schema, new_schema)  # drift
            save_schema(schema_dir, source_id, new_schema)  # K2

            with _stage(spark, "etl:write"):
                rep.n_records = write_csv_single(df, cfg["load"]["destination"])  # K1, A7
    except DeadlineExceeded as err:
        rep.cancelled = True
        rep.error = str(err)
    finally:
        if df is not None:
            try:
                df.unpersist()
            except Exception:
                pass
        # the extraction checkpoints (documents, records) are registered
        # in the session-wide registry — release them so a long-lived
        # session running many pipelines doesn't accumulate
        release_caches()

    rep.duration_sec = time.perf_counter() - t0
    summary_file = (cfg.get("monitoring") or {}).get("summary_file")
    if summary_file and (cfg.get("monitoring") or {}).get("enabled", True):
        with open(summary_file, "w", encoding="utf-8") as f:
            f.write(rep.render())  # D7
    return rep


@contextmanager
def _stage(spark: SparkSession, name: str) -> Iterator[None]:
    """Label the jobs of one pipeline stage with ``name`` (their
    ``spark.job.description``); the previous description comes back on
    exit. The job group, and so a deadline's cancellation, is untouched."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


class _null_ctx:
    """No-deadline context (timeout_sec=None)."""

    def __enter__(self) -> None:
        return None

    def __exit__(self, *exc: object) -> bool:
        return False
