"""In-memory spans around calls into the engine's layers, and per
operation Spark job metrics read from the status store.

Spans are recorded only from the benchmark's own code: :func:`instrument`
replaces a layer's public functions with timing wrappers, in the defining
module and in every loaded module that imported the same function object
by name, so call-time ``from … import name`` lookups see the wrapper too.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from typing import Any, Callable

PKG = "etl_pipeline_project_auraverse_spark"

# (module, function, span name) for every wrapped layer entry point.
ENTRY_POINTS = [
    ("cache", "memo_table", "cache.memo_table"),
    ("cache", "persist_tracked", "cache.persist_tracked"),
    ("cache", "release_caches", "cache.release_caches"),
    ("operators.order_stats", "exact_group_percentiles", "operators.order_stats"),
    ("operators.order_stats", "hist_group_percentiles", "operators.order_stats"),
    ("operators.order_stats", "value_counts_percentiles", "operators.order_stats"),
    ("operators.order_stats", "weighted_median_hist", "operators.order_stats"),
    ("pipeline", "extract", "sources.extract"),
    ("pipeline", "transform", "pipeline.transform"),
    ("operators.schema_profile", "generate_schema", "operators.schema_profile"),
    ("sinks", "write_csv_single", "sinks.write_csv"),
    ("pipeline", "run_etl_pipeline", "pipeline.run_etl_pipeline"),
]


class Tracer:
    """Spans with name, start, end, parent and operation id, kept in
    memory. ``enabled=False`` makes :meth:`span` a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self.counts: dict[str, int] = {}
        self.op_id: int | None = None
        self.op_root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def count(self, name: str) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + 1

    def span(self, name: str, **attrs: Any) -> "_Span":
        return _Span(self, name, attrs)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t = tracer
        self.name = name
        self.attrs = attrs

    def __enter__(self) -> "_Span":
        if not self.t.enabled:
            return self
        stack = getattr(self.t._local, "stack", None)
        if stack is None:
            stack = self.t._local.stack = []
        with self.t._lock:
            self.id = len(self.t.spans)
            parent = stack[-1] if stack else self.t.op_root
            self.rec = {
                "id": self.id,
                "name": self.name,
                "op": self.t.op_id,
                "parent": parent,
                "start": 0.0,
                "end": 0.0,
                **self.attrs,
            }
            self.t.spans.append(self.rec)
        stack.append(self.id)
        self.rec["start"] = time.perf_counter()
        return self

    def __exit__(self, *exc: object) -> bool:
        if self.t.enabled:
            self.rec["end"] = time.perf_counter()
            self.t._local.stack.pop()
        return False

    def duration(self) -> float:
        return self.rec["end"] - self.rec["start"] if self.t.enabled else 0.0


def _wrap(tracer: Tracer, fn: Callable, span_name: str) -> Callable:
    if span_name == "cache.memo_table":

        @functools.wraps(fn)
        def memo_wrapper(memo, spark, corpus_key, build_plan, snapshot_path, subkey=""):
            key = (spark.sparkContext.applicationId, corpus_key, subkey)
            hit = memo.get(key) is not None
            tracer.count("cache.memo_calls")
            tracer.count("cache.memo_hits" if hit else "cache.memo_builds")
            with tracer.span(span_name, hit=hit):
                return fn(memo, spark, corpus_key, build_plan, snapshot_path, subkey)

        return memo_wrapper

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer.count(span_name + "_calls")
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return wrapper


def instrument(tracer: Tracer) -> None:
    """Swap every entry point for its wrapper wherever it is bound."""
    import importlib

    for mod_name, fn_name, span_name in ENTRY_POINTS:
        module = importlib.import_module(f"{PKG}.{mod_name}")
        original = getattr(module, fn_name)
        wrapped = _wrap(tracer, original, span_name)
        for loaded in list(sys.modules.values()):
            if not getattr(loaded, "__name__", "").startswith(PKG):
                continue
            for attr, value in list(vars(loaded).items()):
                if value is original:
                    setattr(loaded, attr, wrapped)


class JobReader:
    """Reads the jobs an operation ran from Spark's status store.

    Jobs are attributed by id range: each call to :meth:`collect` takes
    the ids Spark assigned since the previous call. Job groups cannot be
    used because the upload path replaces the group with its own.
    ``tracker`` answers ``getJobInfo(id)`` (None past the last job),
    ``store`` answers ``lastStageAttempt(stage_id)`` and ``drain`` waits
    until the listener bus has recorded every finished job.
    """

    def __init__(self, tracker, store, drain) -> None:
        self.tracker = tracker
        self.store = store
        self.drain = drain
        self.next_id = 0
        self.seen_stages: set[int] = set()
        self.collect()  # skip the jobs of set-up and warm-up

    @classmethod
    def for_session(cls, spark) -> "JobReader":
        jsc = spark.sparkContext._jsc.sc()
        return cls(
            spark.sparkContext.statusTracker(),
            jsc.statusStore(),
            jsc.listenerBus().waitUntilEmpty,
        )

    def collect(self) -> dict[str, float]:
        """Metrics of every job since the last call."""
        self.drain()
        jobs = stages = tasks = failed = 0
        run_ms = cpu_ns = rd = wr = 0
        critical_ms = 0
        while True:
            info = self.tracker.getJobInfo(self.next_id)
            if info is None:
                break
            self.next_id += 1
            jobs += 1
            for sid in info.stageIds:
                if sid in self.seen_stages:
                    continue  # ran (or was skipped) under an earlier job
                self.seen_stages.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage: never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += st.numCompleteTasks()
                failed += st.numFailedTasks()
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                rd += st.shuffleReadBytes()
                wr += st.shuffleWriteBytes()
                sub, comp = st.submissionTime(), st.completionTime()
                if sub.isDefined() and comp.isDefined():
                    critical_ms = max(critical_ms, comp.get().getTime() - sub.get().getTime())
        return {
            "spark.jobs": jobs,
            "spark.stages": stages,
            "spark.tasks": tasks,
            "spark.failed_tasks": failed,
            "spark.executor_run_s": run_ms / 1e3,
            "spark.executor_cpu_s": cpu_ns / 1e9,
            "spark.critical_stage_s": critical_ms / 1e3,
            "spark.shuffle_read_mb": rd / 2**20,
            "spark.shuffle_write_mb": wr / 2**20,
        }
