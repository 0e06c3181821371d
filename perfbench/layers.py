"""Per-layer metrics of a traced run.

Dense metrics (present in every operation of the workloads where the
layer runs) are medians per operation. Sparse ones, which only some
operations touch (memo builds, order statistics, cache releases), are
means per operation, because their median would read 0. Metrics of a
layer the workload never enters read 0.
"""

from __future__ import annotations

import stats

# name → (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("s", "lower"),
    "queries.load_all_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "queries.builder_s": ("s", "lower"),
    "queries.builder_share": ("fraction", "lower"),
    "spark.plan_s": ("s", "lower"),
    "spark.exec_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.ideal_s": ("s", "lower"),
    "spark.overhead_s": ("s", "lower"),
    "spark.critical_stage_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "cache.memo_builds": ("count", "lower"),
    "cache.memo_hit_ratio": ("fraction", "higher"),
    "cache.persist_calls": ("count", "lower"),
    "cache.release_s": ("s", "lower"),
    "operators.order_stats_s": ("s", "lower"),
    "operators.order_stats_calls": ("count", "lower"),
    "sources.extract_s": ("s", "lower"),
    "pipeline.transform_s": ("s", "lower"),
    "operators.schema_profile_s": ("s", "lower"),
    "sinks.write_csv_s": ("s", "lower"),
    "sinks.out_bytes_per_in_byte": ("ratio", "lower"),
    "server.overhead_s": ("s", "lower"),
    "self.client_s": ("s", "lower"),
    "self.queries_s": ("s", "lower"),
    "self.spark_s": ("s", "lower"),
    "self.cache_s": ("s", "lower"),
    "self.operators_s": ("s", "lower"),
    "self.pipeline_s": ("s", "lower"),
    "self.sources_s": ("s", "lower"),
    "self.sinks_s": ("s", "lower"),
    "self.server_s": ("s", "lower"),
    "trace.throughput_ops_s": ("1/s", "higher"),
    "trace.bookkeeping_s": ("s", "lower"),
    "disk_write_mb": ("MB/op", "lower"),
}

SPARK_DENSE = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.critical_stage_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb",
]
UPLOAD_SPANS = {
    "sources.extract_s": "sources.extract",
    "pipeline.transform_s": "pipeline.transform",
    "operators.schema_profile_s": "operators.schema_profile",
    "sinks.write_csv_s": "sinks.write_csv",
}


def _span_time(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def per_layer(records: list[dict], tracer, cores: int, window: float,
              ok_ops: int, disk_mb: float) -> dict[str, float]:
    """Every metric of :data:`PER_LAYER` from the run's operation records,
    spans and the bytes written per operation."""
    spans = tracer.spans
    setup = {s["name"]: s["end"] - s["start"] for s in spans if s["op"] is None}
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        if s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)
    n = len(records)
    queries = [r for r in records if "builder_s" in r]
    uploads = [r for r in records if "in_bytes" in r]
    m: dict[str, float] = {
        "session.get_spark_s": setup.get("session.get_spark", 0.0),
        "queries.load_all_s": setup.get("queries.load_all", 0.0),
        "session.warmup_s": setup.get("session.warmup", 0.0),
        "queries.builder_s": stats.median(r["builder_s"] for r in queries),
        "queries.builder_share": stats.median(r["builder_s"] / r["latency_s"] for r in queries),
        "spark.plan_s": stats.median(r.get("plan_s", 0.0) for r in queries),
        "spark.exec_s": stats.median(r.get("exec_s", 0.0) for r in queries),
    }
    for key in SPARK_DENSE:
        m[key] = stats.median(r[key] for r in records)
    m["spark.ideal_s"] = stats.median(r["spark.executor_run_s"] / cores for r in records)
    m["spark.overhead_s"] = stats.median(
        r["latency_s"] - r["spark.executor_run_s"] / cores for r in records
    )
    counts = tracer.counts
    memo_calls = counts.get("cache.memo_calls", 0)
    m["cache.memo_builds"] = counts.get("cache.memo_builds", 0) / n
    m["cache.memo_hit_ratio"] = counts.get("cache.memo_hits", 0) / memo_calls if memo_calls else 0.0
    m["cache.persist_calls"] = counts.get("cache.persist_tracked_calls", 0) / n
    m["cache.release_s"] = sum(_span_time(v, "cache.release_caches") for v in by_op.values()) / n
    m["operators.order_stats_s"] = sum(
        _span_time(v, "operators.order_stats") for v in by_op.values()
    ) / n
    m["operators.order_stats_calls"] = counts.get("operators.order_stats_calls", 0) / n
    for key, span_name in UPLOAD_SPANS.items():
        m[key] = stats.median(_span_time(by_op.get(r["op"], []), span_name) for r in uploads)
    m["sinks.out_bytes_per_in_byte"] = stats.median(
        r.get("out_bytes", 0) / r["in_bytes"] for r in uploads
    )
    m["server.overhead_s"] = stats.median(
        _span_time(by_op.get(r["op"], []), "server.request")
        - _span_time(by_op.get(r["op"], []), "pipeline.run_etl_pipeline")
        for r in uploads
    )
    own = stats.layer_self_times([s for s in spans if s["op"] is not None])
    for layer in ("client", "queries", "spark", "cache", "operators", "pipeline",
                  "sources", "sinks", "server"):
        m[f"self.{layer}_s"] = own.get(layer, 0.0) / n
    m["trace.throughput_ops_s"] = ok_ops / window
    m["trace.bookkeeping_s"] = stats.median(r["bookkeeping_s"] for r in records)
    m["disk_write_mb"] = disk_mb
    return {k: float(m[k]) for k in PER_LAYER}
