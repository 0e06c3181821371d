"""Structured Streaming operators over the events stream — the
streaming twins of ``queries.timeseries`` (same semantics on an
unbounded source). The reference is batch-only (SURVEY §2.5: streaming
absent); this is part of the extended capability surface (§7 M5).

Design notes (scale posture):
- Every stateful op declares a watermark so state is bounded: late
  events beyond the watermark are dropped deterministically, and the
  state store evicts closed windows/sessions.
- Sessionization uses the native ``session_window`` (gap-close
  semantics identical to the batch lag/cumsum pipeline) — state is
  per user_id, merged incrementally, no full-history shuffle.
- ``stateful_user_counters`` shows the custom-operator escape hatch:
  ``applyInPandasWithState`` with explicit GroupState, for semantics
  the built-in windows can't express.
- Sinks: ``to_memory`` for tests/driver inspection; production path is
  ``writeStream.format("parquet")`` with checkpointing.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_pipeline_project_auraverse_spark.queries._util import dec_sum

# explicit DDL keeps the stream schema stable regardless of input files
EVENT_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based event stream: each parquet file is a micro-batch."""
    return (
        spark.readStream.schema(EVENT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame, window: str = "6 hours", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling-window count/sum per event_type (streaming twin of
    ``q_event_tumbling_windows``). Watermark bounds window state.

    The value sum accumulates in DECIMAL(25,6) (``dec_sum``): decimal
    addition is associative, so the emitted total is bit-identical no
    matter how micro-batches fold into the window — and identical to
    the batch/DuckDB answer (``q_stream_twin_tumbling_counts`` runs
    this very function over a bounded scan under the oracle gate)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window count/sum per event_type (streaming twin of
    ``q_event_sliding_windows``): each event lands in size/slide
    overlapping windows; the watermark bounds how long any window's
    state stays open."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_events(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based sessions via native ``session_window`` (streaming twin
    of ``q_sessionize_events``): a session closes after ``gap`` of
    user inactivity; the watermark lets the store emit+evict it.
    Decimal value accumulation (see ``windowed_event_counts``) keeps
    the emitted total independent of session-merge order;
    ``q_stream_twin_sessionization`` runs this function over a bounded
    scan under the DuckDB oracle gate."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            dec_sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "total_value",
        )
    )


def deduped_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id, state bounded by watermark
    (the streaming face of D1 / the dedup suite's exact variant)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stateful_user_counters(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``:
    per-user running event count + running value sum, emitted on every
    update. The pattern for operators window/session can't express."""

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def error_burst_alerts(
    events: DataFrame,
    window_sec: int = 6 * 3600,
    k: int = 3,
    watermark: str = "1 hour",
) -> DataFrame:
    """CEP-style burst detector (streaming twin of
    ``q_error_burst_alerts``): alert for every error event that is the
    k-th or later error of its user within the trailing window.

    Custom state via ``applyInPandasWithState``: per user, the error
    timeline accumulates in state and each invocation emits only the
    NEWLY crossing events (emitted ids are remembered), so the union
    of all emissions equals the batch answer regardless of micro-batch
    arrival order. State here keeps the full per-user error timeline
    for exactness under arbitrary reordering; a production deployment
    prunes events older than ``watermark + window`` once the watermark
    passes them, which bounds state like every other watermarked op."""

    out_schema = "user_id long, event_id long, ts timestamp, n_in_window long"
    state_schema = (
        "ts_us array<long>, event_ids array<long>, "
        "emitted_ids array<long>, emitted_ns array<long>"
    )

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ts_us, ids, em_ids, em_ns = (
            state.get if state.exists else ([], [], [], [])
        )
        ts_us, ids = list(ts_us), list(ids)
        last_n = dict(zip(em_ids, em_ns))
        for pdf in batches:
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
            ids.extend(int(i) for i in pdf["event_id"])
        order = sorted(range(len(ids)), key=lambda i: (ts_us[i], ids[i]))
        ts_sorted = [ts_us[i] for i in order]
        ids_sorted = [ids[i] for i in order]
        rows = []
        lo = 0
        win_us = window_sec * 1_000_000
        for i, t in enumerate(ts_sorted):
            while ts_sorted[lo] < t - win_us:
                lo += 1
            n = i - lo + 1
            # re-emit when a late earlier event GREW an alert's window
            # count, so the latest emission always equals the batch n
            if n >= k and last_n.get(ids_sorted[i]) != n:
                last_n[ids_sorted[i]] = n
                rows.append((key[0], ids_sorted[i], t, n))
        state.update(
            (ts_us, ids, list(last_n.keys()), list(last_n.values()))
        )
        yield pd.DataFrame(
            rows, columns=["user_id", "event_id", "__ts_us", "n_in_window"]
        ).assign(
            ts=lambda d: pd.to_datetime(d["__ts_us"], unit="us")
        )[["user_id", "event_id", "ts", "n_in_window"]]

    return (
        events.filter(F.col("event_type") == "error")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def enriched_event_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch hash-joins against the
    static dimension (re-read per batch, so dim updates are picked up).
    The dim side should be broadcastable; no state, no watermark needed
    — the canonical enrichment shape for a 100 TB event firehose."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), events["user_id"] == dim["c_custkey"], "left").select(
        events["event_id"],
        events["ts"],
        events["user_id"],
        events["event_type"],
        events["value"],
        dim["c_mktsegment"].alias("segment"),
    )


def purchase_context_join(
    events: DataFrame,
    range_minutes: int = 30,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (streaming twin of
    ``q_range_join_purchase_context``): each view pairs with the same
    user's purchases within ``range_minutes`` after it. Both sides are
    watermarked and the join condition time-bounds the match window,
    so each side's state store holds at most
    ``watermark + range_minutes`` of events — the requirements Spark
    enforces for unbounded-safe stream-stream joins.

    ``how="leftOuter"`` keeps unmatched views: Spark emits the
    null-joined row only once the watermark proves no qualifying
    purchase can still arrive — the state-correct streaming version of
    "views that never converted"."""
    views = (
        events.filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {range_minutes} MINUTES")
        )
    )
    return views.join(purchases, cond, how).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def rollup_stream(
    events: DataFrame, state_dir: str, checkpoint_dir: str | None = None
):
    """Continuous-aggregate maintenance as a streaming sink: each
    micro-batch's partial (window, event_type) rollup folds into the
    stored parquet rollup via ``foreachBatch`` + atomic swap
    (``operators/incremental.py::apply_rollup_batch``).

    foreachBatch side effects are only at-least-once — Spark replays
    the in-flight batch after a crash/restart. The applied batch id
    rides INSIDE the atomically-swapped rollup directory, so a replay
    is detected and skipped: the sink is exactly-once end to end. This
    is the streaming face of the manifest-driven batch refresh, and the
    update-capable alternative to the append-only file sink (closed
    windows get amended in place as late-but-in-watermark data folds
    in)."""
    from etl_pipeline_project_auraverse_spark.operators.incremental import (
        apply_rollup_batch,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_rollup_batch(batch_df.sparkSession, state_dir, batch_df, batch_id)

    writer = events.writeStream.foreachBatch(_apply).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def upsert_stream(
    events: DataFrame,
    state_dir: str,
    keys: list[str],
    seq_cols: list[str],
    checkpoint_dir: str | None = None,
):
    """Streaming CDC apply: each micro-batch merges into a persistent
    keyed snapshot (``operators/cdc.apply_upsert_batch``) — the
    MERGE-INTO sink for a change feed. Exactly-once across restarts by
    the same swapped-in batch-id contract as ``rollup_stream``; delete
    tombstones persist in the stored snapshot (so late-arriving older
    upserts stay dead), so a reader of ``state_dir/snapshot`` drops the
    rows whose op column holds the delete op."""
    from etl_pipeline_project_auraverse_spark.operators.cdc import (
        apply_upsert_batch,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_upsert_batch(
            batch_df.sparkSession, state_dir, batch_df, batch_id, keys, seq_cols
        )

    writer = events.writeStream.foreachBatch(_apply).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def scored_rollup(spark: SparkSession, state_dir: str) -> DataFrame:
    """Anomaly scores over the continuously-maintained rollup: each
    (window, event_type) bucket z-scored against that type's own
    distribution — the streaming face of ``q_event_anomaly_zscore``
    (same exact-integer sufficient statistics, so the score of a
    bucket is identical whether the rollup was built by one batch
    pass or folded in over many micro-batches; asserted in
    ``test_streaming.py``).

    This is the hypertable pattern end to end: ``rollup_stream``
    maintains the aggregate incrementally with exactly-once folds,
    and scoring is a cheap batch query over the SMALL rollup (buckets,
    not events) that can run on any cadence."""
    from etl_pipeline_project_auraverse_spark.operators.incremental import (
        IncrementalRollup,
    )
    from pyspark.sql.window import Window as W

    roll = IncrementalRollup(state_dir).read(spark)
    w = W.partitionBy("event_type")
    scored = roll.select(
        "event_type",
        "win_start",
        F.col("n_events").alias("c"),
        F.sum("n_events").over(w).alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("ss"),
        F.count("*").over(w).alias("n"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    z = F.round(
        F.when(var <= 0, F.lit(0.0)).otherwise((F.col("c") - mean) / F.sqrt(var)), 6
    ).cast("double")
    return scored.select(
        "event_type",
        "win_start",
        F.col("c").alias("n_events"),
        z.alias("zscore"),
    )


def to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Test/driver sink: materialize the stream into an in-memory table."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
