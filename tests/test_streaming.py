"""Streaming-vs-batch equivalence tests: each streaming operator run
over the bounded events parquet (availableNow trigger) must agree with
its batch twin — plus hard-signal integration tests for the properties
batch equivalence can't show: watermark state eviction (a late row is
DROPPED, not absorbed) and exactly-once file-sink semantics across
query restarts. This is the test strategy for operators whose
semantics aren't SQL-oracle-checkable via the driver gate."""

from __future__ import annotations

import os
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_pipeline_project_auraverse_spark.session import load_table
from etl_pipeline_project_auraverse_spark.streaming import events as se


def read_upsert_snapshot(spark, state_dir: str, op_col=None, delete_op: str = "D"):
    """The upsert state as a reader sees it: the stored snapshot (a
    crashed swap recovered first) minus delete tombstones."""
    from etl_pipeline_project_auraverse_spark.operators.incremental import _recover

    _recover(state_dir, "snapshot")
    df = spark.read.parquet(os.path.join(state_dir, "snapshot"))
    return df if op_col is None else df.filter(F.col(op_col) != delete_op)


def _write_event_file(path: str, rows: list[tuple], mtime: float) -> None:
    """One parquet file = one micro-batch (maxFilesPerTrigger=1); the
    file stream orders batches by modification time, which we pin so
    arrival order is deterministic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    event_ids, tss, users, types, values, props = zip(*rows)
    table = pa.table(
        {
            "event_id": pa.array(event_ids, type=pa.int64()),
            "ts": pa.array(list(tss), type=pa.timestamp("us")),
            "user_id": pa.array(users, type=pa.int64()),
            "event_type": pa.array(types, type=pa.string()),
            "value": pa.array(values, type=pa.float64()),
            "props": pa.array(props, type=pa.string()),
        }
    )
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


def _ts(hour: int, minute: int = 0) -> datetime:
    # naive UTC wall clock — matches the untagged-parquet convention of
    # the testdata (session tz is UTC, so wall == epoch)
    return datetime(2024, 3, 1, hour, minute)


@pytest.fixture(scope="module")
def events_path(spark, sf_dir, tmp_path_factory):
    """Events re-written as multiple parquet files so the file stream
    sees several micro-batches (and as micro-us timestamps, matching
    what load_table normalizes to)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(out)
    return out


def _run_stream(df, name: str, output_mode: str = "append"):
    q = se.to_memory(df, name, output_mode=output_mode)
    q.processAllAvailable()
    q.stop()
    return name


def test_windowed_counts_match_batch(spark, events_path):
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=2)
    name = f"win_{uuid.uuid4().hex[:8]}"
    _run_stream(se.windowed_event_counts(stream), name, output_mode="complete")
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in spark.table(name).collect()
    }
    batch = (
        spark.read.parquet(events_path)
        .groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .collect()
    )
    want = {(r["win"]["start"], r["event_type"]): (r["n"], r["tv"]) for r in batch}
    assert got == want


def test_sliding_counts_match_batch(spark, events_path):
    """Streaming sliding windows fold micro-batches into the same
    overlapping-window totals as one batch pass (each event in
    exactly size/slide = 2 windows)."""
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=2)
    name = f"slide_{uuid.uuid4().hex[:8]}"
    _run_stream(
        se.sliding_event_counts(stream, window="1 hour", slide="30 minutes"),
        name,
        output_mode="complete",
    )
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in spark.table(name).collect()
    }
    batch = (
        spark.read.parquet(events_path)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .collect()
    )
    want = {(r["win"]["start"], r["event_type"]): (r["n"], r["tv"]) for r in batch}
    assert got == want
    # every event appears in exactly two windows
    n_events = spark.read.parquet(events_path).count()
    assert sum(n for n, _ in got.values()) == 2 * n_events


def test_sessionization_matches_batch_sessions(spark, events_path):
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=2)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_stream(se.sessionized_events(stream), name, output_mode="complete")
    got = spark.table(name)
    # session_window semantics == batch lag/cumsum sessionization
    ev = spark.read.parquet(events_path)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(prev.isNull() | ((F.unix_micros(F.col("ts")) - prev) > gap_us), 1).otherwise(0)
    batch = (
        ev.withColumn("new", is_new)
        .withColumn("sid", F.sum("new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy("user_id", "sid")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
    )
    got_keys = {(r["user_id"], r["session_start"], r["n_events"]) for r in got.collect()}
    want_keys = {(r["user_id"], r["session_start"], r["n_events"]) for r in batch.collect()}
    assert got_keys == want_keys


def test_streaming_dedup(spark, events_path):
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=2)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_stream(se.deduped_events(stream), name)
    n_stream = spark.table(name).count()
    n_batch = spark.read.parquet(events_path).select("event_id").distinct().count()
    assert n_stream == n_batch


def test_stream_static_join(spark, sf_dir, events_path):
    from etl_pipeline_project_auraverse_spark.session import load_table

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=2)
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    _run_stream(se.enriched_event_stream(stream, dim), name)
    got = spark.table(name)
    batch = (
        spark.read.parquet(events_path)
        .join(dim, F.col("user_id") == F.col("c_custkey"), "left")
    )
    assert got.count() == batch.count()
    g = {r["segment"]: r["n"] for r in got.groupBy("segment").agg(F.count("*").alias("n")).collect()}
    b = {r["c_mktsegment"]: r["n"] for r in batch.groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()}
    assert g == b


def test_stateful_user_counters(spark, events_path):
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=2)
    name = f"state_{uuid.uuid4().hex[:8]}"
    _run_stream(se.stateful_user_counters(stream), name, output_mode="update")
    # update mode: the LAST emitted row per user carries the final state
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    )
    got = {r["user_id"]: r["n_events"] for r in final}
    batch = spark.read.parquet(events_path).groupBy("user_id").count().collect()
    want = {r["user_id"]: r["count"] for r in batch}
    assert got == want


def test_watermark_drops_late_row_and_closes_window(spark, tmp_path):
    """State-eviction hard signal: after the watermark passes a window's
    end, the window is emitted ONCE (append mode) and a subsequently
    arriving late row for it is DROPPED — not absorbed, not re-emitted.
    Batch equivalence can never show this; it is the property that
    bounds state at 100 TB."""
    src = tmp_path / "late_src"
    src.mkdir()
    base = 1_700_000_000
    # batch 0: two rows in window [00:00, 06:00) + one row at 12:00 that
    # advances the watermark to 11:00 (> 06:00), closing the window
    _write_event_file(
        str(src / "a.parquet"),
        [
            (1, _ts(1), 10, "view", 1.0, "{}"),
            (2, _ts(2), 11, "view", 2.0, "{}"),
            (3, _ts(12), 12, "view", 3.0, "{}"),
        ],
        mtime=base,
    )
    # batch 1: on-time filler — the filter watermark for batch N is
    # derived from data through batch N-1, so the advanced watermark
    # takes effect one batch after the advancing row
    _write_event_file(
        str(src / "b.parquet"),
        [(9, _ts(13), 14, "view", 9.0, "{}")],
        mtime=base + 100,
    )
    # batch 2: a LATE row inside the closed [00:00, 06:00) window
    _write_event_file(
        str(src / "c.parquet"),
        [(4, _ts(3), 13, "view", 4.0, "{}")],
        mtime=base + 200,
    )
    stream = se.read_event_stream(spark, str(src), max_files_per_trigger=1)
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = se.to_memory(
        se.windowed_event_counts(stream, window="6 hours", watermark="1 hour"),
        name,
        output_mode="append",
    )
    q.processAllAvailable()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
    )
    q.stop()
    # the state store itself reports the eviction-driven drop
    assert dropped == 1, [p["stateOperators"] for p in q.recentProgress]
    rows = [r for r in spark.table(name).collect() if r["win_start"] == _ts(0)]
    # exactly one emission of the closed window, counting ONLY the two
    # on-time rows — the late event_id=4 row left no trace
    assert len(rows) == 1, rows
    assert rows[0]["n_events"] == 2 and rows[0]["total_value"] == 3.0, rows


def test_file_sink_exactly_once_across_restarts(spark, tmp_path):
    """Exactly-once hard signal: a checkpointed parquet-sink query can
    be stopped and restarted without duplicating output — already-
    committed micro-batches are not replayed into the sink, and dedup
    state survives the restart via the checkpoint."""
    src = tmp_path / "eo_src"
    out = str(tmp_path / "eo_out")
    chk = str(tmp_path / "eo_chk")
    src.mkdir()
    base = 1_700_000_000

    def run_once() -> None:
        stream = se.read_event_stream(spark, str(src), max_files_per_trigger=1)
        q = (
            se.deduped_events(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    _write_event_file(
        str(src / "a.parquet"),
        [
            (1, _ts(1), 10, "view", 1.0, "{}"),
            (2, _ts(1, 30), 11, "view", 2.0, "{}"),
            (2, _ts(1, 31), 11, "view", 2.0, "{}"),  # in-batch duplicate id
        ],
        mtime=base,
    )
    run_once()
    assert spark.read.parquet(out).count() == 2  # dup dropped

    # restart with NO new data: nothing may be re-emitted
    run_once()
    assert spark.read.parquet(out).count() == 2

    # restart with one new file: a cross-restart duplicate (id=1, within
    # watermark) is dropped via checkpointed state; the new row lands once
    _write_event_file(
        str(src / "b.parquet"),
        [
            (1, _ts(1, 45), 10, "view", 1.0, "{}"),
            (5, _ts(2), 12, "view", 5.0, "{}"),
        ],
        mtime=base + 100,
    )
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert {r["event_id"] for r in got.collect()} == {1, 2, 5}


def test_streaming_rollup_is_exactly_once(spark, events_path, tmp_path):
    """foreachBatch continuous aggregate: all micro-batches folded must
    equal the one-shot batch rollup; restarting the (checkpointed)
    query with no new data must change nothing; and a REPLAYED batch id
    — what Spark does to the in-flight batch after a crash — must be
    detected and skipped rather than double-counted."""
    from etl_pipeline_project_auraverse_spark.operators.incremental import (
        _partial_rollup,
        apply_rollup_batch,
    )

    state = str(tmp_path / "rollup_state")
    chk = str(tmp_path / "rollup_chk")

    def run_once() -> None:
        stream = se.read_event_stream(spark, events_path, max_files_per_trigger=2)
        q = se.rollup_stream(stream, state, checkpoint_dir=chk)
        q.processAllAvailable()
        q.stop()

    run_once()
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in spark.read.parquet(f"{state}/rollup").collect()
    }
    want = {
        (r["win_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in _partial_rollup(spark.read.parquet(events_path)).collect()
    }
    assert got == want

    # restart with no new data: no batches run, rollup unchanged
    run_once()
    again = {
        (r["win_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in spark.read.parquet(f"{state}/rollup").collect()
    }
    assert again == want

    # simulate the crash-replay: re-apply an already-applied batch id
    replay = spark.read.parquet(events_path).limit(50)
    assert apply_rollup_batch(spark, state, replay, 0) is False
    after = {
        (r["win_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in spark.read.parquet(f"{state}/rollup").collect()
    }
    assert after == want


def test_stream_stream_purchase_context_matches_batch(spark, events_path):
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=2)
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    _run_stream(se.purchase_context_join(stream), name, output_mode="append")
    got = {
        (r["view_id"], r["purchase_id"])
        for r in spark.table(name).collect()
    }
    ev = spark.read.parquet(events_path)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r["view_id"], r["purchase_id"])
        for r in v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_scored_rollup_matches_batch_scoring(spark, events_path, tmp_path):
    """Anomaly scores over the incrementally-maintained rollup must be
    IDENTICAL to scoring a one-shot batch rollup of the same events:
    the exact-integer sufficient statistics make the z-scores
    independent of how the aggregate was folded together."""
    from pyspark.sql.window import Window as W

    from etl_pipeline_project_auraverse_spark.operators.incremental import (
        _partial_rollup,
    )

    state = str(tmp_path / "score_state")
    chk = str(tmp_path / "score_chk")
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=1)
    q = se.rollup_stream(stream, state, checkpoint_dir=chk)
    q.processAllAvailable()
    q.stop()

    got = {
        (r["event_type"], r["win_start"]): (r["n_events"], r["zscore"])
        for r in se.scored_rollup(spark, state).collect()
    }

    batch = _partial_rollup(spark.read.parquet(events_path))
    w = W.partitionBy("event_type")
    scored = batch.select(
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
    want = {
        (r["event_type"], r["win_start"]): (r["c"], r["z"])
        for r in scored.select("event_type", "win_start", "c", z.alias("z")).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_upsert_is_exactly_once(spark, events_path, tmp_path):
    """Streaming CDC apply: the persistent keyed snapshot after the
    stream drains must equal the batch apply_changes over the whole
    feed; a restart with no new data changes nothing; a replayed batch
    id is skipped; and a key whose winning row is a tombstone stays
    hidden at read."""
    from etl_pipeline_project_auraverse_spark.operators.cdc import (
        apply_changes,
        apply_upsert_batch,
    )

    state = str(tmp_path / "upsert_state")
    chk = str(tmp_path / "upsert_chk")
    keys, seq = ["user_id"], ["ts", "event_id"]

    def run_once() -> None:
        stream = se.read_event_stream(spark, events_path, max_files_per_trigger=2)
        q = se.upsert_stream(stream, state, keys, seq, checkpoint_dir=chk)
        q.processAllAvailable()
        q.stop()

    def snap() -> dict:
        df = read_upsert_snapshot(spark, state, op_col="event_type", delete_op="error")
        return {r["user_id"]: (r["ts"], r["event_id"], r["event_type"]) for r in df.collect()}

    run_once()
    want_full = apply_changes(spark.read.parquet(events_path), keys, seq)
    want = {
        r["user_id"]: (r["ts"], r["event_id"], r["event_type"])
        for r in want_full.filter(F.col("event_type") != "error").collect()
    }
    got = snap()
    assert got == want
    # tombstoned keys really are hidden (feed is big enough that some
    # user's LATEST event is an 'error')
    n_tombstoned = want_full.filter(F.col("event_type") == "error").count()
    assert n_tombstoned > 0
    assert read_upsert_snapshot(spark, state).count() == len(want) + n_tombstoned

    # restart with no new data: nothing changes
    run_once()
    assert snap() == want

    # crash-replay: an already-applied batch id must be a detected no-op
    replay = spark.read.parquet(events_path).limit(50)
    assert apply_upsert_batch(spark, state, replay, 0, keys, seq) is False
    assert snap() == want


def test_upsert_snapshot_survives_crashed_swap(spark, tmp_path):
    """Kill-window recovery for the snapshot state: if a crash lands
    between the two renames (no snapshot/ dir; completed tmp on disk),
    the next touch must restore the tmp, not sweep it."""
    import shutil

    from etl_pipeline_project_auraverse_spark.operators.cdc import (
        apply_upsert_batch,
    )

    state = str(tmp_path / "crash_state")
    feed = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], ["k", "seq", "val"])
    assert apply_upsert_batch(spark, state, feed, 0, ["k"], ["seq"]) is True
    before = {r["k"]: r["val"] for r in read_upsert_snapshot(spark, state).collect()}

    # simulate the crash: snapshot/ renamed aside to a completed tmp,
    # nothing renamed back in
    os.rename(
        os.path.join(state, "snapshot"), os.path.join(state, "snapshot.tmp.deadbeef")
    )
    after = {r["k"]: r["val"] for r in read_upsert_snapshot(spark, state).collect()}
    assert after == before
    # and the replay guard still knows batch 0 was applied
    assert apply_upsert_batch(spark, state, feed, 0, ["k"], ["seq"]) is False
    shutil.rmtree(state)


def test_outer_join_emits_unconverted_views(spark, events_path):
    """leftOuter stream-stream join: matched rows equal the batch inner
    join; null-joined rows appear once the watermark proves no
    qualifying purchase can arrive, and each is genuinely unmatched in
    a batch check. No view emits both matched and null rows."""
    # all files in ONE batch: random per-file mtime order would drop
    # behind-watermark arrivals as late data; the trailing no-data
    # micro-batch then advances the watermark and flushes outer nulls
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=8)
    name = f"outer_{uuid.uuid4().hex[:8]}"
    _run_stream(
        se.purchase_context_join(stream, how="leftOuter"),
        name,
        output_mode="append",
    )
    rows = spark.table(name).collect()
    matched = {(r["view_id"], r["purchase_id"]) for r in rows
               if r["purchase_id"] is not None}
    nulled = {r["view_id"] for r in rows if r["purchase_id"] is None}

    ev = spark.read.parquet(events_path)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    want_inner = {(r["view_id"], r["purchase_id"])
                  for r in v.join(p, cond).collect()}
    batch_matched_views = {vid for vid, _ in want_inner}

    assert matched == want_inner and len(want_inner) > 0
    # every null-joined view is truly unconverted, and some exist
    assert nulled, "watermark never released any unmatched view"
    assert not (nulled & batch_matched_views)
    # a view emits either a match or a null row, never both
    assert not (nulled & {vid for vid, _ in matched})


def test_error_burst_alerts_match_batch(spark, events_path):
    """The stateful CEP burst detector's LATEST emission per event must
    equal the batch range-window answer, independent of micro-batch
    arrival order (late earlier errors trigger corrected re-emission)."""
    stream = se.read_event_stream(spark, events_path, max_files_per_trigger=1)
    name = f"burst_{uuid.uuid4().hex[:8]}"
    _run_stream(
        se.error_burst_alerts(stream, window_sec=6 * 3600, k=3),
        name,
        output_mode="update",
    )
    from pyspark.sql.window import Window as W

    emitted = spark.table(name)
    latest = (
        emitted.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "event_id").orderBy(F.col("n_in_window").desc())
            ),
        )
        .filter("rn = 1")
        .select("user_id", "event_id", "n_in_window")
    )
    got = {(r["user_id"], r["event_id"]): r["n_in_window"] for r in latest.collect()}

    ev = spark.read.parquet(events_path)
    err = ev.filter(F.col("event_type") == "error")
    wb = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-6 * 3600 * 1_000_000, 0)
    )
    batch = (
        err.withColumn("n", F.count(F.lit(1)).over(wb))
        .filter("n >= 3")
        .select("user_id", "event_id", "n")
    )
    want = {(r["user_id"], r["event_id"]): r["n"] for r in batch.collect()}
    assert got == want and len(want) > 0
