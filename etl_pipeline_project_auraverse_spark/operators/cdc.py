"""CDC apply / MERGE-style upsert: collapse a change feed to the
latest state per key, with delete tombstones.

The reference engine has no mutation surface at all (one file in, one
table out — SURVEY.md §2.5), but any warehouse fed by this engine
needs the change-apply shape: given rows that each describe an upsert
or delete of a keyed record, produce (or advance) the current
snapshot. This is Delta/Iceberg ``MERGE INTO`` semantics expressed as
plain DataFrame ops, so it runs on bare parquet.

Scale notes (100 TB posture):

- ``apply_changes`` is one window over the key columns — a single
  shuffle on a high-cardinality key, no self-join of the feed.
- ``merge_snapshot`` unions the base snapshot UNDER the feed (base
  rows rank below any change with an equal sequence value) and reuses
  the same single-window plan; the base never joins against itself.
- Deletes are dropped AFTER latest-wins selection, so a delete
  followed by a re-insert at a higher sequence correctly revives the
  key, and a stale out-of-order delete is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: name of the synthetic rank column; never escapes this module
_RN = "__cdc_rn"
#: base-snapshot marker column used by merge_snapshot
_TIE = "__cdc_is_change"


def apply_changes(
    changes: DataFrame,
    keys: list[str],
    seq_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """Latest state per key from a change feed.

    ``seq_cols`` order the feed (later = wins); ties beyond them are a
    caller contract violation, so pass a unique tiebreaker (e.g. the
    change's own id) as the last element. If ``op_col`` is given, keys
    whose WINNING row carries ``delete_op`` are tombstoned out.
    """
    order = [F.col(c).desc() for c in seq_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    latest = (
        changes.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )
    if op_col is not None:
        latest = latest.filter(F.col(op_col) != delete_op)
    return latest


def merge_snapshot(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    seq_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """Advance a snapshot by one change batch (MERGE INTO shape).

    The base snapshot must have the same schema as the feed (a
    snapshot produced by :func:`apply_changes` qualifies). Base rows
    lose against a change with the SAME sequence value — re-applying
    the batch that produced the snapshot is idempotent.
    """
    tagged_base = base.withColumn(_TIE, F.lit(0))
    tagged_changes = changes.withColumn(_TIE, F.lit(1))
    feed = tagged_base.unionByName(tagged_changes)
    return apply_changes(
        feed, keys, [*seq_cols, _TIE], op_col=op_col, delete_op=delete_op
    ).drop(_TIE)


# ---------------------------------------------------------------------------
# Persistent snapshot state: the foreachBatch face. Reuses the
# manifest-in-dir atomic swap from operators/incremental.py, so a
# replayed micro-batch (foreachBatch is at-least-once) is detected by
# its batch id and skipped — exactly-once upserts across restarts,
# with the same crashed-swap recovery contract.
# ---------------------------------------------------------------------------

_SNAP = "snapshot"


def apply_upsert_batch(
    spark,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    keys: list[str],
    seq_cols: list[str],
) -> bool:
    """Merge one micro-batch into the persistent keyed snapshot exactly
    once; returns False if ``batch_id`` was already applied."""
    import os

    from etl_pipeline_project_auraverse_spark.operators.incremental import (
        _read_meta,
        _recover,
        _swap_in,
    )

    snap_dir = os.path.join(state_dir, _SNAP)
    _recover(state_dir, _SNAP)  # surface a crashed swap before the meta read
    meta = _read_meta(snap_dir)
    if int(meta.get("last_batch_id", -1)) >= batch_id:
        return False
    batch_latest = apply_changes(batch_df, keys, seq_cols)  # keep tombstone rows
    if os.path.exists(snap_dir):
        merged = merge_snapshot(
            spark.read.parquet(snap_dir), batch_latest, keys, seq_cols
        )
    else:
        merged = batch_latest
    # Tombstones stay IN the stored snapshot (filtered at read): a
    # delete must keep outranking earlier upserts that arrive late in
    # subsequent batches; dropping it here would resurrect the key.
    _swap_in(state_dir, merged, {**meta, "last_batch_id": batch_id}, _SNAP)
    return True
