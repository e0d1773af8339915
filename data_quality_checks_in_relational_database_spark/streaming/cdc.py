"""Streaming CDC apply: maintain a keyed state table from an unbounded
change-data-capture stream (the streaming MERGE INTO shape).

No counterpart in the reference (its sink is a cron-truncated report
table, ``pre_and_post_etl_checks.py:245-247``); this is the
BASELINE.json pipeline extension for keeping a serving/state table in
sync with an operation log.

Semantics per microbatch (``foreachBatch`` +
:func:`~..operators.diff.cdc_compact` over state ∪ batch):

- latest op per key wins, ordered by (ts, seq) — out-of-order and
  cross-batch late arrivals resolve correctly because the comparison
  is against the RETAINED state row, not arrival order;
- deletes become TOMBSTONES kept in state (op column preserved), so a
  late-arriving older upsert cannot resurrect a deleted key;
  :func:`read_state` filters them out for consumers;
- the write is write-then-swap into a versioned subdirectory with the
  epoch id in the name, so a RETRIED microbatch rewrites the same
  version deterministically (at-least-once delivery composes with the
  idempotent merge into effectively exactly-once state).

Scale notes: per batch this rewrites the state table (state ∪ batch →
one keyed window). At warehouse scale the equivalent move is MERGE
INTO a partitioned/bucketed table so only partitions containing batch
keys rewrite — same logical contract, the full-rewrite here keeps the
local implementation storage-format-agnostic. State size is
O(live keys + tombstones); compact tombstones out past the
late-arrival horizon with a periodic filter-rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.streaming.epoch_state import (
    latest_state,
    version_dir as _state_dir,
)


def apply_cdc_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    key_col: str,
    ts_col: str,
    seq_col: str,
) -> None:
    """One microbatch of CDC state maintenance — the ``foreachBatch``
    body, module-level so a retried epoch can be replayed directly in
    tests. Reads the newest committed version STRICTLY OLDER than
    ``epoch_id`` (a retry deterministically rebuilds v<epoch> from
    v<epoch-1> + the batch, never from its own half-committed output),
    merges the batch, keeps latest-op-per-key including tombstones, and
    overwrites ``state_path/v<epoch_id>``."""
    spark = batch_df.sparkSession
    prev = latest_state(spark, state_path, before=int(epoch_id))
    merged = prev.unionByName(batch_df) if prev is not None else batch_df
    # keep tombstones: compact WITHOUT dropping deletes, preserving
    # the op column so later batches still out-order stale upserts
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).desc(), F.col(seq_col).desc()
    )
    state = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    state.write.mode("overwrite").parquet(_state_dir(state_path, epoch_id))


def streaming_cdc_apply(
    ops_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_col: str,
    ts_col: str,
    seq_col: str,
    op_col: str,
    delete_op: str = "delete",
    trigger_available_now: bool = True,
):
    """Start a streaming query maintaining the compacted CDC state at
    ``state_path``. Returns the StreamingQuery handle.

    State versions land in ``state_path/v<epoch>``; the newest
    ``_SUCCESS``-marked version is current (:func:`read_state`).
    """

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_cdc_batch(batch_df, epoch_id, state_path, key_col, ts_col, seq_col)

    writer = (
        ops_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_state(
    spark: SparkSession,
    state_path: str,
    op_col: str,
    delete_op: str = "delete",
) -> DataFrame:
    """Current live state: newest committed version minus tombstones."""
    cur = latest_state(spark, state_path)
    if cur is None:
        raise FileNotFoundError(f"no committed CDC state under {state_path}")
    return cur.filter(F.col(op_col) != delete_op)
