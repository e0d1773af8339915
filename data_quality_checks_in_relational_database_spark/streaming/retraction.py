"""Streaming retraction-view maintenance: keep a keyed signed-aggregate
view in sync with an unbounded CDC stream whose rows carry a sign
(+1 insert / −1 delete) — the STREAMING twin of
``plans.scale_queries.q_retraction_view``'s Z-set delta merge.

No counterpart in the reference (its sink is a cron-truncated report
table); this is the BASELINE.json pipeline extension for maintaining
aggregate serving tables under deletes, where
:mod:`~..streaming.cdc` maintains ROW state (latest-op-per-key with
tombstones), this maintains AGGREGATE state (sign-weighted counts and
sums) with retraction GC: a group whose maintained count drains to
zero VANISHES from the view instead of lingering as a zero row.

Semantics per microbatch (``foreachBatch``):

- the batch is reduced to a per-key signed delta aggregate
  (``Σ sign``, ``Σ sign·measure`` — map-side combined, exact BIGINTs);
- merged onto the newest committed state STRICTLY OLDER than this
  epoch (the :mod:`..streaming.epoch_state` protocol: a retried epoch
  deterministically rebuilds v<epoch> from v<epoch−1> + the batch,
  never from its own half-committed output);
- groups whose merged multiplicity is EXACTLY zero (``n == 0 AND
  c == 0``) are dropped from the persisted state (GC — a zero-weight
  Z-set element is absent). Groups with NEGATIVE multiplicity (a
  delete arrived before its matching insert, out-of-order CDC across
  microbatches) are RETAINED in the state as pending retractions so a
  later insert nets to zero instead of resurrecting the group; only
  :func:`read_view` applies the serving filter ``n > 0``, matching the
  batch twin's one-shot ``WHERE n > 0`` over the whole delta.

Scale notes: per batch this rewrites the state table (state ∪ Δagg →
one keyed sum). The state is O(live groups) — for an aggregate view
that is the GROUP space, usually orders of magnitude below row count;
at warehouse scale the rewrite becomes MERGE INTO a partitioned
aggregate table touching only partitions with batch keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.streaming.epoch_state import (
    latest_state,
    version_dir as _state_dir,
)


def signed_delta(
    batch_df: DataFrame,
    key_cols: Sequence[str],
    sign_col: str,
    measure_col: str,
) -> DataFrame:
    """Per-key signed aggregate of one CDC batch: (keys…, n, c) with
    ``n = Σ sign`` and ``c = Σ sign·measure`` — exact integers, so the
    merge is associative under any partitioning."""
    return batch_df.groupBy(*key_cols).agg(
        F.sum(F.col(sign_col)).cast("long").alias("n"),
        F.sum(F.col(sign_col) * F.col(measure_col)).cast("long").alias("c"),
    )


def apply_retraction_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    key_cols: Sequence[str],
    sign_col: str,
    measure_col: str,
) -> None:
    """One microbatch of signed-aggregate view maintenance — the
    ``foreachBatch`` body, module-level so a retried epoch can be
    replayed directly in tests."""
    spark = batch_df.sparkSession
    delta = signed_delta(batch_df, key_cols, sign_col, measure_col)
    prev = latest_state(spark, state_path, before=int(epoch_id))
    merged = prev.unionByName(delta) if prev is not None else delta
    state = (
        merged.groupBy(*key_cols)
        .agg(F.sum("n").cast("long").alias("n"), F.sum("c").cast("long").alias("c"))
        # GC only exact-zero groups; NEGATIVE multiplicities stay in the
        # state (pending retractions for out-of-order CDC) so an insert
        # arriving in a later epoch nets to zero instead of resurrecting
        # a group whose true Z-set weight is zero. Serving filter n > 0
        # lives in read_view only.
        .where((F.col("n") != 0) | (F.col("c") != 0))
    )
    state.write.mode("overwrite").parquet(_state_dir(state_path, epoch_id))


def streaming_retraction_view(
    cdc_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    sign_col: str,
    measure_col: str,
    trigger_available_now: bool = True,
):
    """Start a streaming query maintaining the signed aggregate view at
    ``state_path``; returns the StreamingQuery handle. The newest
    ``_SUCCESS``-marked ``v<epoch>`` directory is the current view
    (:func:`read_view`)."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_retraction_batch(
            batch_df, epoch_id, state_path, key_cols, sign_col, measure_col
        )

    writer = (
        cdc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_view(spark: SparkSession, state_path: str) -> DataFrame:
    """Current maintained view (newest committed version), serving only
    groups with positive multiplicity — pending retractions (negative
    ``n``) live in the state but never in the served view, matching the
    batch twin's ``WHERE n > 0``."""
    cur = latest_state(spark, state_path)
    if cur is None:
        raise FileNotFoundError(f"no committed retraction view under {state_path}")
    return cur.where(F.col("n") > 0)
