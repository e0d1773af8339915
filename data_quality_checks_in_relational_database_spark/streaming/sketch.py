"""Streaming count-min sketch maintenance — continuous heavy-hitter
monitoring over an unbounded stream.

The point of a MERGEABLE sketch (``operators/sketch.py``): each
microbatch sketches only its own rows (bounded d×w counters), and
merging into the running sketch is cell-wise addition — O(d·w) per
epoch regardless of stream volume, with no raw-row state anywhere.
Stream ≡ batch by construction (counter addition is associative and
commutative), which the tests pin.

Same epoch-versioned write-then-swap state layout as
``streaming/cdc.py``: a retried microbatch rebuilds its version from
the previous committed one plus the batch, so at-least-once delivery
composes to exactly-once counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.operators.sketch import cms_counters
from data_quality_checks_in_relational_database_spark.streaming.epoch_state import (
    latest_state,
    version_dir as _state_dir,
)


def apply_cms_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 512,
) -> None:
    """One microbatch: sketch the batch, add cell-wise into the newest
    committed sketch STRICTLY OLDER than this epoch (retry-safe, see
    ``streaming/cdc.py``), write ``state_path/v<epoch>``."""
    spark = batch_df.sparkSession
    batch_sketch = cms_counters(batch_df, key_col, depth, width)
    prev = latest_state(spark, state_path, before=int(epoch_id))
    merged = (
        batch_sketch.unionByName(prev) if prev is not None else batch_sketch
    )
    out = merged.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
    out.write.mode("overwrite").parquet(_state_dir(state_path, epoch_id))


def streaming_cms(
    stream_df: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 512,
    trigger_available_now: bool = True,
):
    """Maintain a running CMS at ``state_path`` from a stream. Returns
    the StreamingQuery handle; read the current sketch with
    :func:`read_cms`."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_cms_batch(batch_df, epoch_id, state_path, key_col, depth, width)

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_cms(spark: SparkSession, state_path: str) -> DataFrame:
    """Newest committed sketch: (row, bucket, cnt)."""
    cur = latest_state(spark, state_path)
    if cur is None:
        raise FileNotFoundError(f"no committed CMS state under {state_path}")
    return cur
