"""Streaming incremental near-dedup: each ingest microbatch is
MinHash-banded against the PERSISTED corpus ledger, exact-verified,
and the ledger is advanced — the continuous version of the
dump-vs-corpus recipe (``operators.dedup.minhash_pairs_against_ledger``
/ the ``incremental_dedup`` query).

Per microbatch (``foreachBatch`` body, module-level so a retried epoch
replays directly in tests, same as ``streaming/cdc.py``):

1. load the newest COMMITTED ledger version strictly older than this
   epoch (the ``before=epoch`` bound makes at-least-once retries
   rebuild v<epoch> deterministically from v<epoch-1> + the batch —
   never from its own half-committed output);
2. shingle and band the batch ONCE (``operators.dedup._sketch``: both
   pinned, one eager fill), band-join it against itself and against
   that ledger, verify candidates by exact Jaccard, and write the
   batch's duplicate pairs under ``v<epoch>/pairs``;
3. write the advanced ledger — the batch's shingles/bands ∪ the
   previous version's — once per table, straight into
   ``v<epoch>/shingles`` and ``v<epoch>/bands`` (safe: v<epoch> is
   never the version being read), then commit the version with a
   ``_COMMIT`` marker.

Steps 2 and 3 run inside one ``session.CheckpointScope``: the batch's
pins are freed whether the writes succeed or raise.

Cost per batch is O(batch + candidates) for the dedup itself: the
corpus side contributes a parquet scan of its band table keyed on
band_hash (bucket it on that key at warehouse scale) and a shingle
lookup for verified candidates only — the corpus is never re-sketched.
Rewriting the ledger copies the previous version once per table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_quality_checks_in_relational_database_spark.operators import dedup as dd
from data_quality_checks_in_relational_database_spark.session import CheckpointScope
from data_quality_checks_in_relational_database_spark.streaming.epoch_state import (
    COMMIT_MARKER,
    commit_version,
    committed_versions,
    latest_committed_version,
    version_dir as _version_dir,
)


def _latest_version(root: str, before: int | None = None) -> int | None:
    """Newest committed (_COMMIT-marked) ledger version, optionally
    strictly older than ``before`` — commit protocol in
    :mod:`..streaming.epoch_state` (multi-table versions use the
    explicit marker, not parquet's per-table ``_SUCCESS``)."""
    return latest_committed_version(root, before=before, marker=COMMIT_MARKER)


def apply_ingest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    ledger_root: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One microbatch of streaming incremental dedup — see module doc.
    Emits this batch's duplicate pairs (vs the prior corpus AND within
    the batch itself) and advances the ledger, all under one committed
    version directory."""
    spark = batch_df.sparkSession
    prev = _latest_version(ledger_root, before=int(epoch_id))
    vdir = _version_dir(ledger_root, epoch_id)

    with CheckpointScope(spark) as scope:
        sets_, bands = dd._sketch(scope, batch_df, text_col, id_col)
        pairs = dd._band_pairs(
            sets_, bands, sets_, bands, threshold, id_col, "new_id", "corpus_id"
        )
        ledger_sets, ledger_bands = sets_, bands
        if prev is not None:
            prev_sets, prev_bands = dd._read_ledger(spark, _version_dir(ledger_root, prev), id_col)
            cross = dd._band_pairs(
                sets_, bands, prev_sets, prev_bands, threshold, id_col, "new_id", "corpus_id"
            )
            pairs = cross.unionByName(pairs)
            ledger_sets = sets_.unionByName(prev_sets)
            ledger_bands = bands.unionByName(prev_bands)
        pairs.write.mode("overwrite").parquet(os.path.join(vdir, "pairs"))
        dd._write_ledger(ledger_sets, ledger_bands, vdir, id_col)
    # commit marker LAST: a crash before this line leaves an
    # uncommitted vdir that the next retry ignores and rewrites
    commit_version(vdir)


def streaming_ingest_dedup(
    docs_stream: DataFrame,
    ledger_root: str,
    checkpoint_path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Wire :func:`apply_ingest_batch` onto an unbounded document
    stream. Returns the started StreamingQuery."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_ingest_batch(
            batch_df, epoch_id, ledger_root, threshold, text_col, id_col
        )

    return (
        docs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_pairs(spark: SparkSession, ledger_root: str) -> DataFrame:
    """All duplicate pairs emitted so far (union over committed
    versions)."""
    frames = [
        spark.read.parquet(os.path.join(_version_dir(ledger_root, v), "pairs"))
        for v in committed_versions(ledger_root, marker=COMMIT_MARKER)
    ]
    if not frames:
        raise FileNotFoundError(f"no committed versions under {ledger_root}")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
