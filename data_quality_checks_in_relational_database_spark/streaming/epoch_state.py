"""Shared epoch-versioned state layout for ``foreachBatch`` sinks.

One implementation of the commit protocol the CDC apply, the streaming
dedup ledger, and the streaming CMS all rely on (previously three
hand-rolled copies — consolidated in r4 before a fourth drifted):

- each microbatch writes its outputs under ``<root>/v<epoch_id>``;
- a version counts as COMMITTED only once its marker file exists —
  parquet's own ``_SUCCESS`` when the version is a single table, an
  explicitly written ``_COMMIT`` (:func:`commit_version`, written
  LAST) when the version holds several tables;
- readers resolve :func:`latest_committed_version` (as a DataFrame:
  :func:`latest_state`), and a retried
  epoch passes ``before=epoch_id`` so it rebuilds ``v<epoch>`` from
  ``v<epoch-1>`` + the batch, NEVER from its own half-committed
  output (the r2→r3 CDC state-loss fix: overwrite-mode lazily
  deleting ``vN`` while the merge plan still reads it could lose the
  state table on a crash between the marker write and the stream's
  checkpoint commit).

At-least-once microbatch delivery composed with this protocol yields
effectively exactly-once state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

COMMIT_MARKER = "_COMMIT"
SUCCESS_MARKER = "_SUCCESS"


def version_dir(root: str, epoch_id: int) -> str:
    return os.path.join(root, f"v{int(epoch_id)}")


def latest_committed_version(
    root: str, before: int | None = None, marker: str = SUCCESS_MARKER
) -> int | None:
    """Newest committed version id under ``root``, optionally strictly
    older than ``before`` (retry safety — see module doc)."""
    try:
        versions = sorted(
            (int(d[1:]) for d in os.listdir(root) if d.startswith("v")),
            reverse=True,
        )
    except FileNotFoundError:
        return None
    for v in versions:
        if before is not None and v >= before:
            continue
        if os.path.exists(os.path.join(version_dir(root, v), marker)):
            return v
    return None


def latest_state(
    spark: SparkSession, root: str, before: int | None = None
) -> DataFrame | None:
    """Newest ``_SUCCESS``-committed single-table version under ``root``
    as a DataFrame (``None`` when there is none); ``before`` is the
    retry-safety bound of :func:`latest_committed_version`."""
    v = latest_committed_version(root, before=before)
    return None if v is None else spark.read.parquet(version_dir(root, v))


def committed_versions(root: str, marker: str = SUCCESS_MARKER) -> list[int]:
    """All committed version ids under ``root``, ascending."""
    try:
        versions = sorted(
            int(d[1:]) for d in os.listdir(root) if d.startswith("v")
        )
    except FileNotFoundError:
        return []
    return [
        v
        for v in versions
        if os.path.exists(os.path.join(version_dir(root, v), marker))
    ]


def commit_version(vdir: str) -> None:
    """Mark a multi-table version directory committed. Must be the
    LAST write of the epoch: a crash before this leaves an uncommitted
    ``vdir`` that the next retry ignores and rewrites."""
    with open(os.path.join(vdir, COMMIT_MARKER), "w") as fh:
        fh.write("ok")
