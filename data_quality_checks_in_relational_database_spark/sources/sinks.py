"""Audited Parquet report sinks on local paths.

The reference writes its DQA report with DROP + replace/append and then
verifies with a post-write ``SELECT COUNT(*)``
(``data_consistency_checks.py:163-168``, ``pre_and_post_etl_checks.py:245-247``).
Write-audit is a first-class DQ primitive here (SURVEY.md §2.1 S9-S11):
write, then report expected vs observed rows at the target, summed from
the Parquet footers of its data files (no Spark job). Targets are local
paths; a URI such as ``s3a://…`` raises ``ValueError`` before any write.

Report frames are bounded by construction (one row per source × table /
per group), so the sink is never the scale bottleneck; data-scale
outputs (e.g. deduped corpora) go through the same function with
``expected_count=None`` to skip the driver-side expectation.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, replace
from urllib.parse import urlsplit

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class WriteAudit:
    """Outcome of an audited write (reference's printed count, made data)."""

    target: str
    mode: str
    rows_written: int
    expected_rows: int | None

    @property
    def ok(self) -> bool:
        return self.expected_rows is None or self.rows_written == self.expected_rows


def write_report(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    expected_count: int | None = None,
) -> WriteAudit:
    """Write ``df`` to ``path`` and audit the rows now there.

    ``mode='overwrite'`` reproduces DROP + ``if_exists='replace'``
    (``data_consistency_checks.py:163-165``); ``mode='append'`` the
    PP sink (``pre_and_post_etl_checks.py:245-247``), whose audit
    counts the earlier rows too.
    """
    return _write(df, path, mode, [], expected_count)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    expected_count: int | None = None,
) -> WriteAudit:
    """Hive-style partitioned export — the layout that makes downstream
    per-slice reads PARTITION-PRUNED scans (a filter on a partition
    column prunes directories before any file I/O; the plan shows it
    under ``PartitionFilters``). This is the write shape for sharded
    training-data exports (partition by source/lang/date) and for the
    fleet pattern (one directory per site ↔ the reference's
    one-schema-per-facility layout).

    With ``mode='overwrite'`` and
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (session
    default here), only partitions present in ``df`` are replaced —
    the idempotent per-slice refresh a scheduled DQ job needs. The
    audit counts the untouched partitions too.
    """
    return _write(df, path, mode, partition_by, expected_count)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
) -> WriteAudit:
    """Keyed MERGE (upsert) into a parquet target: rows matching on
    ``keys`` are replaced by the update row, unmatched update rows are
    inserted, all other target rows are carried unchanged.

    Plain parquet has no transactional MERGE, so the implementation is
    the classic rewrite: ``kept = target LEFT ANTI updates ON keys``
    then ``kept UNION updates`` written to a staging path and swapped
    in (write-then-swap keeps readers from observing a half-written
    target; on a real deployment the same operator maps 1:1 onto Delta
    Lake / Iceberg ``MERGE INTO``, which replace the rewrite with a
    file-level transaction log — this function is the format-agnostic
    semantic contract plus audit). The old target waits renamed aside as
    ``<target>__prev`` until the staging directory is in; the next call
    restores it if a crash left the target missing, else deletes it. A
    staging directory whose write or move-in fails is removed before the
    error propagates. A target partitioned by ``col=value`` directories
    stays partitioned by the same columns.

    Scale: the anti-join shuffles on the merge keys (broadcast when the
    update batch is small — the common CDC case); only changed+kept
    rows rewrite. Partition the target so the rewrite is per-partition
    (pair with write_partitioned) rather than whole-table.
    """
    prev = f"{target_path}__prev"
    if os.path.isdir(prev) and not os.path.exists(target_path):
        os.replace(prev, target_path)
    shutil.rmtree(prev, ignore_errors=True)
    staging = f"{target_path}__staging_{uuid.uuid4().hex[:8]}"
    updates = updates.persist()
    try:
        merged, partition_by = updates, []
        files = _data_files(target_path)
        if files:
            target = spark.read.parquet(target_path)
            merged = target.join(updates.select(*keys), keys, "left_anti").unionByName(updates)
            rel = os.path.relpath(os.path.dirname(files[0]), target_path)
            partition_by = [d.split("=", 1)[0] for d in rel.split(os.sep) if "=" in d]
        audit = _write(merged, staging, "overwrite", partition_by, None)
        if os.path.exists(target_path):
            os.replace(target_path, prev)
        os.replace(staging, target_path)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    finally:
        updates.unpersist()
    shutil.rmtree(prev, ignore_errors=True)
    return replace(audit, target=target_path, mode="merge")  # a rename keeps the rows


def _write(
    df: DataFrame, path: str, mode: str, partition_by: list[str], expected_count: int | None
) -> WriteAudit:
    """The one Parquet write, audited by the footer row counts of every
    data file now at ``path``."""
    if urlsplit(path).scheme:  # merge_upsert's staging path too
        raise ValueError(f"sinks write local paths only, got {path!r}")
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)
    observed = sum(pq.read_metadata(f).num_rows for f in _data_files(path))
    return WriteAudit(target=path, mode=mode, rows_written=observed, expected_rows=expected_count)


def _data_files(path: str) -> list[str]:
    """Data files under ``path`` by Spark's listing rule
    (``HadoopFSUtils.shouldFilterOutPathName``): skip a name that starts
    with ``.``, or with ``_`` and holds no ``=`` (``_SUCCESS``, ``.crc``),
    so a ``_lang=en`` partition counts, unlike under ``pyarrow.dataset``."""

    def data(name: str) -> bool:
        return not (name.startswith(".") or (name.startswith("_") and "=" not in name))

    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if data(d)]
        files += [os.path.join(root, n) for n in names if data(n)]
    return files
