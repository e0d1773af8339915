"""Audited report sinks.

The reference writes its DQA report with DROP + replace/append and then
verifies with a post-write ``SELECT COUNT(*)``
(``data_consistency_checks.py:163-168``, ``pre_and_post_etl_checks.py:245-247``).
Write-audit is a first-class DQ primitive here (SURVEY.md §2.1 S9-S11):
write, read back, count, and report expected vs observed.

Report frames are bounded by construction (one row per source × table /
per group), so the sink is never the scale bottleneck; data-scale
outputs (e.g. deduped corpora) go through the same function with
``expected_count=None`` to skip the driver-side expectation.
"""

from __future__ import annotations

from dataclasses import dataclass

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
    fmt: str = "parquet",
    expected_count: int | None = None,
) -> WriteAudit:
    """Write ``df`` to ``path`` and verify by re-counting the sink.

    ``mode='overwrite'`` reproduces DROP + ``if_exists='replace'``
    (``data_consistency_checks.py:163-165``); ``mode='append'`` the
    PP sink (``pre_and_post_etl_checks.py:245-247``). The re-count is a
    fresh scan of the written files, not a cached plan — it audits what
    actually landed.
    """
    df.write.mode(mode).format(fmt).save(path)
    observed = _recount(df, path, fmt)
    return WriteAudit(target=path, mode=mode, rows_written=observed, expected_rows=expected_count)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    fmt: str = "parquet",
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
    the idempotent per-slice refresh a scheduled DQ job needs.
    """
    df.write.mode(mode).format(fmt).partitionBy(*partition_by).save(path)
    observed = _recount(df, path, fmt)
    return WriteAudit(target=path, mode=mode, rows_written=observed, expected_rows=expected_count)


def _recount(df: DataFrame, path: str, fmt: str) -> int:
    """Rows now at ``path``: a fresh scan of the written files, read with
    the written frame's schema so the scan starts no schema-inference
    job of its own."""
    return df.sparkSession.read.schema(df.schema).format(fmt).load(path).count()


def write_table(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    expected_count: int | None = None,
) -> WriteAudit:
    """``saveAsTable`` variant for catalog-managed warehouses."""
    if mode == "overwrite":
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    df.write.mode(mode).saveAsTable(table)
    observed = df.sparkSession.table(table).count()
    return WriteAudit(target=table, mode=mode, rows_written=observed, expected_rows=expected_count)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    fmt: str = "parquet",
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
    semantic contract plus audit).

    Scale: the anti-join shuffles on the merge keys (broadcast when the
    update batch is small — the common CDC case); only changed+kept
    rows rewrite. Partition the target so the rewrite is per-partition
    (pair with write_partitioned) rather than whole-table.
    """
    import os
    import shutil
    import uuid

    updates = updates.persist()
    try:
        if _path_has_data(target_path):
            target = spark.read.format(fmt).load(target_path)
            kept = target.join(updates.select(*keys), keys, "left_anti")
            merged = kept.unionByName(updates)
        else:
            merged = updates
        staging = f"{target_path}__staging_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").format(fmt).save(staging)
        if os.path.exists(target_path):
            shutil.rmtree(target_path)
        os.replace(staging, target_path)
    finally:
        updates.unpersist()
    observed = spark.read.format(fmt).load(target_path).count()
    return WriteAudit(target=target_path, mode="merge", rows_written=observed, expected_rows=None)


def _path_has_data(path: str) -> bool:
    import os

    if not os.path.isdir(path):
        return False
    return any(name.endswith(".parquet") or name.startswith("part-") for name in os.listdir(path))
