"""The four single-fleet check primitives (SURVEY.md §2.8 #1-#4).

Each is a composable DataFrame→DataFrame function, generic over table
and column names. Everything is expressed declaratively so Catalyst
handles pushdown/pruning, and every primitive emits a BOUNDED report
frame (rows ∝ sources × tables or group cardinality, never data size) —
the property that keeps these runnable over 100 TB inputs.

Shuffle budget per primitive:
- volume/freshness: one partial-aggregated global or grouped agg per
  table (map-side combine, tiny shuffle of pre-aggregated rows).
- consistency: one grouped agg + a pivot over an *explicit* value list
  (single shuffle; pivot adds none).
- reconcile: full-outer join of two already-aggregated tiny frames —
  AQE turns it into a broadcast join automatically.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.functions.scalars import (
    date_ordinal,
    round_half_even,
    rowwise_stddev_samp,
)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# 1. Volume / row-count audit (reference DC:48, PP:50; SURVEY A1/A3)
# ---------------------------------------------------------------------------


def volume_audit(
    tables: dict[str, DataFrame],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Per-table (optionally per-group) record counts as one long frame.

    Output: ``[*group_by, table_name, record_count]``.
    One aggregate per table unioned into a single lazy DAG — Spark runs
    all scans in parallel (replaces the reference's serial per-schema
    loop + UNION ALL query, ``pre_and_post_etl_checks.py:45-110``).
    ``COALESCE(COUNT(*),0)`` is a no-op (count never NULL) — count is
    used directly, alias preserved.
    """
    group_by = group_by or []
    parts = []
    for name, df in tables.items():
        agg = df.groupBy(*group_by).agg(F.count(F.lit(1)).alias("record_count")) if group_by else df.agg(
            F.count(F.lit(1)).alias("record_count")
        )
        parts.append(agg.select(*group_by, F.lit(name).alias("table_name"), "record_count"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# 2. Freshness audit (reference DC:43-77; SURVEY A2/P4/F1-F3)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class FreshnessSpec:
    """One table's freshness probe: max(DATE(ts_col)) bounded by now."""

    table_name: str
    df: DataFrame
    ts_col: str


def freshness_audit(
    specs: list[FreshnessSpec],
    with_quarter: bool = True,
) -> DataFrame:
    """Per-table record count + max event date, one row per spec.

    Mirrors the reference's loading-status query
    (``data_consistency_checks.py:43-77``): for each table, global
    ``COUNT(*)`` and ``MAX(DATE(ts))`` with ``ts < NOW()`` (future rows
    excluded), a literal ``table_name`` tag, and ``QUARTER(NOW())-1``
    as ``reporting_quarter`` (0 in Q1, verbatim quirk preserved).
    Column pruning reduces each scan to the single timestamp column.
    """
    parts = []
    for s in specs:
        aggs = [
            F.count(F.lit(1)).alias("record_count"),
            F.max(F.to_date(_col(s.ts_col))).alias("max_date"),
        ]
        agg = s.df.filter(_col(s.ts_col) < F.current_timestamp()).agg(*aggs)
        cols = [F.lit(s.table_name).alias("table_name"), "record_count", "max_date"]
        if with_quarter:
            cols.append((F.quarter(F.current_timestamp()) - 1).alias("reporting_quarter"))
        parts.append(agg.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# 3. Cross-table consistency score (reference DC:124-144; SURVEY A4/A5/F10/F11)
# ---------------------------------------------------------------------------


def consistency_score(
    long_df: DataFrame,
    keys: list[str],
    pivot_col: str,
    date_col: str,
    pivot_values: list[str],
) -> DataFrame:
    """Pivot per-table max dates wide, score divergence by stddev of ordinals.

    Reference semantics (``data_consistency_checks.py:125-141``), pinned:
    - pivot with an EXPLICIT, sorted value list (pandas pivot_table
      emits lexicographic columns; explicit list also keeps the Spark
      plan deterministic and single-pass — no value-discovery job);
    - date → proleptic-Gregorian ordinal (1970-01-01 = 719163);
    - row-wise SAMPLE stddev (ddof=1) skipping NULLs, NULL when <2
      values (pandas ``std(axis=1)`` skipna semantics);
    - half-even rounding (pandas ``round``), i.e. ``bround``.

    Output: ``[*keys, <v>_max_date ..., std_dev]``.
    """
    values = sorted(pivot_values)
    wide = (
        long_df.groupBy(*keys)
        .pivot(pivot_col, values)
        .agg(F.max(_col(date_col)))
    )
    renamed = wide.select(
        *keys, *[F.col(v).alias(f"{v}_max_date") for v in values]
    )
    ordinals = [date_ordinal(f"{v}_max_date") for v in values]
    return renamed.withColumn("std_dev", round_half_even(rowwise_stddev_samp(*ordinals)))


# ---------------------------------------------------------------------------
# 4. Cross-system reconciliation (reference PP:229-243; SURVEY J1/F4)
# ---------------------------------------------------------------------------


def reconcile(
    source: DataFrame,
    destination: DataFrame,
    keys: list[str],
    count_col: str = "record_count",
    suffixes: tuple[str, str] = ("_source", "_ohdl"),
    carry_source_cols: list[str] | None = None,
    stamp_date: bool = False,
) -> DataFrame:
    """Full-outer join source vs destination counts; signed variance.

    ``variance = count_source − count_destination`` with NULL
    propagation where one side is missing (parity with pandas NaN
    arithmetic, ``pre_and_post_etl_checks.py:239``). Both inputs are
    pre-aggregated (bounded) frames, so AQE broadcasts the smaller
    side; at fleet scale the join key (source × table) stays tiny even
    when the scanned data is 100 TB.

    ``carry_source_cols`` are descriptive columns present only on the
    source side (e.g. ``site_name``) carried through the join.
    """
    carry = carry_source_cols or []
    s_cnt, d_cnt = count_col + suffixes[0], count_col + suffixes[1]
    src = source.select(*keys, *carry, _col(count_col).alias(s_cnt))
    dst = destination.select(*keys, _col(count_col).alias(d_cnt))
    joined = src.join(dst, on=keys, how="full_outer")
    out = joined.withColumn("variance", F.col(s_cnt) - F.col(d_cnt))
    if stamp_date:
        out = out.withColumn("date_created", F.current_date())
    order = [*keys, *carry, s_cnt, d_cnt, "variance"] + (["date_created"] if stamp_date else [])
    return out.select(*order)
